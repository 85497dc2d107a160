"""A/A steadiness check: run the benchmark command from BENCHMARK.json
in two (or more) sets of seeded runs of the same code, then print each
end-to-end metric's median and quartiles per set.

    python3 perfbench/aa.py --workload dedup_skewed --seeds 1-10 --sets 2

Runs alternate between sets seed by seed, one process at a time; each
is printed with its raw samples (its last stderr summary line). A
metric is flagged when its spread (interquartile range over median)
within a set exceeds its bound (``setup_s`` excepted), or when a later
set's median differs from the first set's, in either direction, by more
than the bound: the sets run the same code, so a set that reads better
is as much noise as one that reads worse. Exit code 1 when anything is
flagged; otherwise every metric's sets agreed within its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, pin: bool) -> tuple:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ] + (["--pin"] if pin else [])
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench]")]
    return json.loads(lines[-1]), wall, notes[-1] if notes else ""


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--pin", action="store_true",
                    help="record each unpinned seed's counts in perfbench/expected.json")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    values = [{name: [] for name in metrics} for _ in range(args.sets)]
    walls = []
    for seed in parse_seeds(args.seeds):
        for k in range(args.sets):
            result, wall, note = run_once(bench, args.workload, seed, args.pin)
            walls.append(wall)
            print(f"set {k} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} process {wall:.1f}s "
                  + " ".join(f"{n}={m['value']:.4g}" for n, m in result["metrics"].items())
                  + f"\n    {note}", flush=True)
            for name in metrics:
                values[k][name].append(result["metrics"][name]["value"])
    flagged = False
    print(f"\n{args.workload}: {len(walls)} processes, median {statistics.median(walls):.1f}s each")
    print(f"{'metric':<15}{'set':>4}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}"
          f"{'vs set 0':>9}{'bound':>7}  flag")
    for name, m in metrics.items():
        first = None
        for k in range(args.sets):
            med, q1, q3, sp = spread(values[k][name])
            flags = []
            if name != "setup_s" and sp > m["bound"]:
                flags.append("spread")
            if first is None:
                first, diff = med, 0.0
            else:
                diff = abs(med - first) / first if first else float("inf")
                if diff > m["bound"]:
                    flags.append("median")
            over_third = name != "setup_s" and sp > m["bound"] / 3
            flagged |= bool(flags)
            print(f"{name:<15}{k:>4}{med:>14.5g}{q1:>14.5g}{q3:>14.5g}{sp:>9.3f}{diff:>9.3f}"
                  f"{m['bound']:>7}  " + ",".join(flags + (["over-third"] if over_third else [])))
    print("flagged: see the flag column" if flagged
          else f"every metric within its bound across {args.sets} set(s)")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
