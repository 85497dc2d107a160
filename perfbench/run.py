"""Closed-loop linkage benchmark: one client, one run at a time, in one
driver process on ``local[min(4, cores)]``.

    python3 perfbench/run.py --workload dedup_skewed --seed 1 --seconds 4 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (see README.md). The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SETUP_REPS = 3
MIN_RUNS = 2
# a single run slower than this counts as failed (timed out)
RUN_TIMEOUT_S = 60.0
# stop starting runs once this much of the process budget is used
BUDGET_S = 140.0
EXPECTED = HERE / "expected.json"
OUT_DIR = ROOT / ".perfbench_out"

END_TO_END = {
    "run_s": "s", "records_per_s": "1/s", "pairs_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB", "f1": "ratio", "ok_frac": "ratio",
}


F1_FLOOR = {"dedup_skewed": 0.97, "link_filtered": 0.6, "near_dup_text": 0.97}


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


class Session:
    """The Spark session, its materialized input tables and the checks
    every run's output must pass."""

    def __init__(self, wl, seed: int, run_dir, event_log: bool) -> None:
        self.wl, self.seed, self.run_dir, self.event_log = wl, seed, run_dir, event_log
        self.spark = None
        pinned = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
        self.expected = pinned.get(wl.name, {}).get(str(seed))
        self.reference = None  # counts every run must reproduce
        self.attempted = self.failed = 0
        self.last_output = None

    def setup(self) -> float:
        """Input generation + load + one warm-up pass. The first call
        also starts the session and the JVM, timed apart as
        ``cold_start_s``; session starts are sampled by
        :meth:`session_starts`."""
        if self.spark is None:
            t0 = time.perf_counter()
            self.spark = harness.start_session(self.run_dir, self.event_log)
            self.spark.range(1).count()
            self.cold_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.inputs = self.wl.generate(self.seed)
        self.frames = {
            k: self.spark.createDataFrame(v).localCheckpoint(eager=True)
            for k, v in self.inputs.frames.items()
        }
        self.keep = harness.persistent_rdd_ids(self.spark)
        self.attempt()
        return time.perf_counter() - t0

    def session_starts(self, n: int) -> list:
        """Walls of ``n`` session starts in the running JVM (each one
        stops the session before it); ends the runs of this session."""
        walls = []
        for _ in range(n):
            self.spark, wall = harness.session_start_s(self.spark, self.run_dir, self.event_log)
            walls.append(wall)
        return walls

    def stop(self) -> None:
        if self.spark is not None:
            harness.stop_session(self.spark)
            self.spark = None

    def attempt(self, tracer=None):
        """One user-level run; returns its wall time, or None when it
        raised, timed out or produced other counts than the reference."""
        harness.clear_cached_rdds(self.spark, self.keep)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.wl.run(self.spark, self.frames, tracer or workloads.NULL_TRACER)
        except Exception:  # one bad run is counted, never fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        problem = self.check(out.counts)
        if wall > RUN_TIMEOUT_S:
            problem = f"timed out ({wall:.1f}s > {RUN_TIMEOUT_S}s)"
        if problem:
            log(f"run {self.attempted} failed: {problem}")
            self.failed += 1
            return None
        self.last_output = out
        return wall

    def check(self, counts: dict) -> str | None:
        for key, want in self.inputs.oracle.items():
            if counts.get(key) != want:
                return f"{key}={counts.get(key)} but the inputs imply {want}"
        ref = self.expected or self.reference
        if ref is None:
            self.reference = dict(counts)
            return None
        if counts != ref:
            return f"counts {counts} != {'pinned' if self.expected else 'first run'} {ref}"
        return None

    def f1(self) -> float:
        if self.last_output is None:
            return 0.0
        return workloads.f1(self.wl.predicted_pairs(self.last_output), self.inputs.gold)


def timed_runs(sess: Session, seconds: float, deadline: float) -> list:
    """(wall, calibration before, calibration after, peak RSS bytes) of
    each run that passed, over at least ``seconds`` and at least
    MIN_RUNS attempts; the calibration job runs before every run and
    after the last."""

    def calibrate() -> float:
        harness.clear_cached_rdds(sess.spark, sess.keep)
        return harness.calibration_s(sess.spark)

    out, tries = [], 0
    before = calibrate()
    t_end = time.monotonic() + seconds
    while (time.monotonic() < t_end or tries < MIN_RUNS) and time.monotonic() < deadline:
        tries += 1
        with harness.RssSampler() as rss:
            wall = sess.attempt()
        after = calibrate()
        if wall is not None:
            out.append((wall, before, after, rss.peak))
        before = after
    return out


def untraced(sess: Session, args, deadline: float) -> dict:
    preps = [sess.setup() for _ in range(SETUP_REPS)]
    for _ in range(2):  # warm-up of the calibration job
        harness.calibration_s(sess.spark)
    timed = timed_runs(sess, args.seconds, deadline)
    starts = sess.session_starts(SETUP_REPS)
    # each run scaled by the mean of the calibrations on either side
    scales = [2 * harness.CALIBRATION_REF_S / (c0 + c1) for _, c0, c1, _ in timed]
    log(f"{sess.wl.name} seed {args.seed}: run walls {[round(t[0], 3) for t in timed]}; "
        f"host-speed scales {[round(x, 3) for x in scales]}; input set-up walls "
        f"{[round(s, 3) for s in preps]}; session start walls {[round(s, 3) for s in starts]} "
        f"(first, with the JVM: {sess.cold_start_s:.3f}); counts {sess.reference or sess.expected}")
    if not timed:
        return {}
    run_s = statistics.median(t[0] * x for t, x in zip(timed, scales))
    scale = statistics.median(scales)
    return {
        "run_s": run_s,
        "records_per_s": sess.inputs.records / run_s,
        "pairs_per_s": sess.last_output.pairs / run_s,
        "setup_s": (statistics.median(starts) + statistics.median(preps)) * scale,
        "peak_rss_mb": statistics.median(t[3] for t in timed) / 2**20,
        "f1": sess.f1(),
        "ok_frac": (sess.attempted - sess.failed) / sess.attempted,
    }


def kernel_rates(sample, min_s: float = 0.3) -> dict:
    """In-driver similarity kernel throughput on a fixed pair sample:
    numpy compute only, no Arrow or JVM boundary."""
    from datamatch_spark import DateSimilarity, JaroWinklerSimilarity

    if sample is None:
        return {}
    out = {}
    for name, sim, a, b in [
        ("kernel_jw", JaroWinklerSimilarity(), sample["last_a"], sample["last_b"]),
        ("kernel_date", DateSimilarity(), sample["dob_a"], sample["dob_b"]),
    ]:
        sim.batch(a, b)  # warm-up
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < min_s:
            sim.batch(a, b)
            n += len(a)
        out[f"{name}.pairs_per_s"] = n / (time.perf_counter() - t0)
    return out


class TextProbe:
    """The near-dup text pipeline (``workloads.TEXT_PROBE``), run after
    each traced run with only its own layers traced. Its output must
    repeat the warm-up's counts and clear the F1 floor."""

    def __init__(self, sess: Session) -> None:
        self.sess, self.wl = sess, workloads.TEXT_PROBE
        self.inputs = self.wl.generate(sess.seed)
        self.frames = {
            k: sess.spark.createDataFrame(v).localCheckpoint(eager=True)
            for k, v in self.inputs.frames.items()
        }
        sess.keep = harness.persistent_rdd_ids(sess.spark)
        self.reference = None
        self.run()  # warm-up

    def run(self, run_id=None):
        """One probe run; its tracer when it passed, else None."""
        sess = self.sess
        harness.clear_cached_rdds(sess.spark, sess.keep)
        tracer = tracing.Tracer(sess.spark, run_id) if run_id is not None else None
        sess.attempted += 1
        try:
            with contextlib.ExitStack() as stack:
                if tracer is not None:
                    stack.enter_context(tracer.installed(workloads.TEXT_LAYERS))
                    stack.enter_context(tracer.span(self.wl.name))
                out = self.wl.run(sess.spark, self.frames, tracer or workloads.NULL_TRACER)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            sess.failed += 1
            return None
        f1 = workloads.f1(self.wl.predicted_pairs(out), self.inputs.gold)
        self.reference = self.reference or out.counts
        if out.counts != self.reference or f1 < F1_FLOOR[self.wl.name]:
            log(f"{self.wl.name} probe failed: counts {out.counts}, f1 {f1:.4f}")
            sess.failed += 1
            return None
        return tracer


def traced(sess: Session, args, deadline: float) -> dict:
    """After one set-up, untraced and traced runs alternate; per-layer
    numbers are medians over the traced runs, and the tracing overhead
    compares them with the untraced ones."""
    sess.setup()
    probe = TextProbe(sess) if sess.wl.text_probe else None
    cals = [harness.calibration_s(sess.spark) for _ in range(3)][1:]  # first: warm-up
    base, runs, probes, tries = [], [], [], 0
    t_end = time.monotonic() + args.seconds
    while (time.monotonic() < t_end or tries < MIN_RUNS) and time.monotonic() < deadline:
        wall = sess.attempt()
        if wall is not None:
            base.append(wall)
        tracer = tracing.Tracer(sess.spark, tries)
        tries += 1
        with tracer.installed(), tracer.span("run"):
            ok = sess.attempt(tracer) is not None
        if ok and sess.wl.cc_probe and not tracing.distributed_cc_probe(tracer):
            log("distributed connected_components disagrees with the driver route")
            sess.failed += 1
            ok = False
        if ok:
            tracing.self_times(tracer.spans)
            counts = tracing.layer_counts(tracer.spans, sess.wl.filters())
            runs.append((tracer, counts))
        if probe is not None:
            ptracer = probe.run(f"text{tries}")
            if ptracer is not None:
                tracing.self_times(ptracer.spans)
                probes.append((ptracer, tracing.layer_counts(ptracer.spans, [])))
        harness.clear_cached_rdds(sess.spark, sess.keep)
    kernels = kernel_rates(sess.inputs.sample)
    sess.stop()  # flushes the event log
    by_label = tracing.read_event_log(sess.run_dir.events)

    samples: dict = {}
    dump = []
    for tracer, counts in runs + probes:
        for name, v in tracing.summarize(tracer, counts, by_label).items():
            if tracer.spans[0]["name"] == "run" or not name.startswith("trace."):
                samples.setdefault(name, []).append(v)
        dump.extend({k: v for k, v in s.items() if k not in ("args", "kwargs", "out")}
                    for s in tracer.spans)
    metrics = {name: 0.0 for name in tracing.per_layer_units()}
    for name, vals in samples.items():
        if name in metrics:
            metrics[name] = float(statistics.median(vals))
    metrics.update(kernels)
    metrics["trace.calibration_s"] = statistics.median(cals)
    metrics["trace.cold_start_s"] = sess.cold_start_s
    if base and runs:
        untraced_s = statistics.median(base)
        metrics["trace.run_s_untraced"] = untraced_s
        metrics["trace.overhead_s"] = metrics["trace.run_s_traced"] - untraced_s
        metrics["trace.layer_sum_ratio"] = statistics.median(samples["trace.chain_s"]) / untraced_s
    OUT_DIR.mkdir(exist_ok=True)
    spans_path = OUT_DIR / f"spans-{sess.wl.name}-seed{args.seed}.json"
    spans_path.write_text(json.dumps({"workload": sess.wl.name, "seed": args.seed,
                                      "spans": dump}, indent=1, default=str))
    ratio = metrics["trace.layer_sum_ratio"]
    log(f"{sess.wl.name}: {len(runs)} traced runs, spans in {spans_path}; layer walls / "
        f"untraced run_s = {ratio:.3f}{'' if 0.9 <= ratio <= 1.1 else ' (outside 10%)'}")
    return metrics if runs else {}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's counts in expected.json if absent")
    args = ap.parse_args(argv)
    if not (ROOT / "datamatch_spark" / "__init__.py").is_file():
        log(f"no datamatch_spark package under {ROOT}; run from a full checkout")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    deadline = time.monotonic() + BUDGET_S
    run_dir = harness.RunDir()
    harness.prepare_env(run_dir)
    sess = Session(workloads.WORKLOADS[args.workload], args.seed, run_dir, event_log=bool(args.trace))
    try:
        metrics = (traced if args.trace else untraced)(sess, args, deadline)
        f1 = sess.f1()
    finally:
        sess.stop()
        run_dir.close()
    if not metrics:
        log("no run succeeded")
        return 1
    units = tracing.per_layer_units() if args.trace else END_TO_END
    correct = sess.failed == 0 and f1 >= F1_FLOOR[args.workload]
    if args.pin and correct and sess.expected is None:
        pinned = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
        pinned.setdefault(args.workload, {})[str(args.seed)] = sess.reference
        EXPECTED.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": sess.attempted,
        "failed": sess.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
