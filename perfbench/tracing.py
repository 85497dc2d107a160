"""Spans for the traced run.

A span is recorded around each call into an engine layer: name, start,
end, parent span and run id, plus the work counts of that layer. The
engine is not edited; for the traced run the benchmark swaps each
layer's public function (in every module that imported it) for a
wrapper that opens a span, calls the original, and materializes the
result with ``localCheckpoint`` so the layer's jobs run inside its own
span and the next layer starts from materialized input.

Every Spark job started inside a span carries the span's label as its
job description; the Spark event log then gives each span's task CPU,
GC, shuffle bytes and task skew (:func:`spark_metrics`).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from pathlib import Path
from unittest import mock

# (layer, [(module, attribute), ...]) — every place the benchmark's runs
# reach the layer's public function
LAYERS = [
    ("keyed_side", [("datamatch_spark.pairing", "keyed_side"),
                    ("datamatch_spark.grouped", "keyed_side")]),
    ("candidate_pairs", [("datamatch_spark.matchers", "candidate_pairs")]),
    ("grouped_scored_pairs", [("datamatch_spark.grouped", "grouped_scored_pairs")]),
    ("greedy_one_to_one", [("datamatch_spark.matchers", "greedy_one_to_one")]),
    ("connected_components", [("datamatch_spark.matchers", "connected_components"),
                              ("datamatch_spark.clustering", "connected_components")]),
    ("split_clique_members", [("datamatch_spark.matchers", "split_clique_members"),
                              ("datamatch_spark.clustering", "split_clique_members")]),
    # the signature + band-hash stage inside minhash_lsh_pairs (the
    # work of minhash_signatures plus band hashing)
    ("minhash_signatures", [("datamatch_spark.extras.dedup", "_minhash_info")]),
    ("minhash_lsh_pairs", [("datamatch_spark.extras.dedup", "minhash_lsh_pairs")]),
    ("groups_from_pairs", [("datamatch_spark.clustering", "groups_from_pairs")]),
]
# spans the benchmark opens itself (no wrapped function): the matcher's
# construction, the user-level calls after it, and the CC route probe
OWN_SPANS = ["scored_pairs", "cluster_assignments", "links", "connected_components_distributed"]
SPARK_COLUMNS = ["wall_s", "self_s", "task_s", "task_cpu_s", "gc_s",
                 "shuffle_write_bytes", "task_skew"]
# work counts layer_counts() reports per layer
LAYER_COUNTS = {
    "keyed_side": ["rows", "blocks", "max_block_rows"],
    "candidate_pairs": ["pairs", "keep_ratio"],
    "grouped_scored_pairs": ["pairs"],
    "scored_pairs": ["pairs", "refused"],
    "greedy_one_to_one": ["in", "kept_ratio"],
    "connected_components": ["edges", "nodes", "distributed"],
    "connected_components_distributed": ["edges", "nodes"],
    "split_clique_members": ["clusters", "max_component"],
    "minhash_signatures": ["docs"],
    "minhash_lsh_pairs": ["pairs"],
    "groups_from_pairs": ["docs"],
}
LABEL = "perfbench"


def per_layer_units() -> dict:
    """Every per-layer metric the traced run prints, with its unit."""
    col_unit = {"shuffle_write_bytes": "B", "task_skew": "ratio"}
    units = {}
    for layer in [name for name, _ in LAYERS] + OWN_SPANS:
        for col in SPARK_COLUMNS:
            units[f"{layer}.{col}"] = col_unit.get(col, "s")
    for layer, keys in LAYER_COUNTS.items():
        for key in keys:
            units[f"{layer}.{key}"] = "ratio" if key.endswith("ratio") else "count"
    units.update({
        "kernel_jw.pairs_per_s": "1/s", "kernel_date.pairs_per_s": "1/s",
        "trace.run_s_untraced": "s", "trace.run_s_traced": "s",
        "trace.overhead_s": "s", "trace.layer_sum_ratio": "ratio",
        "trace.calibration_s": "s", "trace.cold_start_s": "s",
    })
    return units


class Tracer:
    """In-memory span recorder for one traced run."""

    def __init__(self, spark, run_id: int) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def label(self, span) -> str:
        return f"{LABEL}:{self.run_id}:{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None,
            "args": (), "kwargs": {}, "out": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(self.label(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self.label(parent) if parent else None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
                rec["args"], rec["kwargs"], rec["out"] = args, kwargs, out
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def installed(self, only=None):
        """Swap every layer function (or those of the layers named in
        ``only``) for its traced wrapper."""
        import importlib

        with contextlib.ExitStack() as stack:
            for name, targets in LAYERS:
                if only is not None and name not in only:
                    continue
                for mod_name, attr in targets:
                    mod = importlib.import_module(mod_name)
                    stack.enter_context(
                        mock.patch.object(mod, attr, self.wrap(name, getattr(mod, attr)))
                    )
            yield


def self_times(spans: list) -> None:
    """``self_s`` = wall minus the part of it the span's children cover.
    A span that recomputes an upstream layer has no child for that work,
    so its self time stays inclusive of it."""
    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
    for s in spans:
        kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == s["id"])
        covered, reach = 0.0, s["start"]
        for a, b in kids:
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        s["self_s"] = s["wall_s"] - covered


def read_event_log(events_dir: Path) -> dict:
    """label -> list of per-stage task lists from a finished event log.
    Each task is (duration_s, run_s, cpu_s, gc_s, shuffle_write_bytes)."""
    stage_label: dict = {}
    tasks: dict = {}
    for path in sorted(events_dir.iterdir()):
        if path.name.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc and desc.startswith(LABEL + ":"):
                        info = ev["Stage Info"]
                        stage_label[(info["Stage ID"], info["Stage Attempt ID"])] = desc
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(key, []).append((
                        (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        m.get("Executor Run Time", 0) / 1e3,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1e3,
                        sw.get("Shuffle Bytes Written", 0),
                    ))
    by_label: dict = {}
    for key, desc in stage_label.items():
        if tasks.get(key):
            by_label.setdefault(desc, []).append(tasks[key])
    return by_label


def spark_metrics(stages: list) -> dict:
    """Task totals of a span's own jobs; ``task_skew`` is max / median
    task time of its heaviest stage."""
    flat = [t for st in stages for t in st]
    out = {
        "task_s": sum(t[1] for t in flat),
        "task_cpu_s": sum(t[2] for t in flat),
        "gc_s": sum(t[3] for t in flat),
        "shuffle_write_bytes": float(sum(t[4] for t in flat)),
        "task_skew": 0.0,
    }
    if stages:
        heavy = max(stages, key=lambda st: sum(t[1] for t in st))
        durations = [t[0] for t in heavy]
        med = statistics.median(durations)
        out["task_skew"] = max(durations) / med if med > 0 else 1.0
    return out


def layer_counts(spans: list, filters: list) -> dict:
    """Work counts per layer, read from the materialized span outputs
    after the run (outside every span, so they cost no span time)."""
    import inspect

    from pyspark.sql import functions as F

    from datamatch_spark import clustering
    from datamatch_spark.indices import BLOCK_KEY

    cc_default = inspect.signature(
        clustering.connected_components
    ).parameters["driver_threshold"].default
    c: dict = {}

    def add(layer, key, value, agg=sum):
        d = c.setdefault(layer, {})
        d[key] = agg([d[key], value]) if key in d else value

    for s in spans:
        name, out, args = s["name"], s["out"], s["args"]
        if name == "keyed_side":
            row = out.groupBy(BLOCK_KEY).count().agg(
                F.sum("count"), F.count(F.lit(1)), F.max("count")
            ).first()
            add(name, "rows", row[0] or 0)
            add(name, "blocks", row[1] or 0)
            add(name, "max_block_rows", row[2] or 0, max)
        elif name == "grouped_scored_pairs":
            add(name, "pairs", out.count())
            add("scored_pairs", "refused", out.where(F.col("sim_score").isNull()).count())
        elif name == "candidate_pairs":
            n = out.count()
            kept = out
            for flt in filters:
                kept = kept.where(flt.predicate("a", "b", out.schema["a"].dataType))
            add(name, "pairs", n)
            add(name, "kept", kept.count())
        elif name == "greedy_one_to_one":
            add(name, "in", args[0].count())
            add(name, "kept", out.count())
        elif name == "connected_components":
            edges = args[0].count()
            add(name, "edges", edges)
            add(name, "nodes", out.count())
            thr = s["kwargs"].get("driver_threshold", cc_default)
            add(name, "distributed", int(edges > thr), max)
        elif name == "connected_components_distributed":
            add(name, "edges", args[0].count())
            add(name, "nodes", out.count())
        elif name == "split_clique_members":
            comp = F.split(F.col("cluster_id"), r"\|").getItem(0)
            add(name, "clusters", out.select("cluster_id").distinct().count())
            add(name, "max_component",
                out.groupBy(comp).count().agg(F.max("count")).first()[0] or 0, max)
        elif name in ("minhash_signatures", "groups_from_pairs"):
            add(name, "docs", out.count())
        elif name == "minhash_lsh_pairs":
            add(name, "pairs", out.count())
    filtered = 0
    if "candidate_pairs" in c:
        cp = c["candidate_pairs"]
        filtered = cp.pop("kept")
        cp["keep_ratio"] = filtered / cp["pairs"] if cp["pairs"] else 0.0
    if "greedy_one_to_one" in c:
        # the pairs reaching the 1:1 prune are the non-NULL scored pairs
        g = c["greedy_one_to_one"]
        c["scored_pairs"] = {"pairs": g["in"], "refused": max(0, filtered - g["in"])}
        g["kept_ratio"] = g.pop("kept") / g["in"] if g["in"] else 0.0
    elif "grouped_scored_pairs" in c:
        scored = c["scored_pairs"]
        scored["pairs"] = c["grouped_scored_pairs"]["pairs"] - scored["refused"]
    return c


def distributed_cc_probe(tracer) -> bool:
    """Re-run the traced run's connected_components input through the
    distributed star-round route (``driver_threshold=0``) as its own
    root span; True when it finds the same components as the driver
    route did."""
    from datamatch_spark import clustering

    cc = next(s for s in tracer.spans if s["name"] == "connected_components")
    edges = cc["args"][0]
    with tracer.span("connected_components_distributed") as rec:
        out = clustering.connected_components(edges, driver_threshold=0)
        out = out.localCheckpoint(eager=True)
        rec["args"], rec["kwargs"], rec["out"] = (edges,), {"driver_threshold": 0}, out

    def canon(df):
        return df.toPandas().sort_values("node").reset_index(drop=True)

    return canon(out).equals(canon(cc["out"]))


def summarize(tracer, counts: dict, by_label: dict) -> dict:
    """One traced run's per-layer numbers: Spark columns summed over a
    layer's spans (``task_skew``: the worst span), its work counts,
    the root wall and the sum of the root's direct children."""
    out: dict = {}
    root = tracer.spans[0]
    for s in tracer.spans[1:]:
        s.update(spark_metrics(by_label.get(tracer.label(s), [])))
        for col in SPARK_COLUMNS:
            key = f"{s['name']}.{col}"
            merge = max if col == "task_skew" else (lambda a, b: a + b)
            out[key] = merge(out[key], s[col]) if key in out else s[col]
    for layer, cs in counts.items():
        for key, v in cs.items():
            out[f"{layer}.{key}"] = v
    out["trace.run_s_traced"] = root["wall_s"]
    out["trace.chain_s"] = sum(s["wall_s"] for s in tracer.spans if s["parent"] == root["id"])
    return out
