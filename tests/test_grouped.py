"""Grouped (block-local) scoring path: bit-identical parity with the
join path, plan shape, and eligibility routing."""

import math

import pytest
from pyspark.sql import functions as F

from datamatch_spark import (
    AbsoluteNumericalSimilarity,
    ColumnsIndex,
    DateSimilarity,
    JaroWinklerSimilarity,
    NoopIndex,
    StringSimilarity,
    Swap,
    ThresholdMatcher,
)
from datamatch_spark.pairing import PairingConfig


def _fixture(spark, n=400, hot=120):
    """hot block 'h' with `hot` rows + many small blocks, with NULLs
    and ties sprinkled in."""
    rows = []
    names = ["smith", "smyth", "jones", "joan", "mueller", None]
    firsts = ["anna", "ann", "bob", None, "carol"]
    for i in range(n):
        blk = "h" if i < hot else f"c{i % 29}"
        rows.append(
            (i, blk, names[i % len(names)], firsts[i % len(firsts)],
             float(i % 7) if i % 11 else None)
        )
    return spark.createDataFrame(
        rows, "row_key long, blk string, last string, first string, amt double"
    )


SIMS = {
    "last": JaroWinklerSimilarity(),
    "first": StringSimilarity(),
    "amt": AbsoluteNumericalSimilarity(d_max=3.0),
}


def _scored(spark, df, **cfg_kw):
    cfg = PairingConfig(salt_threshold=50, rows_per_shard=20, **cfg_kw)
    m = ThresholdMatcher(
        ColumnsIndex("blk"), SIMS, df, row_key="row_key",
        validate=False, pairing_config=cfg, defer=True,
    )
    return m._build_scored()


def test_grouped_matches_join_path_bit_identical(spark):
    df = _fixture(spark)
    got = {
        (r["idx_a"], r["idx_b"]): r["sim_score"]
        for r in _scored(spark, df).collect()
    }
    want = {
        (r["idx_a"], r["idx_b"]): r["sim_score"]
        for r in _scored(spark, df, grouped_scoring=False).collect()
    }
    assert set(got) == set(want)
    assert len(got) > 1000  # the hot block actually produced pairs
    for k, v in want.items():
        g = got[k]
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (k, g, v)


def test_grouped_unsalted_parity(spark):
    df = _fixture(spark, n=120, hot=0)
    got = {
        (r["idx_a"], r["idx_b"]): r["sim_score"]
        for r in _scored(spark, df, salt_enabled=False).collect()
    }
    want = {
        (r["idx_a"], r["idx_b"]): r["sim_score"]
        for r in _scored(
            spark, df, salt_enabled=False, grouped_scoring=False
        ).collect()
    }
    assert got == want and got


def test_grouped_plan_has_no_pair_join(spark):
    """The grouped plan must score inside FlatMapGroupsInPandas and
    never materialize pair rows JVM-side. The one join allowed is the
    block-counts skew join (rows × (key, n)); the pair joins of the
    join path are recognizable by their aliased outputs (`AS idx_a`)
    and salt-shard columns (`__tgt`)."""
    df = _fixture(spark)
    plan = _scored(spark, df)._jdf.queryExecution().executedPlan().toString()
    # r6: the runtime grouped path scores in a merged MapInPandas over
    # key-sorted partitions (many groups per kernel call); the bucketed
    # dedup path still uses FlatMapGroupsInPandas
    assert "MapInPandas" in plan
    assert "AS idx_a" not in plan, plan
    assert "__tgt" not in plan, plan


def test_ineligible_shapes_keep_join_path(spark):
    df = _fixture(spark, n=60, hot=0)
    # a FLOAT swap column is not group-scorable (NULL-vs-NaN gate needs
    # the JVM eqNullSafe; Arrow->pandas folds float NULL into NaN)
    m = ThresholdMatcher(
        ColumnsIndex("blk"), SIMS, df, row_key="row_key", validate=False,
        variator=Swap("amt", "first"), defer=True,
    )
    plan = m._build_scored()._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "score_partition" not in plan

    # flag off forces the join path
    plan_off = _scored(
        spark, df, grouped_scoring=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan_off and "score_partition" not in plan_off


def test_grouped_swap_parity_bit_identical(spark):
    """Swap over non-float columns routes to the grouped path and must
    be bit-identical to the join path's fused max-over-variants —
    including swapped UNSCORED columns flipping the gate, both-missing
    pairs not swapping, and the hot-block grid cells."""
    df = _fixture(spark)

    def run(grouped):
        cfg = PairingConfig(
            salt_threshold=50, rows_per_shard=20, grouped_scoring=grouped
        )
        m = ThresholdMatcher(
            ColumnsIndex("blk"), SIMS, df, row_key="row_key", validate=False,
            variator=Swap("first", "last"), pairing_config=cfg, defer=True,
        )
        plan = m._build_scored()._jdf.queryExecution().executedPlan().toString()
        # r6: the runtime grouped path is the merged MapInPandas scorer
        assert ("score_partition" in plan) == grouped
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    got, want = run(True), run(False)
    assert set(got) == set(want) and len(got) > 1000
    for k, v in want.items():
        g = got[k]
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (k, g, v)


def test_grouped_e2e_reference_golden(spark):
    """The reference dedup fixture through the grouped path (NoopIndex:
    one block) must reproduce the golden clusters."""
    rows = [
        ("beech", "freddie"), ("beech", "freedie"), ("rhea", "cherri"),
        ("rhea", "cherrie"), ("mel", "jean"), ("mel", "jeanne"),
        ("fox", "mike"), ("fox", "mick"), ("beech", "freddy"),
        ("rhea", "cherry"), ("wolf", "tom"), ("kat", "tom"),
        ("wolf", "thomas"), ("wolf", "tommy"),
    ]
    df = spark.createDataFrame(
        [(i, l, f) for i, (l, f) in enumerate(rows)],
        "row_key long, last string, first string",
    )
    m = ThresholdMatcher(
        NoopIndex(),
        {"last": JaroWinklerSimilarity(), "first": JaroWinklerSimilarity()},
        df,
        row_key="row_key",
    )
    # scored_pairs is checkpoint-materialized, so assert the routing on
    # a fresh lazy build of the same pipeline
    plan = m._build_scored()._jdf.queryExecution().executedPlan().toString()
    assert "score_partition" in plan  # the grouped path actually ran
    clusters = m.get_clusters_within_threshold(0.83)
    got = set()
    for row in clusters.select("cluster_idx", "row_key").collect():
        got.add((row["cluster_idx"], row["row_key"]))
    by_cluster = {}
    for c, k in got:
        by_cluster.setdefault(c, set()).add(k)
    assert sorted(map(sorted, by_cluster.values())) == sorted(
        map(sorted, [{6, 7}, {4, 5}, {2, 3, 9}, {10, 12, 13}, {0, 8, 1}])
    )


def test_grouped_with_date_similarity(spark):
    """DateSimilarity's 3-stage kernel through the group path — parity
    with the join path on date-typed columns."""
    import datetime as dt

    rows = [
        (i, f"b{i % 5}", dt.date(2000, 1 + i % 12, 1 + i % 28) if i % 9 else None)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "row_key long, blk string, dob date")
    sims = {"dob": DateSimilarity()}

    def run(grouped):
        m = ThresholdMatcher(
            ColumnsIndex("blk"), sims, df, row_key="row_key", validate=False,
            pairing_config=PairingConfig(grouped_scoring=grouped), defer=True,
        )
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    got, want = run(True), run(False)
    assert set(got) == set(want) and got
    for k, v in want.items():
        g = got[k]
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (k, g, v)


def _match_fixture(spark):
    """two datasets sharing a hot block + small blocks, with NULLs."""
    names = ["smith", "smyth", "jones", "joan", None]
    rows_a, rows_b = [], []
    for i in range(150):
        blk = "h" if i < 60 else f"c{i % 11}"
        rows_a.append((i, blk, names[i % 5], f"fa{i % 7}", float(i % 5)))
    for j in range(210):
        blk = "h" if j < 90 else f"c{j % 11}"
        rows_b.append((j + 1000, blk, names[j % 4], f"fb{j % 6}", float(j % 4)))
    schema = "row_key long, blk string, last string, first string, amt double"
    return (
        spark.createDataFrame(rows_a, schema),
        spark.createDataFrame(rows_b, schema),
    )


def test_grouped_match_mode_parity(spark):
    """Match mode (A×B linkage) through the grid-cell grouped path:
    same pair set and bit-identical scores as the join path, hot block
    included."""
    dfa, dfb = _match_fixture(spark)

    def run(grouped):
        cfg = PairingConfig(
            salt_threshold=10, rows_per_shard=20, grouped_scoring=grouped
        )
        m = ThresholdMatcher(
            ColumnsIndex("blk"), SIMS, dfa, dfb, row_key="row_key",
            validate=False, pairing_config=cfg, defer=True,
        )
        plan = m._build_scored()._jdf.queryExecution().executedPlan().toString()
        # r6: the runtime grouped path is the merged MapInPandas scorer
        assert ("score_partition" in plan) == grouped
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    got, want = run(True), run(False)
    assert set(got) == set(want) and len(got) > 4000
    # idx_a always from A, idx_b always from B
    assert all(a < 1000 <= b for a, b in got)
    for k, v in want.items():
        g = got[k]
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (k, g, v)


def test_grouped_match_mode_swap_parity(spark):
    dfa, dfb = _match_fixture(spark)

    def run(grouped):
        cfg = PairingConfig(
            salt_threshold=10, rows_per_shard=20, grouped_scoring=grouped
        )
        m = ThresholdMatcher(
            ColumnsIndex("blk"), SIMS, dfa, dfb, row_key="row_key",
            validate=False, variator=Swap("first", "last"),
            pairing_config=cfg, defer=True,
        )
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    got, want = run(True), run(False)
    assert set(got) == set(want) and got
    for k, v in want.items():
        g = got[k]
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (k, g, v)


def test_null_row_key_rows_are_dropped_both_paths(spark):
    """NULL row keys must be dropped like the key_df join always did —
    on the key_expr fast path a NULL idx used to crash the grouped
    orientation compare (string keys) or silently emit (idx, NULL)
    pairs (review r5)."""
    df = spark.createDataFrame(
        [(1, "b", "x"), (2, "b", "y"), (None, "b", "z")],
        "row_key long, blk string, last string",
    )
    sims = {"last": StringSimilarity()}
    for grouped in (True, False):
        m = ThresholdMatcher(
            ColumnsIndex("blk"), sims, df, row_key="row_key", validate=False,
            pairing_config=PairingConfig(grouped_scoring=grouped), defer=True,
        )
        pairs = {(r["idx_a"], r["idx_b"]) for r in m._build_scored().collect()}
        assert pairs == {(1, 2)}, (grouped, pairs)

    dfs = spark.createDataFrame(
        [("a", "b", "x"), ("c", "b", "y"), (None, "b", "z")],
        "row_key string, blk string, last string",
    )
    m = ThresholdMatcher(
        ColumnsIndex("blk"), sims, dfs, row_key="row_key", validate=False,
        defer=True,
    )
    pairs = {(r["idx_a"], r["idx_b"]) for r in m._build_scored().collect()}
    assert pairs == {("a", "c")}


def test_match_mode_mixed_dtype_falls_back_to_join_path(spark):
    """int-vs-float scored column across sides: the tagged union would
    widen and round — must keep the join path (review r5)."""
    dfa = spark.createDataFrame(
        [(1, "b", 10), (2, "b", 11)], "row_key long, blk string, amt int"
    )
    dfb = spark.createDataFrame(
        [(9, "b", 10.5)], "row_key long, blk string, amt double"
    )
    m = ThresholdMatcher(
        ColumnsIndex("blk"), {"amt": AbsoluteNumericalSimilarity(d_max=3.0)},
        dfa, dfb, row_key="row_key", validate=False, defer=True,
    )
    plan = m._build_scored()._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "score_partition" not in plan
    assert m._build_scored().count() == 2


def test_cold_rows_have_single_cell_membership(spark):
    """A cold row must contribute exactly ONE member row — the O(rows)
    traffic guarantee. The regression: greatest() skips NULLs, so a
    post-join shard computation gave every cold row __s=2 and doubled
    the corpus through the group exchange (review r5)."""
    from datamatch_spark.pairing import cell_members, keyed_side

    rows = [(i, "hot" if i < 120 else f"c{i % 9}", f"n{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "row_key long, blk string, last string")
    side = keyed_side(df, ColumnsIndex("blk"), "row_key", ["last"], "idx", "rec")
    side = side.select("idx", "block_key", F.col("rec.last").alias("__f0"))
    cfg = PairingConfig(salt_threshold=50, rows_per_shard=30)
    members = cell_members(side, cfg)
    per_row = {
        r["idx"]: r["n"]
        for r in members.groupBy("idx").count().withColumnRenamed("count", "n").collect()
    }
    cold = [per_row[i] for i in range(120, 200)]
    hot = [per_row[i] for i in range(120)]
    assert all(n == 1 for n in cold), cold[:5]  # ONE membership per cold row
    assert all(n == 4 for n in hot), hot[:5]  # ceil(120/30)=4 cells per hot row


@pytest.mark.parametrize("grouped", [True, False])
def test_scoring_runs_one_task_per_core(spark, grouped):
    """Grouped and join-path scoring run one partition per core by
    default, and ``target_partitions`` when it is set."""
    from datamatch_spark.session import effective_parallelism

    df = _fixture(spark)
    for kw, want in (({}, effective_parallelism(spark)), ({"target_partitions": 3}, 3)):
        m = ThresholdMatcher(
            ColumnsIndex("blk"), SIMS, df, row_key="row_key", validate=False,
            pairing_config=PairingConfig(grouped_scoring=grouped, **kw),
            defer=True,
        )
        scored = m._build_scored()
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert ("AS idx_a" not in plan) == grouped, plan
        assert scored.rdd.getNumPartitions() == want
