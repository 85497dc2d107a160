"""Property tests for the distributed graph operators against exact
driver-side implementations."""

import random

import pytest

from datamatch_spark import clustering
from datamatch_spark.clustering import (
    _route,
    _stored,
    connected_components,
    greedy_one_to_one,
    split_clique_members,
    split_cliques,
)


def _routes(monkeypatch, constant="_DRIVER_THRESHOLD"):
    """Yield once per route of the step whose threshold is ``constant``:
    the driver solve (the default threshold) and the distributed path
    (threshold 0). Each greedy test runs both in one body, so its test
    id stays as it was."""
    for threshold in (getattr(clustering, constant), 0):
        monkeypatch.setattr(clustering, constant, threshold)
        yield threshold


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed,n,m", [(0, 20, 15), (1, 40, 60), (2, 60, 30), (3, 10, 45)])
def test_connected_components_matches_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = list({tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)})
    df = spark.createDataFrame(edges, "idx_a long, idx_b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _uf_components(edges)
    # same partition: map both to canonical min-representative
    assert got == want


def test_connected_components_string_keys(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, "idx_a string, idx_b string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_split_cliques_path_graph(spark):
    # path 0-1-2: greedy clique growth keeps only {0,1}; edge (1,2) is
    # dropped entirely (verified reference behavior, SURVEY.md §2.8)
    df = spark.createDataFrame(
        [(0, 0.9, 0, 1), (0, 0.85, 1, 2)],
        "component long, sim_score double, idx_a long, idx_b long",
    )
    got = [(r["sim_score"], r["idx_a"], r["idx_b"]) for r in split_cliques(df).collect()]
    assert got == [(0.9, 0, 1)]


def test_split_cliques_triangle_plus_tail(spark):
    # triangle {0,1,2} + tail 2-3: clique {0,1,2} survives with its 3
    # pairs, tail dropped
    df = spark.createDataFrame(
        [(0, 0.9, 0, 1), (0, 0.8, 1, 2), (0, 0.85, 0, 2), (0, 0.95, 2, 3)],
        "component long, sim_score double, idx_a long, idx_b long",
    )
    rows = split_cliques(df).collect()
    members = set()
    for r in rows:
        members |= {r["idx_a"], r["idx_b"]}
    # greedy starts at node 0 -> grows {0,1,2}; 3 is not adjacent to all
    assert members == {0, 1, 2}
    assert len(rows) == 3


@pytest.mark.parametrize("seed", [0, 1])
def test_split_cliques_iterative_matches_packed(spark, seed):
    """The join-based oversized-component path must reproduce the
    packed path's deterministic partition exactly — cluster ids,
    scores, member pairs — on random multi-component graphs."""
    from datamatch_spark.clustering import split_cliques_iterative

    rng = random.Random(seed)
    rows = []
    for comp in range(3):
        nodes = list(range(comp * 100, comp * 100 + rng.randint(4, 12)))
        edges = set()
        for _ in range(len(nodes) * 3):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        # keep only the component's spanning connectivity honest: tag
        # everything with one component id (split_cliques never checks
        # connectivity, it trusts the label)
        rows += [
            (comp, round(rng.uniform(0.5, 1.0), 3), a, b) for a, b in edges
        ]
    df = spark.createDataFrame(
        rows, "component long, sim_score double, idx_a long, idx_b long"
    )
    want = sorted(map(tuple, split_cliques(df).collect()))
    got = sorted(map(tuple, split_cliques_iterative(df).collect()))
    assert got == want


def test_split_cliques_iterative_budget_never_truncates(spark):
    """Exhausting the growth budget must RAISE, not emit a partial
    clique. The fixture is a triangle + tail — NOT a complete clique,
    so it takes the carve path (a complete component short-circuits
    through the zero-round fast path) and needs 2 growth additions."""
    from datamatch_spark.clustering import split_cliques_iterative

    df = spark.createDataFrame(
        [(0, 0.9, 0, 1), (0, 0.8, 1, 2), (0, 0.85, 0, 2), (0, 0.7, 2, 3)],
        "component long, sim_score double, idx_a long, idx_b long",
    )
    with pytest.raises(RuntimeError, match="max_growth_rounds"):
        split_cliques_iterative(df, max_growth_rounds=1).collect()


def test_split_cliques_iterative_complete_clique_fast_path(spark):
    """An exact-duplicate block (complete clique — the common cause of
    an oversized component) must be emitted wholesale with zero growth
    rounds and the packed path's cluster id."""
    from datamatch_spark.clustering import split_cliques_iterative

    n = 6
    rows = [
        (5, 0.9, a, b) for a in range(n) for b in range(a + 1, n)
    ]
    df = spark.createDataFrame(
        rows, "component long, sim_score double, idx_a long, idx_b long"
    )
    # max_growth_rounds=0: any carve attempt would raise, proving the
    # fast path handled it
    got = sorted(
        map(tuple, split_cliques_iterative(df, max_growth_rounds=0).collect())
    )
    want = sorted(map(tuple, split_cliques(df).collect()))
    assert got == want
    assert all(r[0] == "5|0" for r in got) and len(got) == n * (n - 1) // 2


def test_split_cliques_oversized_flag(spark):
    """At max_component_edges+1: default fails fast; the 'iterative'
    flag routes the oversized component through the join-based path
    and still matches the (uncapped) packed result, while small
    components keep the packed path."""
    # component 0: 7 edges (oversized at cap 6); component 1: small
    rows = [
        (0, 0.9, 0, 1), (0, 0.8, 1, 2), (0, 0.85, 0, 2), (0, 0.95, 2, 3),
        (0, 0.7, 3, 4), (0, 0.75, 2, 4), (0, 0.72, 3, 5),
        (1, 0.9, 100, 101),
    ]
    df = spark.createDataFrame(
        rows, "component long, sim_score double, idx_a long, idx_b long"
    )
    with pytest.raises(Exception, match="max_component_edges"):
        split_cliques(df, max_component_edges=6).collect()
    want = sorted(map(tuple, split_cliques(df).collect()))
    got = sorted(
        map(
            tuple,
            split_cliques(df, max_component_edges=6, oversized="iterative").collect(),
        )
    )
    assert got == want


def _sequential_greedy(pairs):
    """Reference greedy 1:1 (matchers.py:103-117) under the imposed
    total order (sim DESC, idx_a ASC, idx_b ASC)."""
    seen_a, seen_b, keep = set(), set(), []
    for sim, a, b in sorted(pairs, key=lambda t: (-t[0], t[1], t[2])):
        if a in seen_a or b in seen_b:
            continue
        seen_a.add(a)
        seen_b.add(b)
        keep.append((sim, a, b))
    return sorted(keep)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_greedy_one_to_one_matches_sequential(spark, monkeypatch, seed):
    rng = random.Random(seed)
    pairs = list(
        {
            (round(rng.choice([0.7, 0.8, 0.9, 0.95]), 2), rng.randint(0, 10), rng.randint(100, 110))
            for _ in range(40)
        }
    )
    df = spark.createDataFrame(pairs, "sim_score double, idx_a long, idx_b long")
    for route in _routes(monkeypatch):
        got = sorted(
            (r["sim_score"], r["idx_a"], r["idx_b"])
            for r in greedy_one_to_one(df).collect()
        )
        assert got == _sequential_greedy(pairs), route


def test_greedy_one_to_one_adversarial_chain(spark, monkeypatch):
    """Strictly-decreasing scores along a bipartite chain force one
    dominant pair per round — the worst case for round count. Proves
    the kept-union lineage truncation keeps many-round runs working
    (bounded plan depth) and the result still matches sequential
    greedy."""
    n = 40  # ~20 fixpoint rounds, crosses several checkpoint cycles
    pairs = []
    for i in range(n):
        a, b = (i + 1) // 2, i // 2 + 100
        pairs.append((round(1.0 - i * 0.01, 2), a, b))
    df = spark.createDataFrame(pairs, "sim_score double, idx_a long, idx_b long")
    expect = _sequential_greedy(pairs)
    for route in _routes(monkeypatch):
        got = sorted(
            (r["sim_score"], r["idx_a"], r["idx_b"])
            for r in greedy_one_to_one(df).collect()
        )
        assert got == expect, route
        assert len(got) == n // 2


def test_connected_components_leaves_session_conf_alone(spark):
    """The star loop must size its shuffles via explicit repartitions,
    never by mutating session-global spark.sql.shuffle.partitions
    (which races against concurrent queries)."""
    from datamatch_spark.clustering import connected_components

    before = spark.conf.get("spark.sql.shuffle.partitions")
    # force the DISTRIBUTED path (driver_threshold=0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6)],
        "idx_a long, idx_b long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert comp[2] == 0 and comp[6] == 4  # chains 0-1-2-3, 4-5-6-7


def test_greedy_one_to_one_max_iter_message(spark, monkeypatch):
    """All-tied k x k blocks need one round per kept pair; the error
    must name the escape hatches."""
    from datamatch_spark.clustering import greedy_one_to_one

    k = 5
    rows = [(a, 100 + b, 1.0) for a in range(k) for b in range(k)]
    pairs = spark.createDataFrame(rows, "idx_a long, idx_b long, sim_score double")
    for route in _routes(monkeypatch):
        with pytest.raises(RuntimeError, match="one_to_one_max_iter"):
            greedy_one_to_one(pairs, max_iter=2).count()
        got = {
            (r["idx_a"], r["idx_b"])
            for r in greedy_one_to_one(pairs, max_iter=k + 1).collect()
        }
        assert got == {(i, 100 + i) for i in range(k)}, route  # greedy diagonal


def _random_pairs(spark, seed, id_type):
    """Pairs with every case the routes must agree on: NULL endpoints,
    NULL / NaN / signed-zero scores, tied scores, exact duplicate rows
    and a passthrough column."""
    rng = random.Random(seed)
    rows = []
    for _ in range(rng.randint(0, 50)):
        a = None if rng.random() < 0.08 else rng.randint(0, 8)
        b = None if rng.random() < 0.08 else rng.randint(0, 8)
        if id_type == "string":
            a = None if a is None else f"a{a}"
            b = None if b is None else f"b{b}"
        u = rng.random()
        score = (
            None if u < 0.07
            else float("nan") if u < 0.14
            else -0.0 if u < 0.18
            else rng.choice([0.0, 0.5, 0.7, 0.9, 1.0])
        )
        rows.append((rng.randint(0, 3), a, score, b))
    rows += rng.sample(rows, min(len(rows), 5))
    return spark.createDataFrame(
        rows, f"extra int, idx_a {id_type}, sim_score double, idx_b {id_type}"
    )


def _rows(df):
    # NaN != NaN, so compare it through a marker
    return sorted(
        (tuple("NaN" if x != x else x for x in r) for r in df.collect()), key=repr
    )


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("seed", range(5))
def test_greedy_one_to_one_driver_route_matches_fixpoint(
    spark, monkeypatch, seed, id_type
):
    """The driver solve keeps exactly the fixpoint's rows (duplicates,
    NULL endpoints and NULL/NaN scores included) with its schema."""
    df = _random_pairs(spark, seed, id_type)
    driver, dist = [greedy_one_to_one(df) for _ in _routes(monkeypatch)]
    assert driver.schema == dist.schema
    assert _rows(driver) == _rows(dist)


def _jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_routes_run_one_collect(spark):
    """Below driver_threshold each graph step is one bounded Arrow
    collect, after one checkpoint job when its input is not stored yet:
    no count, no fixpoint rounds."""
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(rng.randint(0, 9), rng.randint(100, 109), rng.random()) for _ in range(40)]
    df = spark.createDataFrame(rows, "idx_a long, idx_b long, sim_score double")
    assert _jobs(spark, "greedy-route", lambda: greedy_one_to_one(df)) <= 2
    assert _jobs(spark, "cc-route", lambda: connected_components(df)) <= 2
    stored = df.localCheckpoint()
    assert _stored(stored.withColumn("sim_score", F.col("sim_score") * 2))
    assert not _stored(stored.where(F.col("sim_score") > 0.5))
    assert not _stored(stored.withColumn("r", F.rand()))
    assert not _stored(df.localCheckpoint(eager=False))
    assert _jobs(spark, "greedy-stored", lambda: greedy_one_to_one(stored)) == 1
    assert _jobs(spark, "cc-stored", lambda: connected_components(stored)) == 1
    tagged = stored.withColumn("component", F.least("idx_a", "idx_b"))
    assert _jobs(spark, "split-stored", lambda: split_clique_members(tagged)) == 1
    # the threshold is inclusive
    assert _route(df, 40)[1].num_rows == 40
    assert _route(df, 39)[1] is None


def test_route_computes_input_once(spark, monkeypatch):
    """Above the threshold the route decision checkpoints an input that
    is not stored yet, so the distributed rounds never compute it a
    second time."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def score(x):
        calls.add(1)
        return (x % 7) / 7.0

    n = 60
    base = spark.range(n).select(
        (F.col("id") % 10).alias("idx_a"), (F.col("id") % 13).alias("idx_b")
    )
    df = base.withColumn("sim_score", score("idx_a"))
    ckpt, tbl = _route(df, 5)
    assert tbl is None
    assert ckpt.count() == n and calls.value == n
    monkeypatch.setattr(clustering, "_DRIVER_THRESHOLD", 0)
    greedy_one_to_one(df.withColumn("idx_b", F.col("idx_b") + 100)).count()
    assert calls.value == 2 * n
    connected_components(df.where(F.col("sim_score") >= 0), driver_threshold=0).count()
    assert calls.value == 3 * n


def _random_tagged(spark, seed, id_type):
    """(component, sim_score, idx_a, idx_b) rows of random components:
    duplicate edges, self-loops, and one non-clique component of 9
    nodes (a cycle plus chords), labeled by their minimum node."""
    rng = random.Random(seed)
    node = (lambda i: f"n{i:03d}") if id_type == "string" else (lambda i: i * 7)
    rows = []
    for base in range(0, 400, 20):
        n = rng.randint(2, 12)
        nodes = [node(base + i) for i in range(n)]
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(1, 3 * n))]
        if base == 0:
            nodes = [node(i) for i in range(9)]
            edges = [(nodes[i], nodes[(i + 1) % 9]) for i in range(9)]
            edges += [(nodes[0], nodes[2]), (nodes[3], nodes[6])]
        edges += rng.sample(edges, min(3, len(edges)))
        edges.append((nodes[-1], nodes[-1]))
        rows += [(min(nodes), rng.random(), a, b) for a, b in edges]
    rng.shuffle(rows)
    return spark.createDataFrame(
        rows, f"component {id_type}, sim_score double, idx_a {id_type}, idx_b {id_type}"
    )


def _member_routes(monkeypatch):
    """split_clique_members' driver walk, then its packed mapInPandas walk."""
    return _routes(monkeypatch, "_CLIQUE_DRIVER_EDGES")


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("seed", range(3))
def test_split_clique_members_driver_route_matches_packed(
    spark, monkeypatch, seed, id_type
):
    """The driver walk emits the packed walk's rows (same cliques, same
    ``component|k`` ids) with its schema, and both agree with
    split_cliques' pair rows exploded into members."""
    df = _random_tagged(spark, seed, id_type)
    driver, packed = [split_clique_members(df) for _ in _member_routes(monkeypatch)]
    assert driver.schema == packed.schema
    assert sorted(driver.collect()) == sorted(packed.collect())
    want = {
        (r["cluster_id"], m)
        for r in split_cliques(df).collect()
        for m in (r["idx_a"], r["idx_b"])
    }
    got = [tuple(r) for r in driver.collect()]
    assert len(got) == len(want) and set(got) == want
    # the 9-node non-clique component splits into several cliques
    first = "n000" if id_type == "string" else "0"
    assert f"{first}|1" in {c for c, _ in got}


def test_split_clique_members_empty_and_oversized(spark, monkeypatch):
    """Both routes return an empty frame for an empty input and raise
    the same max_component_edges error."""
    schema = "component long, sim_score double, idx_a long, idx_b long"
    empty = spark.createDataFrame([], schema)
    for _ in _member_routes(monkeypatch):
        out = split_clique_members(empty)
        assert out.collect() == [] and out.columns == ["cluster_id", "row_key"]
    df = spark.createDataFrame(
        [(0, 0.9, 0, 1), (0, 0.8, 1, 2), (0, 0.7, 0, 2), (5, 0.9, 5, 6)], schema
    )
    msg = r"component 0 has 3 edges \(> max_component_edges=2\)"
    for _ in _member_routes(monkeypatch):
        with pytest.raises(Exception, match=msg):
            split_clique_members(df, max_component_edges=2).collect()


def test_connected_components_struct_ids_fail_on_driver(spark):
    """Struct node ids have no numpy order: the driver route raises
    TypeError (the union-find fallback that once caught it could not
    hash them either)."""
    df = spark.createDataFrame(
        [((1,), (2,)), ((2,), (3,))],
        "idx_a struct<k: long>, idx_b struct<k: long>",
    )
    with pytest.raises(TypeError):
        connected_components(df)


def test_cluster_assignments_equal_on_both_routes(spark, monkeypatch):
    """A matcher's (cluster_id, row_key) table does not depend on the
    clique split's route."""
    from datamatch_spark import JaroWinklerSimilarity, NoopIndex, ThresholdMatcher

    names = ["beech", "beach", "bech", "beeches", "dupas", "dupaz", "duppas",
             "rhea", "rhee", "brown", "bowen", "browne"]
    df = spark.createDataFrame(list(enumerate(names)), "row_key long, last string")
    m = ThresholdMatcher(NoopIndex(), {"last": JaroWinklerSimilarity()}, df)
    driver, packed = [
        m.get_cluster_assignments(0.75) for _ in _member_routes(monkeypatch)
    ]
    assert driver.schema == packed.schema
    assert sorted(driver.collect()) == sorted(packed.collect())
    assert driver.count() > 4
