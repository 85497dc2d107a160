"""Distributed post-processing graph operators.

* ``connected_components`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  2014): O(log²) rounds regardless of component diameter, each round
  two shuffles, lineage truncated via ``localCheckpoint``. This is the
  Spark-native replacement for the reference's driver-side
  union-find walk (/root/reference/datamatch/matchers.py:192-218).
* ``split_cliques`` — the reference's greedy clique refinement
  (matchers.py:152-190) run per connected component via
  ``applyInPandas``; blocking bounds component size, so each group is
  small while the set of components is huge — the right distribution
  axis. Node/neighbor iteration order is imposed (ascending row key),
  a deterministic stand-in for the reference's hash-order set walk
  (SURVEY.md §8.2).
* ``greedy_one_to_one`` — match-mode pruning (matchers.py:103-117):
  the sequential highest-score-first greedy is realized as the
  locally-dominant-pair fixpoint, which yields the identical matching
  under a strict total pair order (score DESC, idx_a ASC, idx_b ASC).

Both graph steps use hybrid execution (same spirit as broadcast
joins) through one route decision, ``_route``: an input that is not
stored yet is checkpointed, then one bounded Arrow collect of at most
``threshold + 1`` stored rows picks the route. An input that fits is
solved in numpy on the driver — CC by min-label propagation, the 1:1
prune by the same locally-dominant fixpoint — because post-threshold
pair sets are usually tiny relative to the candidate set. Larger inputs
run the distributed rounds above on the stored rows, so the input is
computed once on either route.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import checkpoint_storage_level as _ckpt_level

__all__ = [
    "connected_components",
    "split_cliques",
    "split_cliques_iterative",
    "greedy_one_to_one",
    "groups_from_pairs",
    "best_matches",
]


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Normalize to (lo, hi), drop self-loops and duplicates."""
    lo = F.least(F.col(src), F.col(dst))
    hi = F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(lo.alias("u"), hi.alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


# inputs of at most this many rows are solved on the driver
_DRIVER_THRESHOLD = 1_000_000


def _stored(df: DataFrame) -> bool:
    """Whether ``df`` only reads rows already held by Spark: deterministic
    projections over a local relation or a materialized checkpoint (the
    matcher's scored pairs are one)."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        plan = todo.pop()
        name = plan.getClass().getSimpleName()
        if not plan.deterministic() or not (
            name in ("Project", "LocalRelation")
            or (name == "LogicalRDD" and plan.rdd().isCheckpointed())
        ):
            return False
        children = plan.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return True


def _route(df: DataFrame, threshold: int):
    """The hybrid route decision: ``(stored df, table or None)``.

    An input that is not stored yet is checkpointed first, so the
    distributed rounds never compute it a second time. The stored rows
    are then read by one task (``coalesce(1)``: no shuffle, unlike a
    bare ``limit``'s single-partition exchange), which stops after
    ``threshold + 1`` rows, as one Arrow collect. The table is returned
    when ``df`` has at most ``threshold`` rows — solve it on the driver
    — else ``None`` — run the distributed rounds; above the threshold
    the collected rows are the route decision's only extra cost."""
    if not _stored(df):
        df = df.localCheckpoint(storageLevel=_ckpt_level())
    tbl = df.coalesce(1).limit(threshold + 1).toArrow()
    return df, (tbl if tbl.num_rows <= threshold else None)


def _large_star(edges: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Connect every strictly-larger neighbor of each center to the
    minimum of its closed neighborhood.

    ``n_parts``: explicit width for this round's shuffles. Partitioning
    ``sym`` by the aggregation/join key lets the groupBy and the join
    reuse it (no extra exchange), and the final dedup repartitions by
    its exact key set — per-round shuffle width is controlled WITHOUT
    touching the session-global spark.sql.shuffle.partitions (which
    would race against concurrent queries on the same session)."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    if n_parts:
        sym = sym.repartition(n_parts, "u")
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    out = (
        sym.join(mins, on="u")
        .where(F.col("v") > F.col("u"))
        .select(m.alias("u"), F.col("v").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    if n_parts:
        out = out.repartition(n_parts, "u", "v")
    return out.dropDuplicates(["u", "v"])


def _small_star(edges: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Within each center's smaller-or-equal neighborhood, connect all
    nodes (center included) to the neighborhood minimum. See
    ``_large_star`` for the ``n_parts`` contract."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    small = sym.where(F.col("v") < F.col("u"))  # center u, smaller neighbors v
    if n_parts:
        small = small.repartition(n_parts, "u")
    mins = small.groupBy("u").agg(F.min("v").alias("mn"))
    withm = small.join(mins, on="u")
    out = withm.select(F.col("mn").alias("u"), F.col("v").alias("v")).unionByName(
        withm.select(F.col("mn").alias("u"), F.col("u").alias("v"))
    )
    out = out.where(F.col("u") != F.col("v"))
    if n_parts:
        out = out.repartition(n_parts, "u", "v")
    return out.dropDuplicates(["u", "v"])


def connected_components(
    edges: DataFrame,
    src: str = "idx_a",
    dst: str = "idx_b",
    max_iter: int = 50,
    driver_threshold: int = _DRIVER_THRESHOLD,
) -> DataFrame:
    """Return DataFrame[node, component] for every node incident to an
    edge; ``component`` is the minimum node id of the component.

    Hybrid execution (same spirit as broadcast joins): a graph whose
    edge count is below ``driver_threshold`` is solved driver-side —
    one Arrow transfer + vectorized min-label propagation instead of
    O(log n) shuffle rounds, a big win because post-threshold match
    graphs are usually tiny relative to the pair set. Larger graphs run
    the distributed alternating large-star/small-star loop.

    ``driver_threshold`` counts RAW edge rows (pre-dedup): the driver
    path canonicalizes in numpy, so no Spark-side dedup shuffle or
    signature job runs before the routing decision — the small-graph
    path is one bounded Arrow collect (``_route``), after a checkpoint
    when ``edges`` is not stored yet."""
    raw, tbl = _route(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        driver_threshold,
    )
    spark = edges.sparkSession
    if tbl is not None:
        node_type = raw.schema["u"].dataType
        out_schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("component", node_type)]
        )
        # numpy canonicalization, matching _canon: drop null endpoints
        # and self-loops (duplicate edges are harmless to label
        # propagation and skipped rather than deduped)
        pdf = tbl.drop_null().to_pandas()
        ua, va = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        keep = ua != va
        ua, va = ua[keep], va[keep]
        # vectorized min-label propagation: the Row collect + pure-Python
        # union-find this replaces was ~10x slower at bench edge counts
        # (every Row and every find() is Python-object work); labels
        # here move through numpy only. Exotic node types that numpy
        # cannot sort fall back to the original loop (same output either
        # way: node -> minimum node id of its component).
        try:
            uv = np.concatenate([ua, va])
            # np.unique SORTS uniques, so label index order == node
            # value order and the minimum label is the minimum node id
            # (object/string arrays compare with Python's `<`, which
            # matches Spark's UTF8 binary order — see grouped.py)
            uniq, codes = np.unique(uv, return_inverse=True)
            n_edges = len(ua)
            cu, cv = codes[:n_edges], codes[n_edges:]
            lab = np.arange(len(uniq), dtype=np.int64)
            # per-node min-reduce via a PRECOMPUTED endpoint sort +
            # minimum.reduceat (ufunc.at is unbuffered and ~20x slower)
            order = np.argsort(codes, kind="stable")
            ends_s = codes[order]
            touch, starts = np.unique(ends_s, return_index=True)
            for _ in range(max_iter):
                m = np.minimum(lab[cu], lab[cv])
                mins = np.minimum.reduceat(
                    np.concatenate([m, m])[order], starts
                )
                lab[touch] = np.minimum(lab[touch], mins)
                while True:  # pointer jumping to the round's fixpoint
                    nl = lab[lab]
                    if np.array_equal(nl, lab):
                        break
                    lab = nl
                if np.array_equal(lab[cu], lab[cv]):
                    break
            else:  # pragma: no cover - defensive
                raise RuntimeError(
                    f"driver label propagation did not converge in "
                    f"{max_iter} rounds"
                )
            out_pdf = pd.DataFrame(
                {"node": uniq, "component": uniq[lab]}
            )
            return spark.createDataFrame(out_pdf, schema=out_schema)
        except (TypeError, ValueError):  # pragma: no cover - exotic ids
            parent: dict = {}

            def find(x):
                parent.setdefault(x, x)
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for u, v in zip(ua.tolist(), va.tolist()):
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            rows = [(n, find(n)) for n in parent]
            return spark.createDataFrame(rows, schema=out_schema)

    e = _canon(raw, "u", "v").localCheckpoint(storageLevel=_ckpt_level())

    def _signature(df: DataFrame):
        # one tiny job per round instead of two exceptAll shuffles:
        # (edge count, order-insensitive hash sum) identifies the set
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = _signature(e)
    # size the per-round shuffles to the edge count — after blocking
    # the graph is usually tiny relative to the pair set, and running
    # each star round at full session parallelism is pure scheduling
    # overhead (every round is 2 shuffles × many near-empty tasks).
    # Width is imposed via EXPLICIT repartitions inside the star
    # rounds, never by mutating the session-global
    # spark.sql.shuffle.partitions (which would race against
    # concurrent queries sharing the session).
    from .session import effective_parallelism

    default_par = effective_parallelism(spark)
    n_parts = max(2, min(default_par, (sig[0] or 1) // 50_000 + 1))
    star_parts = n_parts if n_parts < default_par else None
    if sig[0] and star_parts:
        e = e.repartition(n_parts).localCheckpoint(storageLevel=_ckpt_level())
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e, star_parts), star_parts).localCheckpoint(storageLevel=_ckpt_level())
        sig2 = _signature(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixpoint: every edge is (component_root, node)
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def _greedy_cliques(nodes, adjacency):
    """Reference greedy clique growth (matchers.py:162-180) with the
    imposed deterministic order: nodes ascending, stack-based walk,
    neighbors ascending. Returns list of member-sets (size > 1)."""
    clusters = []
    clustered = set()
    for node in sorted(nodes):
        if node in clustered:
            continue
        cluster = {node}
        clustered.add(node)
        queue = [node]
        while queue:
            cur = queue.pop()
            for neighbor in sorted(adjacency[cur]):
                if neighbor in clustered:
                    continue
                if all(n in adjacency[neighbor] for n in cluster):
                    clustered.add(neighbor)
                    cluster.add(neighbor)
                    queue.append(neighbor)
        if len(cluster) > 1:
            clusters.append(cluster)
    return clusters


def split_cliques(
    pairs_with_component: DataFrame,
    max_component_edges: int = 10_000_000,
    oversized: str = "error",
    max_rounds: int = 1000,
) -> DataFrame:
    """Split each connected component into greedy cliques.

    Input: (component, sim_score, idx_a, idx_b). Output: the surviving
    pairs relabeled (cluster_id string, sim_score, idx_a, idx_b) —
    every 2-combination within a clique is emitted with its original
    score (reference matchers.py:181-190); pairs whose endpoints land
    in different cliques are dropped, singleton leftovers vanish.

    Each component's edge list is packed into one row (the greedy walk
    is inherently sequential per component; blocking bounds component
    size, so the distribution axis is the huge NUMBER of components).
    A component above ``max_component_edges`` is handled per
    ``oversized`` (SURVEY §7.3's spill path):

    * ``"error"`` (default): fail fast with a clear message instead of
      OOMing a task — that situation usually means the threshold is
      too low or blocking too coarse for clique semantics to be
      meaningful.
    * ``"iterative"``: route oversized components (counted in one
      JVM aggregation; the oversized set broadcasts by construction)
      through :func:`split_cliques_iterative`, the join-based
      degradation that never holds a whole component in one task.
      Same deterministic partition, bounded memory, more rounds.
    """
    if oversized not in ("error", "iterative"):
        raise ValueError(f"oversized must be 'error' or 'iterative', got {oversized!r}")
    if oversized == "iterative":
        big = (
            pairs_with_component.groupBy("component")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_component_edges)
            .select("component")
        )
        small = pairs_with_component.join(
            F.broadcast(big), on="component", how="left_anti"
        )
        large = pairs_with_component.join(
            F.broadcast(big), on="component", how="left_semi"
        )
        return split_cliques(small, max_component_edges).unionByName(
            split_cliques_iterative(large, max_rounds=max_rounds)
        )
    idx_type = pairs_with_component.schema["idx_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField("cluster_id", T.StringType()),
            T.StructField("sim_score", T.DoubleType()),
            T.StructField("idx_a", idx_type),
            T.StructField("idx_b", idx_type),
        ]
    )

    def _split_component(comp, edges):
        adjacency: dict = {}
        scores: dict = {}
        for sim, ia, ib in edges:
            adjacency.setdefault(ia, set()).add(ib)
            adjacency.setdefault(ib, set()).add(ia)
            scores[(ia, ib) if ia <= ib else (ib, ia)] = sim
        rows = []
        for k, members in enumerate(_greedy_cliques(adjacency.keys(), adjacency)):
            cid = f"{comp}|{k}"
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b in ms[i + 1 :]:
                    rows.append((cid, scores[(a, b)], a, b))
        return rows

    # one JVM aggregation packs each component's edge list into a row;
    # Python then sees thousands of components per Arrow batch instead
    # of paying per-group applyInPandas overhead on millions of tiny
    # components
    packed = pairs_with_component.groupBy("component").agg(
        F.collect_list(F.struct("sim_score", "idx_a", "idx_b")).alias("edges")
    )

    def split_batches(batches):
        for pdf in batches:
            rows = []
            for comp, edges in zip(pdf["component"], pdf["edges"]):
                if len(edges) > max_component_edges:
                    raise ValueError(
                        f"component {comp!r} has {len(edges)} edges "
                        f"(> max_component_edges={max_component_edges}); "
                        "raise the score threshold or use finer blocking"
                    )
                rows.extend(
                    _split_component(
                        comp, [(e["sim_score"], e["idx_a"], e["idx_b"]) for e in edges]
                    )
                )
            yield pd.DataFrame(
                rows, columns=["cluster_id", "sim_score", "idx_a", "idx_b"]
            )

    return packed.mapInPandas(split_batches, schema=out_schema)


def split_clique_members(
    pairs_with_component: DataFrame,
    max_component_edges: int = 10_000_000,
) -> DataFrame:
    """(cluster_id, row_key) membership rows of :func:`split_cliques`'
    partition, emitted DIRECTLY from the clique walk.

    Identical result set to exploding split_cliques' pair rows into
    endpoints and deduplicating (same greedy walk, same
    ``component|k`` ids), but the packed shuffle drops the score
    column and the caller skips a union + distinct shuffle — cliques
    are disjoint and members unique within a clique by construction.
    Used by assignment-shaped getters; report getters that need pair
    rows keep split_cliques."""
    idx_type = pairs_with_component.schema["idx_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField("cluster_id", T.StringType()),
            T.StructField("row_key", idx_type),
        ]
    )
    packed = pairs_with_component.groupBy("component").agg(
        F.collect_list(F.struct("idx_a", "idx_b")).alias("edges")
    )

    def member_batches(batches):
        for pdf in batches:
            cids, members = [], []
            for comp, edges in zip(pdf["component"], pdf["edges"]):
                if len(edges) > max_component_edges:
                    raise ValueError(
                        f"component {comp!r} has {len(edges)} edges "
                        f"(> max_component_edges={max_component_edges}); "
                        "raise the score threshold or use finer blocking"
                    )
                adjacency: dict = {}
                for e in edges:
                    ia, ib = e["idx_a"], e["idx_b"]
                    adjacency.setdefault(ia, set()).add(ib)
                    adjacency.setdefault(ib, set()).add(ia)
                for k, mem in enumerate(
                    _greedy_cliques(adjacency.keys(), adjacency)
                ):
                    cid = f"{comp}|{k}"
                    for m in sorted(mem):
                        cids.append(cid)
                        members.append(m)
            yield pd.DataFrame({"cluster_id": cids, "row_key": members})

    return packed.mapInPandas(member_batches, schema=out_schema)


def split_cliques_iterative(
    pairs_with_component: DataFrame,
    max_rounds: int = 1000,
    max_growth_rounds: int = 200,
) -> DataFrame:
    """Greedy clique split for components too large for one task —
    pure DataFrame joins, never materializing a whole component's
    adjacency in one place (SURVEY §7.3's degradation path).

    Produces the SAME deterministic partition as the packed path.
    Two observations make that possible:

    * the stack-based reference walk is equivalent to "repeatedly add
      the minimum remaining node adjacent to every current member" —
      a clique lies inside the seed's neighborhood, rejection is
      monotone (the clique only grows), so the sorted-neighbor scan
      and the min-valid-candidate loop pick identical members;
    * seeds can be carved in PARALLEL when each is the minimum node
      within its closed 2-hop neighborhood: two such seeds are > 2
      apart, so their neighborhoods (hence cliques) are disjoint, and
      no smaller sequential seed can have consumed any of their
      neighbors. Removing those cliques and repeating reproduces the
      ascending-seed sequential order exactly.

    Each outer round carves every current 2-hop-minimum seed; the
    global minimum node is always one, so every round makes progress
    and rounds <= number of cliques (adversarial ascending chains
    degrade to one clique per round — ``max_rounds`` guards the
    pathology). Inner growth adds one member per seed per join round,
    bounded by the largest clique; ``max_growth_rounds`` caps that
    separately (a 10M-edge component whose nodes form ONE huge clique
    would otherwise need one Spark round per member). The COMMON cause
    of an oversized component — an exact-duplicate block, i.e. a
    complete clique — is detected up front (n_edges == C(n_nodes, 2))
    and emitted wholesale with zero growth rounds: greedy on a
    complete graph yields the whole component as cluster ``comp|0``.
    Memory per task is O(edges of one node), not O(edges of one
    component).
    """
    idx_type = pairs_with_component.schema["idx_a"].dataType
    spark = pairs_with_component.sparkSession
    all_edges = pairs_with_component.select(
        "component", "sim_score", "idx_a", "idx_b"
    ).localCheckpoint(storageLevel=_ckpt_level())
    # complete-clique fast path: per component, n_edges == C(n, 2)
    # means the greedy walk trivially absorbs the whole component
    node_counts = (
        all_edges.select("component", F.col("idx_a").alias("n"))
        .unionByName(all_edges.select("component", F.col("idx_b").alias("n")))
        .groupBy("component")
        .agg(F.count_distinct("n").alias("__nn"))
    )
    edge_counts = all_edges.groupBy("component").agg(
        F.count_distinct(
            F.struct(
                F.least("idx_a", "idx_b"), F.greatest("idx_a", "idx_b")
            )
        ).alias("__ne")
    )
    complete = (
        node_counts.join(edge_counts, on="component")
        .where(F.col("__ne") == F.col("__nn") * (F.col("__nn") - 1) / 2)
        .select("component")
    )
    complete_out = all_edges.join(
        F.broadcast(complete), on="component", how="left_semi"
    ).select(
        F.concat(F.col("component").cast("string"), F.lit("|0")).alias(
            "cluster_id"
        ),
        F.col("sim_score").cast("double").alias("sim_score"),
        F.least("idx_a", "idx_b").alias("idx_a"),
        F.greatest("idx_a", "idx_b").alias("idx_b"),
    )
    edges = all_edges.join(
        F.broadcast(complete), on="component", how="left_anti"
    ).localCheckpoint(storageLevel=_ckpt_level())
    sym = (
        edges.select("component", F.col("idx_a").alias("u"), F.col("idx_b").alias("v"))
        .unionByName(
            edges.select(
                "component", F.col("idx_b").alias("u"), F.col("idx_a").alias("v")
            )
        )
        .dropDuplicates(["component", "u", "v"])
        .localCheckpoint(storageLevel=_ckpt_level())
    )
    all_members = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("component", edges.schema["component"].dataType),
                T.StructField("seed", idx_type),
                T.StructField("node", idx_type),
            ]
        ),
    )
    rounds = 0
    while not sym.isEmpty():
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"split_cliques_iterative exceeded max_rounds={max_rounds}; "
                "the component's node ordering degrades the parallel carve "
                "to near-sequential — raise max_rounds or the score "
                "threshold, or use finer blocking"
            )
        # m1(u) = min over N[u]; m2(u) = min over the closed 2-hop ball
        m1 = (
            sym.groupBy("component", "u")
            .agg(F.min("v").alias("__mv"))
            .select(
                "component", "u", F.least(F.col("u"), F.col("__mv")).alias("m1")
            )
        )
        m2 = (
            sym.join(
                m1.select(
                    "component", F.col("u").alias("v"), F.col("m1").alias("m1v")
                ),
                on=["component", "v"],
            )
            .groupBy("component", "u")
            .agg(F.min("m1v").alias("__mn"))
            .join(m1, on=["component", "u"])
            .select(
                "component",
                "u",
                F.least(F.col("m1"), F.col("__mn")).alias("m2"),
            )
        )
        members = (
            m2.where(F.col("m2") == F.col("u"))
            .select("component", F.col("u").alias("seed"), F.col("u").alias("node"))
            .localCheckpoint(storageLevel=_ckpt_level())
        )
        # grow every seed's clique by its minimum valid candidate until
        # no seed can grow (disjoint neighborhoods -> no contention)
        growth = 0
        while True:
            sizes = members.groupBy("component", "seed").agg(
                F.count(F.lit(1)).alias("__sz")
            )
            adj = sym.join(
                members.select("component", "seed", F.col("node").alias("v")),
                on=["component", "v"],
            ).select("component", "seed", "u")
            cand = (
                adj.groupBy("component", "seed", "u")
                .agg(F.count(F.lit(1)).alias("__hits"))
                .join(sizes, on=["component", "seed"])
                .where(F.col("__hits") == F.col("__sz"))
                .join(
                    members.select(
                        "component", "seed", F.col("node").alias("u")
                    ),
                    on=["component", "seed", "u"],
                    how="left_anti",
                )
            )
            new_members = (
                cand.groupBy("component", "seed")
                .agg(F.min("u").alias("node"))
                .select("component", "seed", "node")
            )
            if new_members.isEmpty():
                break
            # a truncated clique must never be emitted: the budget
            # check sits AFTER the would-grow test, so a carve that
            # needs exactly max_growth_rounds additions completes
            growth += 1
            if growth > max_growth_rounds:
                raise RuntimeError(
                    f"split_cliques_iterative clique growth exceeded "
                    f"max_growth_rounds={max_growth_rounds} (a clique "
                    "with more members than the budget); raise "
                    "max_growth_rounds, or raise the score threshold / "
                    "use finer blocking"
                )
            members = members.unionByName(new_members)
            # checkpoint sparsely: lineage depth stays <= 8 joins while
            # superseded checkpoint RDDs (released by rebinding +
            # ContextCleaner) stop accumulating one per member
            if growth % 8 == 0:
                members = members.localCheckpoint(storageLevel=_ckpt_level())
        all_members = all_members.unionByName(members).localCheckpoint(storageLevel=_ckpt_level())
        clustered = members.select("component", "node").localCheckpoint(storageLevel=_ckpt_level())
        sym = (
            sym.join(
                clustered.select("component", F.col("node").alias("u")),
                on=["component", "u"],
                how="left_anti",
            )
            .join(
                clustered.select("component", F.col("node").alias("v")),
                on=["component", "v"],
                how="left_anti",
            )
            .localCheckpoint(storageLevel=_ckpt_level())
        )
    # cluster index k = ascending seed rank per component (the packed
    # path appends cliques in ascending-seed discovery order); every
    # carved clique has >= 2 members, so no singleton filtering needed
    from pyspark.sql import Window

    ranked = (
        all_members.select("component", "seed")
        .distinct()
        .withColumn(
            "__k",
            F.row_number().over(
                Window.partitionBy("component").orderBy("seed")
            )
            - 1,
        )
    )
    labeled = all_members.join(ranked, on=["component", "seed"]).select(
        "component",
        "node",
        F.concat(
            F.col("component").cast("string"),
            F.lit("|"),
            F.col("__k").cast("string"),
        ).alias("cluster_id"),
    )
    carved = (
        edges.join(
            labeled.select(
                "component",
                F.col("node").alias("idx_a"),
                F.col("cluster_id").alias("__ca"),
            ),
            on=["component", "idx_a"],
        )
        .join(
            labeled.select(
                "component",
                F.col("node").alias("idx_b"),
                F.col("cluster_id").alias("__cb"),
            ),
            on=["component", "idx_b"],
        )
        .where(F.col("__ca") == F.col("__cb"))
        .select(
            F.col("__ca").alias("cluster_id"),
            F.col("sim_score").cast("double").alias("sim_score"),
            F.least("idx_a", "idx_b").alias("idx_a"),
            F.greatest("idx_a", "idx_b").alias("idx_b"),
        )
    )
    return complete_out.unionByName(carved)


def _rank_codes(col, negate: bool = False) -> np.ndarray:
    """Dense int codes of an Arrow column in Spark's ascending struct
    field order: NULL first (code 0), NaN last, -0.0 == 0.0, NaN ==
    NaN, strings by code point (== Spark's UTF8 binary order)."""
    vals = col.drop_null()
    codes = np.zeros(len(col), np.int64)
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    if pa.types.is_string(vals.type) or pa.types.is_large_string(vals.type):
        # Arrow ranks strings by their UTF-8 bytes (== code point order)
        # in C++; np.unique would sort Python str objects
        codes[valid] = pc.rank(vals, tiebreaker="dense").to_numpy()
        return codes
    vals = vals.to_numpy(zero_copy_only=False)
    # np.unique sorts, merges -0.0 with 0.0 and all NaNs into one
    # trailing value — the order Spark's struct comparison uses
    _, inv = np.unique(-vals if negate else vals, return_inverse=True)
    codes[valid] = inv + 1
    return codes


def _group_min_rows(
    by_key: np.ndarray, key: np.ndarray, rank: np.ndarray
) -> np.ndarray:
    """The rows of ``by_key`` (row positions sorted by ``key``) whose
    rank is the minimum among the rows of ``by_key`` sharing their key."""
    k = key[by_key]
    first = np.ones(len(by_key), bool)
    first[1:] = k[1:] != k[:-1]
    # per-key min-reduce via the PRECOMPUTED sort + minimum.reduceat,
    # as in CC's driver path
    r = rank[by_key]
    mins = np.minimum.reduceat(r, np.flatnonzero(first))
    return by_key[r == mins[np.cumsum(first) - 1]]


def _greedy_on_driver(tbl, max_iter: int) -> np.ndarray:
    """Row positions of ``tbl`` the distributed fixpoint keeps, computed
    round by round in numpy: same rounds, so the same rows (ties and
    exact duplicates included) and the same ``max_iter`` failure."""
    cs, ca, cb = (
        _rank_codes(tbl.column(c).combine_chunks(), negate=c == "sim_score")
        for c in ("sim_score", "idx_a", "idx_b")
    )
    n = len(cs)
    # dense rank of the struct (-sim_score, idx_a, idx_b): equal rank
    # <=> equal struct, so per-endpoint minima compare as in Spark
    order = np.lexsort((cb, ca, cs))
    keys = np.stack([cs, ca, cb])[:, order]
    new = np.ones(n, bool)
    new[1:] = (keys[:, 1:] != keys[:, :-1]).any(axis=0)
    rank = np.empty(n, np.int64)
    rank[order] = np.cumsum(new)
    # the remaining rows, sorted once by each endpoint and filtered
    # (order kept) as rows drop out
    by_a = np.argsort(ca, kind="stable")
    by_b = np.argsort(cb, kind="stable")
    min_a = np.zeros(n, bool)
    kept = []
    for _ in range(max_iter):
        min_a[:] = False
        min_a[_group_min_rows(by_a, ca, rank)] = True
        sel = _group_min_rows(by_b, cb, rank)
        sel = sel[min_a[sel]]
        # a NULL endpoint (code 0) is never kept — the fixpoint's inner
        # joins drop it — but still competes in its other endpoint's
        # group, so it takes part in the minima
        sel = sel[(ca[sel] > 0) & (cb[sel] > 0)]
        if not len(sel):
            break
        kept.append(sel)
        taken_a = np.zeros(n + 1, bool)
        taken_b = taken_a.copy()
        taken_a[ca[sel]] = True
        taken_b[cb[sel]] = True
        by_a = by_a[~(taken_a[ca[by_a]] | taken_b[cb[by_a]])]
        by_b = by_b[~(taken_a[ca[by_b]] | taken_b[cb[by_b]])]
    else:
        raise _no_convergence(max_iter)
    return np.sort(np.concatenate(kept)) if kept else np.zeros(0, np.int64)


def _no_convergence(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"greedy_one_to_one did not converge in {max_iter} rounds. "
        "Worst case is one round per pair inside a block of "
        "ALL-TIED scores (k identical records on each side need k "
        "rounds); raise max_iter (ThresholdMatcher("
        "one_to_one_max_iter=...)) or deduplicate exact-equal "
        "records before matching."
    )


def greedy_one_to_one(pairs: DataFrame, max_iter: int = 100) -> DataFrame:
    """Keep a pair iff neither endpoint appears in a better-ranked kept
    pair — the reference's highest-score-first greedy 1:1 pruning.

    Fixpoint of locally-dominant selection: a pair whose rank tuple is
    the minimum among BOTH its idx_a group and its idx_b group is
    kept; its endpoints' other pairs are discarded; repeat.

    Hybrid execution, like ``connected_components``: at most
    ``_DRIVER_THRESHOLD`` pairs (with numeric scores and numeric or
    string ids) are collected once as Arrow and run through the same
    rounds in numpy; the result is row-for-row and schema-for-schema
    the distributed fixpoint's. The collect holds every column, so the
    driver needs about ``_DRIVER_THRESHOLD`` times the row width.

    Distributed, per round: two min-per-key AGGREGATES joined back, not
    per-key windows. The aggregates partial-combine map-side, so their
    shuffle is O(distinct keys) instead of the windows' two full
    sort-shuffles of the remaining pairs, and AQE turns the join back
    into a broadcast whenever a round's best-per-key table is small —
    the dominant case after round 1, when only contested endpoints
    remain.
    """
    # the driver solve orders values with numpy, which matches Spark's
    # order for numbers and strings only
    score_t, *id_ts = (
        pairs.schema[c].dataType for c in ("sim_score", "idx_a", "idx_b")
    )
    tbl = None
    if isinstance(score_t, T.NumericType) and all(
        isinstance(t, (T.NumericType, T.StringType)) for t in id_ts
    ):
        pairs, tbl = _route(pairs, _DRIVER_THRESHOLD)
    if tbl is not None:
        keep = _greedy_on_driver(tbl, max_iter)
        if not len(keep):
            return pairs.limit(0)
        # the fixpoint's USING joins (on idx_a, then on idx_b) move the
        # join keys to the front; built directly, because analysing the
        # round plan for its schema costs more than the whole solve
        schema = T.StructType(
            [pairs.schema["idx_b"], pairs.schema["idx_a"]]
            + [f for f in pairs.schema if f.name not in ("idx_a", "idx_b")]
        )
        return pairs.sparkSession.createDataFrame(
            tbl.take(keep).select(schema.names), schema=schema
        )
    remaining = pairs.withColumn(
        "__r",
        F.struct(
            (-F.col("sim_score")).alias("ns"),
            F.col("idx_a").alias("ia"),
            F.col("idx_b").alias("ib"),
        ),
    ).localCheckpoint(storageLevel=_ckpt_level())
    kept: DataFrame | None = None
    for rnd in range(max_iter):
        # an empty `remaining` has an empty selection, so the sel check
        # alone ends the loop, in the same round
        ma = remaining.groupBy("idx_a").agg(F.min("__r").alias("__ma"))
        mb = remaining.groupBy("idx_b").agg(F.min("__r").alias("__mb"))
        sel = (
            remaining.join(ma, on="idx_a")
            .join(mb, on="idx_b")
            .where((F.col("__r") == F.col("__ma")) & (F.col("__r") == F.col("__mb")))
            .drop("__ma", "__mb")
            .localCheckpoint(storageLevel=_ckpt_level())
        )
        if sel.isEmpty():
            break
        kept = sel if kept is None else kept.unionByName(sel)
        # the union chain grows one plan level per round; truncate it
        # periodically so adversarial graphs (long chains → many
        # rounds) keep a bounded plan depth
        if rnd % 8 == 7:
            kept = kept.localCheckpoint(storageLevel=_ckpt_level())
        remaining = (
            remaining.join(sel.select("idx_a").distinct(), on="idx_a", how="left_anti")
            .join(sel.select("idx_b").distinct(), on="idx_b", how="left_anti")
            .localCheckpoint(storageLevel=_ckpt_level())
        )
    else:
        raise _no_convergence(max_iter)
    if kept is None:
        return pairs.limit(0)
    return kept.drop("__r")


def groups_from_pairs(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(id_col, group_id, keep) from a near-duplicate pair graph: the
    shared epilogue of ``semantic_dedup`` and ``minhash_dedup_groups``
    — connected components over the pairs, ``group_id`` = minimum
    member id (the row's own id for singletons), ``keep`` marks the
    canonical representative; filter ``keep`` for the deduplicated
    corpus."""
    comp = connected_components(pairs.select("idx_a", "idx_b"))
    out = df.select(id_col).join(
        comp.withColumnRenamed("node", id_col), on=id_col, how="left"
    )
    group = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        group.alias("group_id"),
        (group == F.col(id_col)).alias("keep"),
    )


def best_matches(
    scored_pairs: DataFrame,
    by: str = "idx_a",
    score_col: str = "sim_score",
) -> DataFrame:
    """Per-record argmax — the enrichment-join semantics ("attach the
    single best B candidate to every A row"), the lightweight
    complement to :func:`greedy_one_to_one` (which builds a globally
    consistent 1:1 matching; here two A rows MAY share a B winner).

    Keeps, for each ``by`` key, the row with the highest ``score_col``;
    score ties break to the SMALLEST other-side id, NULL scores never
    win (a key whose every candidate refused scoring is dropped).
    Deterministic under any partitioning.

    Scale shape: two key-aggregations co-partitioned on ``by`` (max
    score, then min winner among the tied top) joined back — map-side
    combinable, no window over a global sort, and id-TYPE-agnostic
    (string row keys order correctly, unlike a negate-the-id struct
    trick).
    """
    other = "idx_b" if by == "idx_a" else "idx_a"
    for c in (by, other, score_col):
        if c not in scored_pairs.columns:
            raise KeyError(c)
    src = scored_pairs.select(by, other, score_col).where(
        F.col(score_col).isNotNull()
    )
    top = src.groupBy(by).agg(F.max(score_col).alias("__smax"))
    return (
        src.join(top, on=by)
        .where(F.col(score_col) == F.col("__smax"))
        .groupBy(by)
        .agg(
            F.min(other).alias(other),
            F.first("__smax").alias(score_col),
        )
    )
