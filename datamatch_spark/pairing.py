"""Candidate-pair generation: blocked equi-joins with explicit skew
salting.

The reference's pairers (/root/reference/datamatch/pairers.py:114-128,
171-181) are per-bucket cross products / 2-combinations; here:

* match mode  ≡ inner equi-join of the two keyed sides on BLOCK_KEY;
* dedup mode  ≡ self-equi-join with the upper-triangle predicate
  ``idx_a < idx_b`` (2-combinations, orientation by natural row-key
  order, matching the reference's sorted buckets).

Skew handling — the part that decides whether this works at 10^12
docs: a hot blocking key produces a quadratic pair blowup that AQE's
skew-join (which splits *input* partitions) cannot fix alone, because
the explosion is in the *output* of the join. Blocks whose row count
exceeds ``salt_threshold`` are salted:

* dedup: rows get shard ``pmod(xxhash64(idx), s)``; the left side is
  replicated to shards ``[shard, s)`` and joined on the target shard —
  a triangular shard-pair enumeration that yields every unordered pair
  exactly once and caps per-task pair output at ~(rows_per_shard)².
* match: GRID sharding — A is hash-sharded ``sa = ceil(na/rows_per_
  shard)`` ways and replicated to all ``sb`` B-shards, B sharded
  ``sb = ceil(nb/rows_per_shard)`` ways and replicated to all ``sa``
  A-shards; the join key carries the grid CELL, so every task holds
  ≤ rows_per_shard rows of each side (≤ rows_per_shard² pairs) even
  when one side dwarfs the other. Replication cost is
  ~2·pairs/rows_per_shard rows — always small next to the pair output.

Per-block pair-count statistics (the north-rule metrics) come from the
same block-size aggregation that detects hot keys.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .indices import BLOCK_KEY, BaseIndex
from .session import checkpoint_storage_level as _ckpt_level

__all__ = ["PairingConfig", "keyed_side", "candidate_pairs", "block_statistics"]


@dataclass
class PairingConfig:
    # block row count above which the block is salted; also the default
    # per-task row budget for unsalted blocks. Kept equal to
    # rows_per_shard so the largest UNSALTED block's pair count
    # (threshold²/2) matches the salted per-cell budget
    # (rows_per_shard²/2) — otherwise a block just under the threshold
    # is the new straggler (5000 rows = 12.5M pairs in one task).
    salt_threshold: int = 2_000
    # target rows per salt shard. The real budget is PAIR OUTPUT per
    # task ~= rows_per_shard²/2 (~2M pairs at the default) — a shard
    # too large serializes pair generation for the hot block into a
    # handful of tasks and caps cluster scaling.
    rows_per_shard: int = 2_000
    # hard cap on distinct hot keys pulled to the driver
    max_hot_keys: int = 100_000
    salt_enabled: bool = True
    # partition count for the LEFT keyed side of the pair join.
    # None = one task per core. This is the knob that keeps pair
    # generation parallel: the keyed sides are small (ids + keys), so
    # Catalyst broadcasts the join and AQE sizes partitions by the
    # pre-join input bytes — the 10-100× pair blowup then lands in a
    # handful of partitions. Explicitly hash-repartitioning the cheap
    # input side (REPARTITION_BY_NUM is never coalesced by AQE) makes
    # the blowup AND the downstream scoring UDFs run wide, with no
    # post-join shuffle of the fat pair rows at all.
    target_partitions: int | None = None
    # True when the keyed sides are ALREADY co-located on BLOCK_KEY
    # (e.g. read from tables bucketed on it — bucketing.py): skips the
    # explicit pre-join repartition so the blocked join runs
    # exchange-free. The caller owns the guarantee.
    pre_partitioned: bool = False
    # estimated hot-row count above which the salted join stops
    # broadcasting the hot side and instead replicates it per shard
    # pair, joining on (block_key, __shard_l, __tgt). Under broadcast
    # the left repartition alone fixes the triangular-target skew; but
    # a too-big-to-broadcast hot side becomes a SortMergeJoin whose
    # exchange re-partitions by the JOIN key — (block_key, __tgt) is
    # triangular again, so the join key itself must carry the shard
    # pair at the price of one extra replication of the thin hot side.
    broadcast_hot_rows: int = 1_000_000
    # BYTE cap on the same decision: rows alone mislead with wide rec
    # structs (1M rows of long text is multi-GB — past Spark's
    # broadcast limit and into executor OOM territory even where the
    # row count looks safe). Estimated as rows × a static per-row
    # width from the rec schema (see _est_row_bytes); whichever of the
    # row/byte caps is hit first disables the broadcast.
    broadcast_hot_bytes: int = 256 << 20
    # score eligible shapes block-locally (grouped.py): records cross
    # the JVM↔Python boundary once per block/cell instead of once per
    # pair — the O(rows)-traffic scoring path. Covers dedup AND A×B
    # match mode, noop and non-float-column Swap variators. Shapes the
    # group kernel can't express (pair filters, float swap columns,
    # multi-bucket or jointly-keyed indices, non-batch scorers) use
    # the join path regardless of this flag.
    grouped_scoring: bool = True
    # localCheckpoint the keyed side(s) before use. The salted path
    # otherwise evaluates each side up to 3× (hot-key collect — key
    # columns only, recs pruned — plus the cold and hot branches);
    # recompute is pure CPU on a declarative plan, while caching costs
    # executor storage for ids+keys+rec structs. Turn on when the
    # index is expensive to evaluate (QGramIndex explodes grams twice
    # per evaluation) and the recs are narrow.
    cache_keyed_side: bool = False
    # Adaptive cell oversubscription. rows_per_shard alone bounds the
    # WORST task but not the task COUNT: one mass-dominant hot block
    # (24k rows under the defaults) yields only s(s+1)/2 ≈ 78 cells,
    # and those cells HASH into ~cores partitions — collisions plus
    # coarse ~4M-pair granularity mean the last scheduling wave on a
    # wide cluster idles most cores behind a couple of double-loaded
    # tasks (measured p95/p50 ≈ 5.7× on the 4×8-executor bench; the
    # direct limiter of N→4N scaling efficiency). When > 0, a hot
    # block is sharded finely enough that it ALONE yields about
    # oversubscription × partition-count cells, so cells ≫ partitions
    # and hash placement balances statistically — the widening is
    # capped by ``min_shard_rows`` so replication (pairs/shard_rows
    # member rows) and per-group overhead stay negligible next to the
    # pair output. <= 0 disables (pure rows_per_shard sizing).
    # NOTE: new fields live at the END of the dataclass so positional
    # PairingConfig(...) construction keeps its historical meaning.
    cell_oversubscription: float = 4.0
    # shard-size floor for the adaptive widening: never slice a hot
    # block into shards smaller than this many rows (cells of
    # ~min_shard_rows² pairs amortize Arrow/group overhead; also caps
    # replication of small-but-hot blocks). Only blocks with
    # > 2×min_shard_rows rows can be widened past their
    # rows_per_shard-based count.
    min_shard_rows: int = 256


def keyed_side_from_keys(
    df: DataFrame,
    keys: DataFrame,
    row_key: str,
    needed_cols: list[str],
    idx_name: str,
    rec_name: str,
) -> DataFrame:
    """(idx, BLOCK_KEY, rec struct) from a precomputed key frame. Only
    ``needed_cols`` are carried through the shuffle (column pruning by
    construction)."""
    recs = df.select(
        F.col(row_key).alias(idx_name),
        F.struct(*[F.col(c).alias(c) for c in needed_cols]).alias(rec_name),
    )
    return keys.withColumnRenamed(row_key, idx_name).join(recs, on=idx_name)


def keyed_side(
    df: DataFrame,
    index: BaseIndex,
    row_key: str,
    needed_cols: list[str],
    idx_name: str,
    rec_name: str,
) -> DataFrame:
    """(idx, BLOCK_KEY, rec struct) for one side.

    Row-local indices (``index.key_expr`` non-None: ColumnsIndex,
    NoopIndex, PhoneticIndex, ...) compute the key in the SAME
    projection as the rec struct — one scan, no join. Multi-bucket /
    rank-based indices go through ``key_df`` + an idx join; that join
    broadcasts the key frame locally but becomes a corpus double
    shuffle at a scale where keys outgrow the broadcast cap, so never
    pay it for an index that is a plain expression of the row."""
    ke = getattr(index, "key_expr", None)  # tolerate pre-protocol duck types
    expr = ke(df) if callable(ke) else None
    if expr is not None:
        return df.select(
            F.col(row_key).alias(idx_name),
            expr.alias(BLOCK_KEY),
            F.struct(*[F.col(c).alias(c) for c in needed_cols]).alias(rec_name),
        ).where(
            # the key_df path dropped NULL row keys implicitly (inner
            # join on idx); without this filter a NULL key crashes the
            # grouped orientation compare and emits (idx, NULL) pairs
            F.col(BLOCK_KEY).isNotNull() & F.col(idx_name).isNotNull()
        )
    keys = index.key_df(df, row_key)
    return keyed_side_from_keys(df, keys, row_key, needed_cols, idx_name, rec_name)


def block_statistics(side: DataFrame, dedup: bool) -> DataFrame:
    """Per-block row and candidate-pair counts (metrics sink input)."""
    counts = side.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("n_rows"))
    # compute in double: a >4.3e9-row block's long product wraps
    # negative under non-ANSI SQL — a garbage metric for exactly the
    # block that matters most (precision loss past 2^53 beats sign loss)
    n_d = F.col("n_rows").cast("double")
    pair_cnt = (n_d * (n_d - 1) / 2) if dedup else n_d * n_d
    return counts.withColumn("n_pairs", pair_cnt.cast("long"))


def _est_row_bytes(dt) -> int:
    """Static per-row width estimate (bytes) for a Catalyst data type,
    in the spirit of Catalyst's ``defaultSize`` but with variable-width
    types costed pessimistically (string 48, binary 128, containers at
    a nominal 16 elements) — this guards a broadcast decision, so
    over-estimating degrades to a still-correct SortMergeJoin while
    under-estimating risks OOM."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return sum(_est_row_bytes(f.dataType) for f in dt.fields) + 8
    if isinstance(dt, T.ArrayType):
        return 16 * _est_row_bytes(dt.elementType) + 8
    if isinstance(dt, T.MapType):
        return 16 * (_est_row_bytes(dt.keyType) + _est_row_bytes(dt.valueType)) + 8
    if isinstance(dt, T.StringType):
        return 48
    if isinstance(dt, T.BinaryType):
        return 128
    if isinstance(dt, (T.ByteType, T.BooleanType)):
        return 1
    if isinstance(dt, T.ShortType):
        return 2
    if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
        return 4
    return 8  # long / double / decimal / timestamp / anything else


def _cell_target(cfg: PairingConfig, n_parts: int) -> int:
    """Cells one hot block should yield under the adaptive widening
    (oversubscription × partition count); 0 when disabled (a
    non-positive oversubscription or shard-row floor)."""
    if cfg.cell_oversubscription is None or cfg.cell_oversubscription <= 0:
        return 0
    if cfg.min_shard_rows is None or cfg.min_shard_rows <= 0:
        return 0
    import math

    return max(1, math.ceil(float(cfg.cell_oversubscription) * max(1, n_parts)))


def _wide_shard_cap(cfg: PairingConfig, n_parts: int, grid: bool) -> int:
    """Shard-count ceiling implied by ``cell_oversubscription``: the
    smallest s whose cell count reaches oversubscription × n_parts
    (triangular s(s+1)/2 cells for the dedup self-join; per-SIDE
    sqrt(target) for the match grid, where cells = sa·sb — the
    asymmetric-block compensation in candidate_pairs/grouped then
    widens the bigger side toward target/s_other when the smaller
    side's floor binds). 0 when the adaptive widening is disabled."""
    target = _cell_target(cfg, n_parts)
    if not target:
        return 0
    import math

    if grid:
        return max(1, math.ceil(math.sqrt(target)))
    return max(1, math.ceil((math.sqrt(8.0 * target + 1.0) - 1.0) / 2.0))


def _shard_count(
    n: int, cfg: PairingConfig, wide_cap: int, base_floor: int = 2
) -> int:
    """Shards for a hot block of ``n`` rows: the rows_per_shard-based
    count (per-task pair budget), widened toward ``wide_cap`` (cluster-
    width cell oversubscription) but never below ``min_shard_rows``
    rows per shard."""
    base = max(base_floor, -(-n // cfg.rows_per_shard))
    if wide_cap <= base:
        return base
    return max(base, min(wide_cap, -(-n // cfg.min_shard_rows)))


def _grid_shards(
    na: int, nb: int, cfg: PairingConfig, wide_cap: int, target: int
) -> tuple[int, int]:
    """(sa, sb) for a hot A×B match block. Each side first gets the
    symmetric sqrt(target) cap; then, because an asymmetric block's
    small side is usually pinned by its min_shard_rows floor (sb tiny
    ⇒ sa·sb ≪ target — the cells-≫-partitions goal silently missed),
    the bigger side is re-widened toward ceil(target / s_small)."""
    sa = _shard_count(na, cfg, wide_cap, base_floor=1)
    sb = _shard_count(nb, cfg, wide_cap, base_floor=1)
    if target and sa * sb < target:
        if na >= nb:
            sa = _shard_count(na, cfg, max(wide_cap, -(-target // max(1, sb))),
                              base_floor=1)
        else:
            sb = _shard_count(nb, cfg, max(wide_cap, -(-target // max(1, sa))),
                              base_floor=1)
    return sa, sb


def _shard_count_expr(n_col, cfg: PairingConfig, cap, base_floor: int):
    """Column twin of ``_shard_count`` (long-typed; caller casts):
    rows_per_shard-based count, widened toward ``cap`` (an int — 0
    disables — or a Column for the grid's dynamic re-widening) but
    never below ``min_shard_rows`` rows per shard. The grouped path
    uses this so its declarative shard sizing cannot drift from the
    driver-side rule."""
    s = F.greatest(
        F.lit(base_floor).cast("long"),
        F.ceil(n_col / F.lit(cfg.rows_per_shard)),
    )
    if isinstance(cap, Column):
        cap_col = cap
    elif cap:
        cap_col = F.lit(int(cap)).cast("long")
    else:
        return s
    return F.greatest(
        s, F.least(cap_col, F.ceil(n_col / F.lit(cfg.min_shard_rows)))
    )


def _grid_shards_expr(na_col, nb_col, cfg: PairingConfig, wide_cap: int,
                      target: int):
    """Column twin of ``_grid_shards``: per-side sqrt(target) widening,
    then the bigger side re-widened toward ceil(target / s_other) when
    the smaller side's floor pins the cell count under target. Returns
    (sa, sb) as LONG columns (the product guard below stays in long —
    an int32 product would wrap for degenerate mega-blocks)."""
    sa = _shard_count_expr(na_col, cfg, wide_cap, 1)
    sb = _shard_count_expr(nb_col, cfg, wide_cap, 1)
    if target and wide_cap:
        t = F.lit(int(target)).cast("long")
        under = (sa * sb) < t
        cap_a = F.greatest(F.lit(int(wide_cap)).cast("long"), F.ceil(t / sb))
        cap_b = F.greatest(F.lit(int(wide_cap)).cast("long"), F.ceil(t / sa))
        sa, sb = (
            F.when(under & (na_col >= nb_col),
                   _shard_count_expr(na_col, cfg, cap_a, 1)).otherwise(sa),
            F.when(under & (na_col < nb_col),
                   _shard_count_expr(nb_col, cfg, cap_b, 1)).otherwise(sb),
        )
    return sa, sb


def _hot_blocks(side: DataFrame, cfg: PairingConfig):
    """Returns [(block_key, n_shards, n_rows)] for blocks above the
    salt threshold — the LARGEST blocks first, so if the
    ``max_hot_keys`` cap ever bites, the keys that stay unsalted are
    the smallest offenders, never the worst one."""
    rows = (
        side.groupBy(BLOCK_KEY)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cfg.salt_threshold)
        .orderBy(F.col("n").desc(), F.col(BLOCK_KEY).asc())
        .limit(cfg.max_hot_keys)
        .collect()
    )
    wide = _wide_shard_cap(cfg, _n_parts(side, cfg), grid=False)
    return [(r[BLOCK_KEY], _shard_count(r["n"], cfg, wide), r["n"]) for r in rows]


# above this many hot keys, fall back to the pickled-RDD path: a
# literal plan with 100k struct literals would bloat analysis/codegen
# far past the one-off Python-worker cost it avoids
_MAX_LITERAL_HOT = 1_000


def _literal_df(spark, rows: list, schema: str) -> DataFrame:
    """Small driver-side list → DataFrame as a pure-JVM literal plan.

    ``spark.createDataFrame(list)`` ships the rows as PICKLED PYTHON
    partitions, so its first evaluation spins up a Python worker on
    every executor core just to yield a handful of rows — measured
    2.9 s of the 7.8 s candidate-generation wall at 1×8 executors
    (stages with cpu≈0.03 s but run≈8 s), and 4× that cold-start count
    at 4×8: a per-core anti-scaling constant in every salted join.
    ``explode(array(struct(lit..)))`` stays JVM-side end to end: one
    ~10 ms task, no Python anywhere. Used for the hot-key tables
    (≤ _MAX_LITERAL_HOT rows — larger lists fall back)."""
    fields = [f.strip().split() for f in schema.split(",")]
    entries = [
        F.struct(*[
            F.lit(v).cast(t).alias(c) for v, (c, t) in zip(r, fields)
        ])
        for r in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*entries)).alias("__kv"))
        .select("__kv.*")
    )


def _driver_rows_df(spark, rows: list, schema: str) -> DataFrame:
    if 0 < len(rows) <= _MAX_LITERAL_HOT:
        return _literal_df(spark, rows, schema)
    return spark.createDataFrame(rows, schema=schema)


def _parted(side: DataFrame, cfg: PairingConfig) -> DataFrame:
    """Hash-partition a keyed side by block key, unless the caller
    already co-located it (``cfg.pre_partitioned`` — bucketed tables)."""
    if cfg.pre_partitioned:
        return side
    return side.repartition(_n_parts(side, cfg), F.col(BLOCK_KEY))


def _anti_hot(side: DataFrame, hot: list) -> DataFrame:
    """Rows of ``side`` whose block key is NOT hot, via a broadcast
    left-anti join — an IN-list literal of up to max_hot_keys keys
    would bloat the plan/codegen at real scale. ``hot`` tuples lead
    with the key (dedup: (key, s, n); match: (key, sa, sb))."""
    spark = side.sparkSession
    hot_df = F.broadcast(
        _driver_rows_df(spark, [(h[0],) for h in hot], f"{BLOCK_KEY} string")
    )
    return side.join(hot_df, on=BLOCK_KEY, how="left_anti")


def _n_parts(side: DataFrame, cfg: PairingConfig | None = None) -> int:
    """Partition count of every Python pair/score stage: the explicit
    ``cfg.target_partitions``, else one task per core."""
    if cfg is not None and cfg.target_partitions is not None:
        return cfg.target_partitions
    from .session import effective_parallelism

    # one task per core: every Python scoring task pays a fixed
    # start-up cost (NOTES.md), so a second wave of tasks costs more
    # than the balance it buys; hot blocks are still cut into many
    # more cells than partitions (_wide_shard_cap). effective_parallelism
    # is race-free in fresh standalone sessions (see its docstring).
    return effective_parallelism(side.sparkSession)


def _dedup_pairs_plain(side: DataFrame, cfg: PairingConfig) -> DataFrame:
    left = side.select(
        F.col(BLOCK_KEY),
        F.col("idx").alias("idx_a"),
        F.col("rec").alias("a"),
    )
    if not cfg.pre_partitioned:
        left = left.repartition(_n_parts(side, cfg), F.col(BLOCK_KEY))
    right = side.select(
        F.col(BLOCK_KEY),
        F.col("idx").alias("idx_b"),
        F.col("rec").alias("b"),
    )
    return left.join(right, on=BLOCK_KEY).where(F.col("idx_a") < F.col("idx_b"))


def _dedup_pairs_salted(side: DataFrame, hot: list, spark, cfg: PairingConfig) -> DataFrame:
    hot_df = F.broadcast(
        _driver_rows_df(spark, [(k, s) for k, s, _ in hot], f"{BLOCK_KEY} string, __s int")
    )
    tagged = side.join(hot_df, on=BLOCK_KEY).withColumn(
        "__shard", F.pmod(F.xxhash64(F.col("idx")), F.col("__s")).cast("int")
    )
    left = tagged.select(
        F.col(BLOCK_KEY),
        F.col("__shard").alias("__shard_l"),
        F.explode(F.expr("sequence(__shard, __s - 1)")).alias("__tgt"),
        F.col("idx").alias("idx_l"),
        F.col("rec").alias("rec_l"),
        # partition by the shard PAIR, not just the target: per-target
        # load is triangular (target t joins t+1 left shards, so the
        # last target carries s× the first's pairs — measured 4× max/
        # mean partition skew and a 40×-median straggler task on a
        # 5.5k-row hot block). Each (shard_l, tgt) cell is uniform
        # (≤ rows_per_shard² pairs). The hot right side is broadcast,
        # so this partitioning survives into pair blowup + scoring;
        # under an SMJ fallback Catalyst re-exchanges on the join key
        # and this clause is merely redundant, never wrong.
    ).repartition(
        _n_parts(side, cfg), F.col(BLOCK_KEY), F.col("__shard_l"), F.col("__tgt")
    )
    # exact hot-row count: _hot_blocks carries each block's n (the
    # broadcast candidate holds every hot row exactly once)
    est_hot_rows = sum(n for _, _, n in hot)
    est_hot_bytes = est_hot_rows * _est_row_bytes(side.schema["rec"].dataType)
    if est_hot_rows <= cfg.broadcast_hot_rows and est_hot_bytes <= cfg.broadcast_hot_bytes:
        right = F.broadcast(
            tagged.select(
                F.col(BLOCK_KEY),
                F.col("__shard").alias("__tgt"),
                F.col("idx").alias("idx_r"),
                F.col("rec").alias("rec_r"),
            )
        )
        joined = left.join(right, on=[BLOCK_KEY, "__tgt"])
    else:
        # too big to broadcast: replicate each right row to every left
        # shard l <= its own shard t, and put the SHARD PAIR in the
        # join key — the SMJ exchange then partitions by uniform cells
        # instead of triangular targets. Same pair set: left (l, t)
        # meets right (l, t) exactly when l <= t.
        right = tagged.select(
            F.col(BLOCK_KEY),
            F.explode(F.expr("sequence(0, __shard)")).alias("__shard_l"),
            F.col("__shard").alias("__tgt"),
            F.col("idx").alias("idx_r"),
            F.col("rec").alias("rec_r"),
        )
        joined = left.join(right, on=[BLOCK_KEY, "__shard_l", "__tgt"])
    joined = joined.where(
        (F.col("__shard_l") != F.col("__tgt")) | (F.col("idx_l") < F.col("idx_r"))
    )
    fwd = F.col("idx_l") < F.col("idx_r")
    return joined.select(
        F.col(BLOCK_KEY),
        F.when(fwd, F.col("idx_l")).otherwise(F.col("idx_r")).alias("idx_a"),
        F.when(fwd, F.col("rec_l")).otherwise(F.col("rec_r")).alias("a"),
        F.when(fwd, F.col("idx_r")).otherwise(F.col("idx_l")).alias("idx_b"),
        F.when(fwd, F.col("rec_r")).otherwise(F.col("rec_l")).alias("b"),
    )


def _match_pairs_plain(side_a: DataFrame, side_b: DataFrame, cfg: PairingConfig) -> DataFrame:
    left = side_a.select(
        F.col(BLOCK_KEY), F.col("idx").alias("idx_a"), F.col("rec").alias("a")
    )
    if not cfg.pre_partitioned:
        left = left.repartition(_n_parts(side_a, cfg), F.col(BLOCK_KEY))
    right = side_b.select(
        F.col(BLOCK_KEY), F.col("idx").alias("idx_b"), F.col("rec").alias("b")
    )
    return left.join(right, on=BLOCK_KEY)


def _match_pairs_salted(
    side_a: DataFrame, side_b: DataFrame, hot: list, spark, cfg: PairingConfig
) -> DataFrame:
    """Grid sharding for hot match blocks: sharding only one side
    cannot bound per-task output when the OTHER side dwarfs it (one
    A-shard × all of B is still ~nb pairs in one task — the exact
    straggler/OOM this machinery exists to prevent). Each hot key
    carries (sa, sb) = per-side shard counts; a task owns one grid
    CELL with ≤ rows_per_shard rows of each side. The join key carries
    the cell, so even an SMJ fallback exchanges uniformly."""
    hot_df = F.broadcast(
        _driver_rows_df(spark, hot, f"{BLOCK_KEY} string, __sa int, __sb int")
    )
    left = (
        side_a.join(hot_df, on=BLOCK_KEY)
        .withColumn("__ia", F.pmod(F.xxhash64(F.col("idx")), F.col("__sa")).cast("int"))
        .select(
            F.col(BLOCK_KEY),
            F.col("__ia"),
            F.explode(F.expr("sequence(0, __sb - 1)")).alias("__ib"),
            F.col("idx").alias("idx_a"),
            F.col("rec").alias("a"),
        )
        .repartition(
            _n_parts(side_a, cfg), F.col(BLOCK_KEY), F.col("__ia"), F.col("__ib")
        )
    )
    right = (
        side_b.join(hot_df, on=BLOCK_KEY)
        .withColumn("__ib", F.pmod(F.xxhash64(F.col("idx")), F.col("__sb")).cast("int"))
        .select(
            F.col(BLOCK_KEY),
            F.explode(F.expr("sequence(0, __sa - 1)")).alias("__ia"),
            F.col("__ib"),
            F.col("idx").alias("idx_b"),
            F.col("rec").alias("b"),
        )
    )
    return left.join(right, on=[BLOCK_KEY, "__ia", "__ib"]).drop("__ia", "__ib")


def candidate_pairs(
    dfa: DataFrame,
    index: BaseIndex,
    row_key: str,
    needed_cols: list[str],
    dfb: DataFrame | None = None,
    cfg: PairingConfig | None = None,
) -> DataFrame:
    """Candidate-pair frame (idx_a, idx_b, a, b).

    Dedup mode (``dfb is None``): self-join, ``idx_a < idx_b``.
    Match mode: A×B within blocks. Pairs arising from multiple buckets
    (``index.multi_bucket``) are deduplicated.
    """
    cfg = cfg or PairingConfig()
    spark = dfa.sparkSession
    dedup = dfb is None
    pair_keys = None
    if not dedup:
        pair_keys = index.key_df_pair(dfa, dfb, row_key)
        if pair_keys is None and getattr(index, "dedup_only", False):
            raise ValueError(
                f"{type(index).__name__} keys are only comparable within one "
                "dataset (global sort ranks); it cannot be used in match mode"
            )
    if pair_keys is not None:
        side_a = keyed_side_from_keys(
            dfa, pair_keys[0], row_key, needed_cols, "idx", "rec"
        )
    else:
        side_a = keyed_side(dfa, index, row_key, needed_cols, "idx", "rec")
    # ONE upfront hash-partition by block key, BEFORE any caching: the
    # hot-stats aggregation, the anti-hot filter and BOTH sides of the
    # plain (self-)join then share this single exchange — Catalyst's
    # ReuseExchange collapses the two join children to one physical
    # shuffle and the final agg/join need no further exchange because
    # HashPartitioning(block_key) already satisfies their clustering.
    # Previously the self-join shuffled the corpus TWICE (left
    # repartition + right SMJ exchange) and the stats agg again — at
    # 10^12 docs that is the difference between shuffling the corpus
    # once and three times per pairing run.
    # hot-block stats aggregate the PRE-exchange side: the groupBy then
    # runs a map-side partial agg and shuffles only (key, count) rows —
    # aggregating the repartitioned side instead would shuffle the whole
    # corpus a second time just to count it (the stats collect is its
    # own action, so it cannot reuse the pairs query's exchange)
    stats_a = side_a
    side_a = _parted(side_a, cfg)
    if cfg.cache_keyed_side:
        side_a = side_a.localCheckpoint(storageLevel=_ckpt_level())
        # the checkpoint already paid the exchange; counting it needs no
        # shuffle at all AND skips re-evaluating an expensive index
        stats_a = side_a

    if dedup:
        # downstream joins/aggs see HashPartitioning(block_key) already
        # satisfied — _dedup_pairs_plain must not re-shuffle what the
        # upfront exchange (or the caller's buckets) provides
        pcfg = replace(cfg, pre_partitioned=True)
        hot = _hot_blocks(stats_a, cfg) if cfg.salt_enabled else []
        if not hot:
            pairs = _dedup_pairs_plain(side_a, pcfg)
        else:
            cold = _anti_hot(side_a, hot)
            pairs = _dedup_pairs_plain(cold, pcfg).unionByName(
                _dedup_pairs_salted(side_a, hot, spark, cfg)
            )
    else:
        if pair_keys is not None:
            side_b = keyed_side_from_keys(
                dfb, pair_keys[1], row_key, needed_cols, "idx", "rec"
            )
        else:
            side_b = keyed_side(dfb, index, row_key, needed_cols, "idx", "rec")
        stats_b = side_b
        side_b = _parted(side_b, cfg)
        if cfg.cache_keyed_side:
            side_b = side_b.localCheckpoint(storageLevel=_ckpt_level())
            stats_b = side_b
        pcfg = replace(cfg, pre_partitioned=True)
        if cfg.salt_enabled:
            ca = stats_a.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("na"))
            cb = stats_b.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("nb"))
            # double product, not long: na*nb for a degenerate hot key
            # at 10^12-doc scale can exceed Long.MAX and wrap negative
            # under non-ANSI SQL — silently classifying the single
            # hottest block as cold (double loses precision past 2^53
            # but never the > comparison or the ordering that matter)
            prod = F.col("na").cast("double") * F.col("nb").cast("double")
            rows = (
                ca.join(cb, on=BLOCK_KEY)
                .where(prod > F.lit(float(cfg.salt_threshold * cfg.rows_per_shard)))
                .orderBy(prod.desc(), F.col(BLOCK_KEY).asc())
                .limit(cfg.max_hot_keys)
                .collect()
            )
            n_parts_ab = _n_parts(stats_a, cfg)
            wide = _wide_shard_cap(cfg, n_parts_ab, grid=True)
            target = _cell_target(cfg, n_parts_ab)
            hot = []
            for r in rows:
                sa, sb = _grid_shards(r["na"], r["nb"], cfg, wide, target)
                if sa * sb < 2:
                    sb = 2  # a hot key must split SOMETHING
                hot.append((r[BLOCK_KEY], sa, sb))
        else:
            hot = []
        if not hot:
            pairs = _match_pairs_plain(side_a, side_b, pcfg)
        else:
            cold_a = _anti_hot(side_a, hot)
            cold_b = _anti_hot(side_b, hot)
            pairs = _match_pairs_plain(cold_a, cold_b, pcfg).unionByName(
                _match_pairs_salted(side_a, side_b, hot, spark, cfg)
            )

    pairs = pairs.drop(BLOCK_KEY)
    if index.multi_bucket:
        pairs = pairs.dropDuplicates(["idx_a", "idx_b"])
    return pairs


# A row's grid cells as struct(l, t, pos). Dedup: the row pairs with
# every shard c in cell (min(shard, c), max(shard, c)), as the LOW
# member (pos 0) when c >= shard; c == shard is the diagonal cell.
# Match: A rows (pos 0) take cells (shard, c) for every B shard c,
# B rows (pos 1) cells (c, shard) for every A shard c.
_DEDUP_CELLS = (
    "transform(sequence(0, __s - 1), c -> struct(least(__shard, c) AS l, "
    "greatest(__shard, c) AS t, if(c >= __shard, 0, 1) AS pos))"
)
_MATCH_CELLS = (
    "transform(sequence(0, __s_other - 1), c -> "
    "struct(__shard AS l, c AS t, 0 AS pos))",
    "transform(sequence(0, __s_other - 1), c -> "
    "struct(c AS l, __shard AS t, 1 AS pos))",
)

#: the grid-cell key of grouped scoring's groups
_CELL = [BLOCK_KEY, "__l", "__t"]


def _hot_keys(
    counts: DataFrame, size: Column, threshold: float, cfg: PairingConfig,
    shards: dict,
) -> DataFrame:
    """Broadcast (BLOCK_KEY, shard counts…) of the blocks whose
    ``size`` exceeds ``threshold``: at most ``max_hot_keys``, the
    LARGEST first (the policy of _hot_blocks), so a biting cap leaves
    the smallest offenders unsalted. Shard counts are computed INSIDE
    this frame: computed after the left join, a cold row would get
    greatest(2, NULL) = 2 (Spark's greatest() skips NULLs), silently
    doubling every cold row's cell memberships."""
    return F.broadcast(
        counts.where(size > F.lit(float(threshold)))
        .orderBy(size.desc(), F.col(BLOCK_KEY).asc())
        .limit(cfg.max_hot_keys)
        .select(BLOCK_KEY, *[c.cast("int").alias(n) for n, c in shards.items()])
    )


def _members(
    side: DataFrame, hot: DataFrame | None, own: str, other: str, cells: str
) -> DataFrame:
    """``side`` plus (__l, __t, __pos), one row per grid cell. ``own``
    and ``other`` name the hot frame's shard counts of this side and
    of the side it pairs with; rows of blocks missing from ``hot``
    (cold, or salting off) have one shard."""
    cols = side.columns
    if hot is None:
        tagged = side.select(*cols, F.lit(1).alias("__s"), F.lit(1).alias("__s_other"))
    else:
        # broadcast LEFT join of the bounded hot tail: left to its own
        # estimates Catalyst plans an unfiltered counts join as an SMJ
        # that re-shuffles the whole corpus by key (plan-verified)
        tagged = side.join(hot, on=BLOCK_KEY, how="left").select(
            *cols,
            F.coalesce(F.col(own), F.lit(1)).alias("__s"),
            F.coalesce(F.col(other), F.lit(1)).alias("__s_other"),
        )
    tagged = tagged.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col("idx")), F.col("__s")).cast("int")
    )
    return tagged.select(*cols, F.explode(F.expr(cells)).alias("__c")).select(
        *cols,
        F.col("__c.l").alias("__l"),
        F.col("__c.t").alias("__t"),
        F.col("__c.pos").alias("__pos"),
    )


def cell_members(
    side_a: DataFrame, cfg: PairingConfig, side_b: DataFrame | None = None
):
    """Grid-cell memberships for grouped scoring, as ONE declarative
    plan: which blocks are hot, how many shards each gets (the same
    hot rules and Column shard counts as the join path above), and
    which cells each row belongs to. Each keyed side (idx, BLOCK_KEY,
    payload…) gains (__l, __t, __pos), one row per cell; a COLD row
    contributes exactly ONE row, cell (0, 0) — the O(rows) traffic
    guarantee of grouped scoring (pinned by tests/test_grouped.py).
    Returns the dedup member frame, or the (A, B) member frames in
    match mode.

    Block sizes come from map-side partial aggregations (the shuffle
    carries (key, count) rows, never the corpus) inside the same plan:
    no driver action runs."""
    n_parts = _n_parts(side_a, cfg)
    hot = None
    if side_b is None:
        if cfg.salt_enabled:
            n = F.col("__n")
            wide = _wide_shard_cap(cfg, n_parts, grid=False)
            hot = _hot_keys(
                side_a.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("__n")),
                n, cfg.salt_threshold, cfg,
                {"__s": _shard_count_expr(n, cfg, wide, base_floor=2)},
            )
        return _members(side_a, hot, "__s", "__s", _DEDUP_CELLS)
    if cfg.salt_enabled:
        ca = side_a.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("__na"))
        cb = side_b.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("__nb"))
        # hot iff the PAIR PRODUCT na·nb exceeds the budget, in double
        # as in candidate_pairs (a degenerate key's long product can
        # wrap negative under non-ANSI SQL)
        prod = F.col("__na").cast("double") * F.col("__nb").cast("double")
        wide = _wide_shard_cap(cfg, n_parts, grid=True)
        sa, sb = _grid_shards_expr(
            F.col("__na"), F.col("__nb"), cfg, wide, _cell_target(cfg, n_parts)
        )
        # a hot key must split SOMETHING; the guard stays in long (an
        # int32 sa·sb would wrap for a degenerate mega-block)
        sb = F.when(sa * sb < 2, F.lit(2).cast("long")).otherwise(sb)
        hot = _hot_keys(
            ca.join(cb, on=BLOCK_KEY), prod,
            cfg.salt_threshold * cfg.rows_per_shard, cfg,
            {"__sa": sa, "__sb": sb},
        )
    return (
        _members(side_a, hot, "__sa", "__sb", _MATCH_CELLS[0]),
        _members(side_b, hot, "__sb", "__sa", _MATCH_CELLS[1]),
    )
