"""Block-local grouped scoring: Arrow traffic O(rows), not O(pairs).

The join-based path (pairing.py + a fused pair-row UDF) materializes
every candidate pair as a JVM row carrying BOTH records, then ships
each scored field through Arrow once per pair — for a block of n rows
that is ~n²/2 record copies across the JVM↔Python boundary. Profiling
on this sandbox (BENCH.md round-5 scaling sections) shows that marshal
traffic, not kernel compute, is what caps multi-executor scaling once
the hardware's memory bandwidth stops scaling with cores.

This path instead ships each record ONCE: the keyed side is grouped by
block (hot blocks by grid cell) and scored inside ``applyInPandas`` —
pair enumeration is two NumPy index arrays into the group's columns,
and the only O(pairs) data anywhere is the (idx_a, idx_b, sim_score)
output. At reference scale (10^12 docs, mean block 40) that is the
difference between ~petabytes and ~tens of TB of Arrow traffic.

Skew handling is FULLY DECLARATIVE — no driver round-trip: each row's
grid-cell memberships come from ``pairing.cell_members``, beside the
join path's hot rules and shard counts. A cold block is the single
cell (0, 0). Dedup cell (l, t), l < t, scores its low × high cross
product and the diagonal cell (l, l) its in-shard triangle — the
enumeration _dedup_pairs_salted proves via its join; every match cell
scores its full A × B cross product — the GRID sharding of
_match_pairs_salted as group membership.

Pair-set and score parity with the join path is bit-identical
(SimSumScorer._score_core / _swap_max_core are the shared
implementations) and pinned by tests/test_grouped.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .indices import BLOCK_KEY, BaseIndex
from .pairing import _CELL, PairingConfig, _n_parts, cell_members, keyed_side

__all__ = [
    "grouped_scored_pairs",
    "grouped_scored_pairs_bucketed",
    "supports_grouped_scoring",
    "supports_grouped_scoring_bucketed",
]


def _shape_ok(scorer, variator, field_types: list[dict]) -> bool:
    """Scorer/variator eligibility shared by the runtime and bucketed
    grouped paths. ``field_types`` holds one {column: dataType} dict
    per record schema the kernel will see (the float-swap exclusion
    must hold on every side)."""
    from .scorers import SimSumScorer
    from .variators import Swap

    if type(scorer) is not SimSumScorer or not scorer.can_swap_fuse():
        return False
    if variator is None or variator.is_noop:
        return True
    if type(variator) is not Swap:
        return False
    for flds in field_types:
        for c in (variator._col_a, variator._col_b):
            if isinstance(flds.get(c), (T.FloatType, T.DoubleType)):
                return False
    return True


def supports_grouped_scoring(
    index: BaseIndex, scorer, variator, filters, dfb, dfa: DataFrame,
    row_key: str,
) -> bool:
    """The shapes the grouped path covers today: a single-bucket
    per-side index, no pair filters, a noop variator OR a Swap over
    non-float columns, and a SimSumScorer whose every similarity has a
    batch kernel — in dedup OR match mode. Everything else keeps the
    join path (filters are JVM pair predicates, multi-bucket indices
    dedup pairs BEFORE scoring, jointly-keyed indices need the
    key_df_pair frames, float swap columns need the JVM eqNullSafe
    gate — the group kernel runs after Arrow→pandas where float NULL
    ≡ NaN)."""
    if filters or index.multi_bucket:
        return False
    if dfb is not None:
        if getattr(index, "dedup_only", False):
            return False
        if index.key_df_pair(dfa, dfb, row_key) is not None:
            return False  # jointly-keyed (e.g. SNI match mode)
        # the tagged union needs every carried column to have ONE type
        # per side: a widening coercion (int ↔ float) would silently
        # round values the join path ships exact — breaking bit-parity
        # — and an un-widenable pair would throw where the join path
        # runs. Missing columns also fall back so the join path raises
        # its usual loud error.
        needed = {row_key} | scorer.required_columns()
        if variator is not None:
            needed |= variator.required_columns()
        ta = {f.name: f.dataType for f in dfa.schema.fields}
        tb = {f.name: f.dataType for f in dfb.schema.fields}
        for c in needed:
            if c not in ta or c not in tb or ta[c] != tb[c]:
                return False
    schemas = [
        {f.name: f.dataType for f in d.schema.fields}
        for d in ((dfa,) if dfb is None else (dfa, dfb))
    ]
    return _shape_ok(scorer, variator, schemas)


def supports_grouped_scoring_bucketed(
    spark, tables, scorer, variator, filters
) -> bool:
    """Bucketed-tables analogue: eligible when the pair shapes are
    (no filters, noop/non-float-Swap, batch SimSumScorer), no table is
    multi-bucket (the join path dedups pairs BEFORE scoring), and in
    match mode both tables agree on idx and every rec field's type."""
    from .bucketing import _table_multi_bucket

    if filters:
        return False
    for t in tables:
        if _table_multi_bucket(spark, t):
            return False
    # idx dtype tracked SEPARATELY from rec fields: a rec field that
    # happens to be named 'idx' must not shadow the row-key type in
    # the match-mode equality check (review r5)
    idx_types, recs = [], []
    for t in tables:
        sch = spark.table(t).schema
        idx_types.append(sch["idx"].dataType)
        recs.append(
            {f.name: f.dataType for f in sch["rec"].dataType.fields}
        )
    if len(recs) == 2:
        if idx_types[0] != idx_types[1]:
            return False
        needed = set(scorer.required_columns())
        if variator is not None:
            needed |= variator.required_columns()
        for c in needed:
            if c not in recs[0] or recs[0][c] != recs[1].get(c):
                return False
    return _shape_ok(scorer, variator, recs)


def _flat_side(df, index, row_key, needed, fmap):
    side = keyed_side(df, index, row_key, needed, "idx", "rec")
    return side.select(
        "idx",
        BLOCK_KEY,
        *[F.col(f"rec.{c}").alias(fmap[c]) for c in needed],
    )


def grouped_scored_pairs(
    dfa: DataFrame,
    index: BaseIndex,
    row_key: str,
    scorer,
    cfg: PairingConfig | None = None,
    variator=None,
    dfb: DataFrame | None = None,
) -> DataFrame:
    """(idx_a, idx_b, sim_score) for every within-block pair — the
    grouped twin of candidate_pairs + fused scoring, one Spark action,
    zero driver collects. Dedup mode (``dfb`` None): unordered pairs,
    idx_a < idx_b. Match mode: A×B, idx_a from ``dfa``. With a Swap
    ``variator``, scores are max-over-variants via the same shared
    core as compile_swap_max."""
    cfg = cfg or PairingConfig()
    dedup = dfb is None
    swap_cols = None
    if variator is not None and not variator.is_noop:
        swap_cols = (variator._col_a, variator._col_b)
    needed = set(scorer.required_columns())
    if variator is not None:
        needed |= variator.required_columns()
    needed = sorted(needed)
    # flatten rec to collision-proof positional names; the group kernel
    # maps them back to the scorer's field names
    fmap = {c: f"__f{i}" for i, c in enumerate(needed)}

    side_a = _flat_side(dfa, index, row_key, needed, fmap)
    idx_a_type = idx_b_type = side_a.schema["idx"].dataType
    if dedup:
        members = cell_members(side_a, cfg)
    else:
        side_b = _flat_side(dfb, index, row_key, needed, fmap)
        idx_b_type = side_b.schema["idx"].dataType
        members_a, members_b = cell_members(side_a, cfg, side_b)
        members = members_a.unionByName(members_b)

    # explicit REPARTITION_BY_NUM: a groups-scoring stage's output is
    # quadratic in its input, so AQE coalescing by INPUT bytes would
    # funnel the whole pair blowup into a handful of fat tasks. The
    # pinned-width hash partition on the exact grouping keys also
    # guarantees every (block, cell) group is wholly contained in one
    # partition — the co-location contract the merged scorer needs.
    members = members.repartition(_n_parts(side_a, cfg), *_CELL)

    return _score_groups(
        members, {k: fmap[k] for k in needed}, scorer, swap_cols, dedup,
        idx_a_type, idx_b_type, merged=True,
    )


#: pair budget per merged kernel call: bounds the position/gather
#: arrays of one _score_core invocation (~16 MB of index arrays plus
#: the gathered field Series) while staying far above the point where
#: per-call overhead is amortized (measured flat beyond ~100k pairs).
_MERGED_PAIR_BUDGET = 2_000_000

#: triangle-index cache cap: np.triu_indices(n) costs O(n²) to build
#: and small-block sizes repeat heavily, but one 4096-row triangle is
#: ~128 MB of int64 — cache only the small ones.
_TRIU_CACHE_MAX_N = 512


def _group_starts(pdf, import_np, import_pd):
    """Start offsets of each maximal run of equal (block, l, t) keys in
    a key-sorted pandas frame. Null-safe (None/NaN keys compare equal
    to themselves, matching groupBy semantics); struct keys arrive as
    dicts and compare by value."""
    np = import_np
    n = len(pdf)
    same = np.ones(n, dtype=bool)
    for c in (BLOCK_KEY, "__l", "__t"):
        s = pdf[c]
        prev = s.shift()
        eq = (s == prev)
        try:
            both_na = (s.isna() & prev.isna())
        except (TypeError, ValueError):  # pragma: no cover - exotic key types
            both_na = None
        eqv = eq.fillna(False).to_numpy(dtype=bool)
        if both_na is not None:
            eqv = eqv | both_na.to_numpy(dtype=bool)
        same &= eqv
    if n:
        same[0] = False
    return np.flatnonzero(~same)


def _score_groups(
    members, field_cols, scorer, swap_cols, dedup, idx_a_type, idx_b_type,
    merged: bool = False,
):
    """Grouped scoring shared by the runtime (salted grid cells) and
    bucketed (whole blocks as cell (0, 0)) grouped paths.

    ``merged=True`` — the runtime path: the members frame is already
    hash-partitioned on exactly (block, l, t) (the explicit pre-blowup
    repartition), so every group is wholly inside one partition and a
    ``sortWithinPartitions`` + ``mapInPandas`` pass can score THOUSANDS
    of groups per kernel call. Per-call fixed costs (pandas gathers,
    kernel setup, ~5 ms at 300-pair blocks — the dominant cost when
    mean block size is small) amortize across the whole Arrow batch
    instead of being paid per block. Pair enumeration, orientation and
    kernels are row-local, so scores are bit-identical to the
    per-group path (pinned by tests/test_grouped.py).

    ``merged=False`` — the bucketed dedup path: co-location comes from
    the bucket layout, which Spark only preserves when the plan
    REQUIRES the distribution, so this path keeps groupBy +
    applyInPandas (zero exchanges)."""
    if swap_cols is None:
        score_positions = scorer.score_positions
    else:
        sx, sy = swap_cols
        swap_max = scorer.score_positions_swap_max

        def score_positions(cols, pa, pb):
            return swap_max(cols, pa, pb, sx, sy)

    def _score_positions_df(pdf, ii, jj):
        """Score position pairs (ii, jj) into the shared output shape.
        The orientation + kernel body of the original per-group scorer,
        verbatim — callers differ only in how they enumerate (ii, jj).
        """
        import numpy as np
        import pandas as pd

        # idx keeps the ROW KEY's type — often string, where numpy
        # holds Python str objects; Python's code-point ordering equals
        # Spark's UTF8String byte ordering (UTF-8 preserves code-point
        # order), so orientation matches the join path's `<` exactly
        idx = pdf["idx"].to_numpy()
        if ii.size == 0:
            return pd.DataFrame(
                {
                    "idx_a": idx[:0],
                    "idx_b": idx[:0],
                    "sim_score": np.array([], dtype=np.float64),
                }
            )
        ia, ib = idx[ii], idx[jj]
        if dedup:
            # orient BEFORE scoring: the join path scores (min-idx
            # record, max-idx record), so an asymmetric kernel stays
            # bit-identical
            swap = ia > ib
            pa = np.where(swap, jj, ii)
            pb = np.where(swap, ii, jj)
            out_a = np.where(swap, ib, ia)
            out_b = np.where(swap, ia, ib)
        else:
            # match mode: idx_a is always the A-side row
            pa, pb, out_a, out_b = ii, jj, ia, ib
        cols = {k: pdf[c] for k, c in field_cols.items()}
        score = score_positions(cols, pa, pb)
        return pd.DataFrame(
            {"idx_a": out_a, "idx_b": out_b, "sim_score": score}
        )

    def score_group(pdf):
        import numpy as np

        if dedup and pdf["__l"].iat[0] == pdf["__t"].iat[0]:
            n = len(pdf)
            ii, jj = np.triu_indices(n, k=1)
        else:
            low = np.flatnonzero((pdf["__pos"] == 0).to_numpy())
            high = np.flatnonzero((pdf["__pos"] == 1).to_numpy())
            ii = np.repeat(low, len(high))
            jj = np.tile(high, len(low))
        return _score_positions_df(pdf, ii, jj)

    def score_partition(pdfs):
        """Merged scorer: one partition's key-sorted stream of Arrow
        batches → kernel calls over MANY complete groups at once.
        Groups spanning batch boundaries are carried forward whole;
        a slice is flushed when its pair budget fills."""
        import numpy as np
        import pandas as pd

        triu_cache: dict = {}

        def pairs_of(start, end, l_arr, t_arr, pos_arr):
            if dedup and l_arr[start] == t_arr[start]:
                n = end - start
                if n <= _TRIU_CACHE_MAX_N:
                    cached = triu_cache.get(n)
                    if cached is None:
                        cached = np.triu_indices(n, k=1)
                        triu_cache[n] = cached
                    ti, tj = cached
                else:
                    ti, tj = np.triu_indices(n, k=1)
                return ti + start, tj + start
            grp = pos_arr[start:end]
            low = np.flatnonzero(grp == 0) + start
            high = np.flatnonzero(grp == 1) + start
            return np.repeat(low, len(high)), np.tile(high, len(low))

        def emit(pdf, starts):
            if not len(pdf) or not len(starts):
                return
            ends = np.append(starts[1:], len(pdf))
            l_arr = pdf["__l"].to_numpy()
            t_arr = pdf["__t"].to_numpy()
            pos_arr = pdf["__pos"].to_numpy() if "__pos" in pdf else None
            acc_i: list = []
            acc_j: list = []
            acc = 0
            for s, e in zip(starts, ends):
                gi, gj = pairs_of(int(s), int(e), l_arr, t_arr, pos_arr)
                if gi.size:
                    acc_i.append(gi)
                    acc_j.append(gj)
                    acc += gi.size
                if acc >= _MERGED_PAIR_BUDGET:
                    yield _score_positions_df(
                        pdf, np.concatenate(acc_i), np.concatenate(acc_j)
                    )
                    acc_i, acc_j, acc = [], [], 0
            if acc:
                yield _score_positions_df(
                    pdf, np.concatenate(acc_i), np.concatenate(acc_j)
                )

        carry = None
        for pdf in pdfs:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            starts = _group_starts(pdf, np, pd)
            # the last run may continue into the next batch — hold it
            last = int(starts[-1])
            carry = pdf.iloc[last:].reset_index(drop=True)
            yield from emit(pdf.iloc[:last], starts[:-1])
        if carry is not None and len(carry):
            yield from emit(carry, _group_starts(carry, np, pd))

    out_schema = T.StructType(
        [
            T.StructField("idx_a", idx_a_type),
            T.StructField("idx_b", idx_b_type),
            T.StructField("sim_score", T.DoubleType()),
        ]
    )
    if merged:
        return members.sortWithinPartitions(
            BLOCK_KEY, "__l", "__t"
        ).mapInPandas(score_partition, schema=out_schema)
    return members.groupBy(BLOCK_KEY, "__l", "__t").applyInPandas(
        score_group, schema=out_schema
    )


def grouped_scored_pairs_bucketed(
    spark,
    table_a: str,
    scorer,
    table_b: str | None = None,
    variator=None,
    dedupe_multi_bucket: bool | None = None,
) -> DataFrame:
    """Grouped scoring straight off bucketed keyed-side tables
    (bucketing.py): in dedup mode the plan has ZERO exchanges — the
    bucket layout's HashPartitioning(block_key) already satisfies the
    group clustering, so scoring a recurring corpus costs one bucketed
    scan plus the in-partition sort. Match mode unions the two tables
    (a union discards co-partitioning), so it pays one narrow-row
    exchange of the tagged union.

    Like ``bucketed_candidate_pairs``, hot-block salting is NOT
    applied — one group per block; salt at write time for skewed
    corpora or use the runtime path.

    ``dedupe_multi_bucket=None`` reads the ``datamatch.multi_bucket``
    table property (OR across tables) like ``bucketed_candidate_pairs``
    — for multi-bucket tables each N-bucket pair is scored N times
    (identical bits) and deduplicated on output."""
    from .bucketing import _table_multi_bucket

    dedup = table_b is None
    if dedupe_multi_bucket is None:
        dedupe_multi_bucket = _table_multi_bucket(spark, table_a) or (
            table_b is not None and _table_multi_bucket(spark, table_b)
        )
    swap_cols = None
    if variator is not None and not variator.is_noop:
        swap_cols = (variator._col_a, variator._col_b)
    needed = set(scorer.required_columns())
    if variator is not None:
        needed |= variator.required_columns()
    needed = sorted(needed)
    fmap = {c: f"__f{i}" for i, c in enumerate(needed)}

    def flat(tbl, pos):
        t = spark.table(tbl)
        return t.select(
            "idx",
            BLOCK_KEY,
            *[F.col(f"rec.{c}").alias(fmap[c]) for c in needed],
            F.lit(0).alias("__l"),
            F.lit(0).alias("__t"),
            F.lit(pos).alias("__pos"),
        ).where(
            # tables written by a pre-r5 keyed_side (or by hand) may
            # carry NULL idx/key rows the join path dropped implicitly;
            # a NULL idx crashes the group orientation compare
            F.col("idx").isNotNull() & F.col(BLOCK_KEY).isNotNull()
        )

    side_a = flat(table_a, 0)
    idx_a_type = side_a.schema["idx"].dataType
    if dedup:
        members = side_a
        idx_b_type = idx_a_type
    else:
        side_b = flat(table_b, 1)
        idx_b_type = side_b.schema["idx"].dataType
        members = side_a.unionByName(side_b)
        # the union lost the buckets' co-partitioning; pin the group
        # exchange width so AQE cannot coalesce the narrow input into
        # few fat pair-producing tasks
        members = members.repartition(_n_parts(members), F.col(BLOCK_KEY))

    # match mode just repartitioned by block (co-locating every (block,
    # l, t) group), so it can use the merged scorer; dedup mode's
    # zero-exchange contract relies on the bucket layout, which Spark
    # only keeps for plans that REQUIRE the distribution — groupBy does,
    # mapInPandas would not, so dedup stays on the per-group path.
    scored = _score_groups(
        members, {k: fmap[k] for k in needed}, scorer, swap_cols, dedup,
        idx_a_type, idx_b_type, merged=not dedup,
    )
    if dedupe_multi_bucket:
        # copies of a pair from different buckets carry identical bits
        # (same records, same kernel), so keeping any one is exact
        scored = scored.dropDuplicates(["idx_a", "idx_b"])
    return scored
