"""ThresholdMatcher: the engine's main entry point.

Mirrors the reference API (/root/reference/datamatch/matchers.py:35-474)
re-expressed as one lazy Catalyst plan:

    derive blocking keys → (salted) inner equi-join → filter predicates
    → variant explode → per-field sim columns (Column exprs + Arrow
    pandas UDFs) → score expression → per-pair variant max
    → [match mode] greedy 1:1 fixpoint
    → threshold slice → CC (large-star/small-star) → clique split
    → window-ranked report frames joined back to the source rows.

Determinism: all order-dependent steps use the total pair order
(sim_score DESC, idx_a ASC, idx_b ASC) — see SURVEY.md §8.2.

Scoring is materialized once (``localCheckpoint`` or, when a
``checkpoint_dir`` is given, a parquet stage checkpoint that a restarted
job reuses — the sandbox stand-in for Iceberg snapshot resumability).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .clustering import (
    connected_components,
    greedy_one_to_one,
    split_clique_members,
    split_cliques,
)
from .filters import BaseFilter
from .indices import BaseIndex
from .pairing import PairingConfig, _n_parts, candidate_pairs
from .scorers import CompileCtx, coerce_scorer
from .variators import Variator

__all__ = ["ThresholdMatcher", "MODE_MATCH", "MODE_DEDUP"]

MODE_MATCH = 1
MODE_DEDUP = 2

_ORDER_ASC = lambda: [F.col("sim_score").asc(), F.col("idx_a").asc(), F.col("idx_b").asc()]  # noqa: E731
_ORDER_DESC = lambda: [F.col("sim_score").desc(), F.col("idx_a").asc(), F.col("idx_b").asc()]  # noqa: E731


def _call_variants(variator, struct_col, fields, rec_schema):
    """Pass the record schema to variators that accept it (Swap's
    type-aware missing gate) while tolerating user subclasses written
    against the original two-argument signature."""
    try:
        return variator.variants(struct_col, fields, schema=rec_schema)
    except TypeError as e:
        if "schema" not in str(e):
            raise
        return variator.variants(struct_col, fields)


class ThresholdMatcher:
    """Blocked pairwise scoring with threshold classification.

    :param index: blocking index (``BaseIndex``).
    :param scorer: ``BaseScorer`` | dict(col → similarity) | callable
        (dict → SimSumScorer, callable → per-row FuncScorer, mirroring
        reference matchers.py:89-94).
    :param dfa: left Spark DataFrame. Must contain ``row_key``.
    :param dfb: right frame → match mode; None → dedup mode.
    :param variator: optional ``Variator``.
    :param filters: list of ``BaseFilter``.
    :param row_key: name of the unique row-key column.
    :param validate: run the duplicate-row-key / equal-columns guards
        (two tiny Spark jobs) before planning, as the reference does
        (pairers.py:84-91). Disable for production-scale runs where the
        key is known unique.
    :param defer: don't materialize scores at construction time.
    :param score_partitions: optional extra round-robin repartition of
        the pair frame before scoring. Default None: pair generation
        already repartitions the cheap keyed side pre-blowup
        (PairingConfig.target_partitions), so pairs and scoring run
        wide with no post-join shuffle; set a number only when a custom
        pairing path leaves the pair frame under-partitioned. ``"auto"``
        uses pair generation's width (one task per core, or
        ``target_partitions``).
    """

    def __init__(
        self,
        index: BaseIndex,
        scorer,
        dfa: DataFrame,
        dfb: DataFrame | None = None,
        variator: Variator | None = None,
        filters: list[BaseFilter] | None = None,
        row_key: str = "row_key",
        pairing_config: PairingConfig | None = None,
        validate: bool = True,
        defer: bool = False,
        checkpoint_dir: str | None = None,
        score_partitions: int | str | None = None,
        metrics_sink=None,
        keyed_tables: str | tuple[str, str] | None = None,
        one_to_one_max_iter: int = 100,
    ) -> None:
        self._mode = MODE_DEDUP if dfb is None else MODE_MATCH
        if isinstance(keyed_tables, str):
            keyed_tables = (keyed_tables,)
        if keyed_tables is not None:
            want = 1 if dfb is None else 2
            if len(keyed_tables) != want:
                raise ValueError(
                    f"keyed_tables must name {want} table(s) for "
                    f"{'dedup' if want == 1 else 'match'} mode"
                )
        self._keyed_tables = keyed_tables
        self._index = index
        self._scorer = coerce_scorer(scorer)
        self._dfa = dfa
        self._dfb = dfb
        self._variator = variator if variator is not None else Variator()
        self._filters = list(filters or [])
        self._row_key = row_key
        self._cfg = pairing_config or PairingConfig()
        self._checkpoint_dir = checkpoint_dir
        self._score_partitions = score_partitions
        self._one_to_one_max_iter = int(one_to_one_max_iter)
        self._metrics_sink = metrics_sink
        self._scored: DataFrame | None = None
        self._n_candidate_pairs: int | None = None

        if row_key not in dfa.columns:
            raise KeyError(f"row_key column {row_key!r} not in dfa")
        if validate:
            self._validate()
        if not defer:
            self.scored_pairs  # noqa: B018 - eager materialization

    # ------------------------------------------------------------------
    # plan construction
    # ------------------------------------------------------------------

    def _validate(self) -> None:
        dup = (
            self._dfa.groupBy(self._row_key)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError("Dataframe row_key contains duplicates.")
        if self._dfb is not None:
            if set(self._dfa.columns) != set(self._dfb.columns):
                raise ValueError("Dataframe columns are not equal.")
            dupb = (
                self._dfb.groupBy(self._row_key)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dupb:
                raise ValueError("Dataframe row_key contains duplicates.")

    def _needed_columns(self) -> list[str]:
        req: set[str] = set()
        req |= self._scorer.required_columns()
        for f in self._filters:
            req |= f.required_columns()
        req |= self._variator.required_columns()
        # FuncScorer with no declared columns sees the WHOLE record
        # (per-row AND batch mode — the reference callback receives the
        # full Series); pruning to one arbitrary column would silently
        # corrupt user scores
        if getattr(self._scorer, "wants_full_record", False) or (
            getattr(self._scorer, "_per_row", False)
            and not self._scorer.required_columns()
        ):
            req |= set(self._dfa.columns)
        cols = [c for c in self._dfa.columns if c != self._row_key and c in req]
        if not cols:
            # degenerate but legal (e.g. scorer only uses row keys)
            cols = [c for c in self._dfa.columns if c != self._row_key][:1]
        return cols

    def _build_scored(self) -> DataFrame:
        needed = self._needed_columns()
        from .grouped import grouped_scored_pairs, supports_grouped_scoring

        if (
            self._cfg.grouped_scoring
            and self._keyed_tables is None
            and self._score_partitions is None
            and supports_grouped_scoring(
                self._index, self._scorer, self._variator, self._filters,
                self._dfb, self._dfa, self._row_key,
            )
        ):
            # block-local scoring: Arrow traffic O(rows) not O(pairs),
            # one action, no driver hot-key collect (grouped.py)
            return grouped_scored_pairs(
                self._dfa, self._index, self._row_key, self._scorer,
                cfg=self._cfg, variator=self._variator, dfb=self._dfb,
            )
        if self._keyed_tables is not None:
            # pre-bucketed keyed sides (bucketing.py): the blocked pair
            # join reads bucket-co-located tables and runs with ZERO
            # shuffle exchanges — the amortized path for recurring
            # linkage over the same corpus (the parquet form of an
            # Iceberg bucket(N, block_key) layout).
            from .bucketing import bucketed_candidate_pairs

            spark = self._dfa.sparkSession
            # every keyed table must carry the needed rec fields — in
            # match mode a gap in the SECOND table would otherwise
            # surface later as an opaque AnalysisException deep in the
            # pair join instead of this loud, actionable error.
            for tbl in self._keyed_tables:
                rec_fields = set(
                    spark.table(tbl).schema["rec"].dataType.fieldNames()
                )
                missing = set(needed) - rec_fields
                if missing:
                    raise ValueError(
                        f"bucketed keyed table {tbl!r} lacks columns "
                        f"{sorted(missing)} required by the scorer/"
                        f"filters/variator; re-save it with those columns"
                    )
            from .grouped import (
                grouped_scored_pairs_bucketed,
                supports_grouped_scoring_bucketed,
            )

            if (
                self._cfg.grouped_scoring
                and self._score_partitions is None
                and supports_grouped_scoring_bucketed(
                    spark, self._keyed_tables, self._scorer,
                    self._variator, self._filters,
                )
            ):
                # dedup off buckets: grouped scoring with ZERO
                # exchanges — HashPartitioning(block_key) from the
                # bucket layout satisfies the group clustering
                tbl_b = (
                    self._keyed_tables[1]
                    if len(self._keyed_tables) == 2
                    else None
                )
                return grouped_scored_pairs_bucketed(
                    spark, self._keyed_tables[0], self._scorer,
                    table_b=tbl_b, variator=self._variator,
                )
            pairs = bucketed_candidate_pairs(spark, *self._keyed_tables)
        else:
            pairs = candidate_pairs(
                self._dfa,
                self._index,
                self._row_key,
                needed,
                dfb=self._dfb,
                cfg=self._cfg,
            )
        rec_schema = pairs.schema["a"].dataType
        for flt in self._filters:
            pairs = pairs.where(flt.predicate("a", "b", rec_schema))
        if self._score_partitions is not None:
            n_parts = self._score_partitions
            if n_parts == "auto":
                n_parts = _n_parts(pairs, self._cfg)
            elif not isinstance(n_parts, int):
                # repartition('64') would treat the string as a COLUMN
                # name and die with an opaque UNRESOLVED_COLUMN
                raise ValueError(
                    f"score_partitions must be an int or 'auto', got "
                    f"{n_parts!r}"
                )
            pairs = pairs.repartition(n_parts)
        mv = self._variator.max_variants
        from .variators import Swap

        # float swap columns included: the fused UDF's swap gate is
        # computed JVM-side (~eqNullSafe boolean inputs), so the
        # Arrow NULL-vs-NaN ambiguity that used to force those pairs
        # onto the 4x inline-combo path is gone (VERDICT r4 #4)
        swap_fusable = (
            type(self._variator) is Swap
            and callable(getattr(self._scorer, "compile_swap_max", None))
            and self._scorer.can_swap_fuse()
        )
        if self._variator.is_noop:
            ctx = CompileCtx(df=pairs)
            score = self._scorer.compile(ctx)
            scored = ctx.df.withColumn("sim_score", score.cast("double")).select(
                "idx_a", "idx_b", "sim_score"
            )
        elif swap_fusable:
            # Swap + all-batch SimSumScorer: ONE fused UDF computes the
            # max over all 4 variant combos, scoring invariant fields
            # once and the swapped pair's cross sims only on the rows
            # whose combo is valid — kernel work 1x + O(swap-rate)
            # instead of the inline-combo path's unconditional 4x
            # (pandas UDFs evaluate the full batch under a F.when
            # guard). Bit-identical output (see compile_swap_max).
            ctx = CompileCtx(df=pairs)
            score = self._scorer.compile_swap_max(
                ctx, self._variator._col_a, self._variator._col_b
            )
            scored = ctx.df.withColumn("sim_score", score.cast("double")).select(
                "idx_a", "idx_b", "sim_score"
            )
        elif mv is not None and mv <= 4:
            # small static variant bound (e.g. Swap: ≤2 per side):
            # score every variant combination as a COLUMN and take
            # greatest — zero explode, zero per-pair max shuffle.
            # Out-of-range combos are guarded to NULL (greatest ignores
            # NULLs), matching max-over-variations semantics
            # (reference matchers.py:138-144). The combo pandas-UDF
            # scores batch into a couple of ArrowEvalPython nodes over
            # the UNEXPLODED rows — vs explode mode's UDF over up to
            # mv² × rows plus a full groupBy shuffle of scored rows.
            fields = rec_schema.fieldNames()
            pairs = pairs.withColumn(
                "__va", _call_variants(self._variator, F.col("a"), fields, rec_schema)
            ).withColumn(
                "__vb", _call_variants(self._variator, F.col("b"), fields, rec_schema)
            )
            # ONE projection adds every variant slot, so all combo
            # UDFs' inputs coexist at a single plan level and extract
            # into a single ArrowEvalPython batch
            variant_cols = [
                F.get(F.col(f"__v{s}"), i).alias(f"__v{s}{i}")
                for s in ("a", "b")
                for i in range(mv)
            ]
            ctx = CompileCtx(df=pairs.select("*", *variant_cols))
            combo_scores = []
            for i in range(mv):
                for j in range(mv):
                    ctx.a, ctx.b = f"__va{i}", f"__vb{j}"
                    s = self._scorer.compile(ctx).cast("double")
                    guard = (F.size("__va") > i) & (F.size("__vb") > j)
                    combo_scores.append(
                        F.when(guard, s).otherwise(F.lit(None).cast("double"))
                    )
            score = (
                combo_scores[0]
                if len(combo_scores) == 1
                else F.greatest(*combo_scores)
            )
            scored = ctx.df.withColumn("sim_score", score).select(
                "idx_a", "idx_b", "sim_score"
            )
        else:
            # unknown/large variant bound: explode both sides and take
            # the per-pair max (one aggregation shuffle)
            fields = rec_schema.fieldNames()
            pairs = pairs.withColumn(
                "a",
                F.explode(
                    _call_variants(self._variator, F.col("a"), fields, rec_schema)
                ),
            ).withColumn(
                "b",
                F.explode(
                    _call_variants(self._variator, F.col("b"), fields, rec_schema)
                ),
            )
            ctx = CompileCtx(df=pairs)
            score = self._scorer.compile(ctx)
            scored = (
                ctx.df.withColumn("sim_score", score.cast("double"))
                .groupBy("idx_a", "idx_b")
                .agg(F.max("sim_score").alias("sim_score"))
            )
        # NOTE: the NULL-score (refusal) drop and match-mode greedy
        # pruning are applied AFTER materialization (scored_pairs):
        # a filter over the UDF-derived sim_score in the same plan gets
        # pushed below the scoring repartition and doubles every UDF
        # evaluation.
        return scored

    def _config_fingerprint(self) -> str:
        """Stable hash of the matcher configuration (index, scorer,
        variator, filters, keys) for checkpoint-stage validation: a
        re-run whose config changed must MISS loudly, not silently
        reuse another configuration's scores. Engine objects are
        described by class name + primitive attributes; foreign objects
        (DataFrames, callables) by type name only — coarse on purpose:
        a false MISMATCH costs a recompute, a false match costs silent
        wrong scores."""
        import hashlib
        import json

        def desc(obj, depth=0):
            if obj is None or isinstance(obj, (bool, int, float, str)):
                return obj
            if isinstance(obj, (list, tuple)):
                return [desc(x, depth + 1) for x in obj]
            if isinstance(obj, dict):
                return {
                    str(k): desc(v, depth + 1)
                    for k, v in sorted(obj.items(), key=lambda kv: str(kv[0]))
                }
            if depth > 5 or not type(obj).__module__.startswith("datamatch_spark"):
                return type(obj).__name__
            d = {"__class__": type(obj).__name__}
            try:
                for k, v in sorted(vars(obj).items()):
                    d[k] = desc(v, depth + 1)
            except TypeError:
                pass
            return d

        payload = json.dumps(
            {
                "index": desc(self._index),
                "scorer": desc(self._scorer),
                "variator": desc(self._variator),
                "filters": desc(self._filters),
                "row_key": self._row_key,
                "mode": self._mode,
            },
            sort_keys=True,
            default=lambda o: type(o).__name__,
        )
        return hashlib.md5(payload.encode()).hexdigest()[:12]

    def _materialize(self, df: DataFrame, stage: str) -> DataFrame:
        if self._checkpoint_dir:
            from .checkpointing import StageManifest

            manifest = StageManifest(self._checkpoint_dir)
            return manifest.materialize(
                stage, df, df.sparkSession,
                fingerprint=self._config_fingerprint(),
            )
        from .session import checkpoint_storage_level

        return df.localCheckpoint(storageLevel=checkpoint_storage_level())

    @property
    def scored_pairs(self) -> DataFrame:
        """(idx_a, idx_b, sim_score) — materialized once; refused
        (NULL) scores dropped; match mode greedily 1:1-pruned."""
        if self._scored is None:
            import time as _time

            t0 = _time.time()
            scored = self._materialize(self._build_scored(), "scored_raw")
            wall_ms = (_time.time() - t0) * 1000.0
            if self._scorer.can_refuse:
                scored = scored.where(F.col("sim_score").isNotNull())
            else:
                # a non-refusing scorer can still emit NULL: Arrow
                # converts a NaN pandas-UDF output to null (FuncScorer
                # callbacks hitting 0/0), and an empty custom variant
                # array NULLs every combo guard. A NULL score's rank
                # struct sorts FIRST in greedy_one_to_one (NULL-first
                # struct ordering) and would claim both endpoints,
                # silently discarding their real matches — coerce to
                # 0.0, the engine's NaN-contributes-zero rule.
                scored = scored.withColumn(
                    "sim_score", F.coalesce("sim_score", F.lit(0.0))
                )
            if self._mode == MODE_MATCH:
                scored = greedy_one_to_one(
                    scored, max_iter=self._one_to_one_max_iter
                )
                if self._checkpoint_dir:
                    scored = self._materialize(scored, "scored_pruned")
            self._scored = scored
            if self._metrics_sink is not None:
                # north rule: per-partition lineage + per-block
                # candidate-pair counts written alongside results.
                # NOTE: block_statistics re-derives the keyed side — a
                # deliberate second (cheap, pre-blowup) pass over dfa;
                # opt-in via metrics_sink, never on the default path.
                from .pairing import block_statistics, keyed_side

                self._metrics_sink.record_partitions(
                    "scored_pairs", self._scored, wall_ms=wall_ms
                )
                side = keyed_side(
                    self._dfa,
                    self._index,
                    self._row_key,
                    self._needed_columns(),
                    "idx",
                    "rec",
                )
                self._metrics_sink.record_blocks(
                    "blocking", block_statistics(side, dedup=self._dfb is None)
                )
                # capped q-gram leaves: write the grams the cap DROPS
                # (the blocking-recall trade) alongside the block stats
                # so the prune is visible in the lineage, not only in
                # an opt-in method call (ADVICE r4)
                from .indices import BLOCK_KEY as _BK

                sides = [("stop_grams", self._dfa)]
                if self._dfb is not None:
                    # match mode computes the cap independently per
                    # side; a gram hot only in dfb must be visible too
                    sides = [("stop_grams_a", self._dfa), ("stop_grams_b", self._dfb)]
                for leaf in self._index.iter_leaves():
                    sg = getattr(leaf, "stop_grams", None)
                    if sg is None:
                        continue
                    for stage, side_df in sides:
                        dropped = sg(side_df, self._row_key).select(
                            F.col(_BK),
                            F.col("__df").alias("n_rows"),
                            F.lit(None).cast("long").alias("n_pairs"),
                        )
                        self._metrics_sink.record_blocks(stage, dropped)
        return self._scored

    @property
    def frame_a(self) -> DataFrame:
        return self._dfa

    @property
    def frame_b(self) -> DataFrame:
        return self._dfb if self._dfb is not None else self._dfa

    # ------------------------------------------------------------------
    # threshold slicing & pair getters
    # ------------------------------------------------------------------

    def _slice(self, lower_bound: float, upper_bound: float) -> DataFrame:
        # both bounds inclusive: bisect_left(lower)..bisect(upper)
        # (reference matchers.py:193-195)
        return self.scored_pairs.where(
            (F.col("sim_score") >= lower_bound) & (F.col("sim_score") <= upper_bound)
        )

    def get_index_pairs_within_thresholds(
        self, lower_bound: float = 0.7, upper_bound: float = 1.0
    ) -> DataFrame:
        """Pairs in the score range, ascending by the total order."""
        return self._slice(lower_bound, upper_bound).orderBy(*_ORDER_ASC())

    def collect_index_pairs_within_thresholds(
        self, lower_bound: float = 0.7, upper_bound: float = 1.0
    ) -> list:
        """Driver-side [(idx_a, idx_b), ...] — reference return shape."""
        return [
            (r["idx_a"], r["idx_b"])
            for r in self.get_index_pairs_within_thresholds(
                lower_bound, upper_bound
            ).collect()
        ]

    # ------------------------------------------------------------------
    # clustering
    # ------------------------------------------------------------------

    def _tagged_pairs(self, lower_bound: float, upper_bound: float) -> DataFrame:
        """(component, sim_score, idx_a, idx_b) — the sliced pair graph
        labeled with its connected component."""
        sliced = self._slice(lower_bound, upper_bound)
        comp = connected_components(sliced.select("idx_a", "idx_b"))
        return sliced.join(
            comp.withColumnRenamed("node", "idx_a"), on="idx_a"
        ).select("component", "sim_score", "idx_a", "idx_b")

    def _cluster_pairs(self, lower_bound: float, upper_bound: float) -> DataFrame:
        """(cluster_id, sim_score, idx_a, idx_b) after CC + clique split."""
        return split_cliques(self._tagged_pairs(lower_bound, upper_bound))

    def get_cluster_assignments(
        self, lower_bound: float = 0.7, upper_bound: float = 1.0
    ) -> DataFrame:
        """(cluster_id, row_key) membership table.

        Built by the members-direct clique walk (split_clique_members):
        the same deterministic partition as exploding the pair rows,
        without the endpoint union + distinct shuffle."""
        return split_clique_members(
            self._tagged_pairs(lower_bound, upper_bound)
        )

    def get_index_clusters_within_thresholds(
        self, lower_bound: float = 0.7, upper_bound: float = 1.0
    ) -> list:
        """Driver-side list of frozensets — reference return shape
        (matchers.py:220-235)."""
        rows = self.get_cluster_assignments(lower_bound, upper_bound).collect()
        by_cluster: dict = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], set()).add(r["row_key"])
        return [frozenset(v) for v in by_cluster.values()]

    # ------------------------------------------------------------------
    # report frames
    # ------------------------------------------------------------------

    def _two_rows_per_pair(self, pairs: DataFrame, head_cols: list[str]) -> DataFrame:
        """Emit (…, row_key) twice per pair (a then b) and join the full
        source rows back on row_key (reference matchers.py:262-271)."""
        a_rows = pairs.select(
            *head_cols,
            F.col("idx_a").alias("row_key"),
            F.lit(0).alias("__side"),
        )
        b_rows = pairs.select(
            *head_cols,
            F.col("idx_b").alias("row_key"),
            F.lit(1).alias("__side"),
        )
        src_cols = [c for c in self.frame_a.columns if c != self._row_key]
        fa = self.frame_a.withColumnRenamed(self._row_key, "row_key")
        fb = self.frame_b.withColumnRenamed(self._row_key, "row_key")
        out_a = a_rows.join(fa, on="row_key")
        out_b = b_rows.join(fb, on="row_key")
        return out_a.unionByName(out_b).select(
            *head_cols, "row_key", *src_cols, "__side"
        )

    def get_clusters_within_threshold(
        self,
        lower_bound: float = 0.7,
        upper_bound: float = 1.0,
        include_exact_matches: bool = True,
    ) -> DataFrame:
        """Cluster report: (cluster_idx, pair_idx, sim_score, row_key,
        *source columns), two rows per pair, clusters ordered by top
        pair score desc (reference matchers.py:237-274)."""
        cp = self._cluster_pairs(lower_bound, upper_bound)
        stats = cp.groupBy("cluster_id").agg(
            F.max("sim_score").alias("__max_sim"),
            F.min("sim_score").alias("__min_sim"),
            F.min("idx_a").alias("__rep"),
        )
        # contiguous rank WITHOUT a single-partition global window —
        # at scale the cluster count is unbounded (ranking.py)
        from .ranking import global_rank

        stats = global_rank(
            stats,
            [F.col("__max_sim").desc(), F.col("__rep").asc()],
            "cluster_idx",
        )
        if not include_exact_matches:
            # drop clusters in which every pair is exact — after idx
            # assignment, so cluster_idx keeps gaps like the reference
            stats = stats.where(F.col("__min_sim") < 1.0)
        ranked = cp.join(stats.select("cluster_id", "cluster_idx"), on="cluster_id")
        ranked = ranked.withColumn(
            "pair_idx",
            F.row_number().over(Window.partitionBy("cluster_id").orderBy(*_ORDER_DESC()))
            - 1,
        )
        out = self._two_rows_per_pair(
            ranked, ["cluster_idx", "pair_idx", "sim_score"]
        )
        return out.orderBy("cluster_idx", "pair_idx", "__side").drop("__side")

    def get_golden_records(
        self,
        rules: dict,
        lower_bound: float = 0.7,
        upper_bound: float = 1.0,
        include_singletons: bool = True,
    ) -> DataFrame:
        """The merge step as a matcher getter (engine extension — the
        reference pipeline ends at cluster reports): one survived row
        per cluster in the threshold band, built by
        :func:`~datamatch_spark.survivorship.golden_records` under
        per-column ``rules``; unmatched records ride along as
        singleton golden records unless ``include_singletons=False``.
        ``group_id`` is the clique's ``cluster_id`` string, or
        ``row:<row_key>`` for singletons. Dedup mode only (a match-mode
        pair spans two row-key namespaces, so a merged frame would be
        ambiguous — merge the linked tables explicitly instead)."""
        if self._dfb is not None:
            raise ValueError(
                "get_golden_records is dedup-only: match-mode row keys "
                "live in two namespaces; join the linked tables and call "
                "survivorship.golden_records directly instead"
            )
        from .survivorship import golden_records

        assign = self.get_cluster_assignments(lower_bound, upper_bound)
        full = self._dfa.select(self._row_key).join(
            assign.withColumnRenamed("row_key", self._row_key),
            on=self._row_key,
            how="left",
        )
        if not include_singletons:
            full = full.where(F.col("cluster_id").isNotNull())
        assignment = full.select(
            self._row_key,
            F.coalesce(
                F.col("cluster_id"),
                F.concat(F.lit("row:"), F.col(self._row_key).cast("string")),
            ).alias("group_id"),
        )
        return golden_records(self._dfa, self._row_key, assignment, rules)

    def get_all_pairs(
        self,
        lower_bound: float = 0.7,
        upper_bound: float = 1.0,
        include_exact_matches: bool = True,
    ) -> DataFrame:
        """(pair_idx, sim_score, row_key, *source cols) descending
        (reference matchers.py:340-371)."""
        from .ranking import global_rank

        sliced = self._slice(lower_bound, upper_bound)
        ranked = global_rank(sliced, _ORDER_DESC(), "pair_idx")
        if not include_exact_matches:
            ranked = ranked.where(F.col("sim_score") != 1.0)
        out = self._two_rows_per_pair(ranked, ["pair_idx", "sim_score"])
        return out.orderBy("pair_idx", "__side").drop("__side")

    def get_sample_pairs(
        self,
        sample_counts: int = 5,
        lower_bound: float = 0.7,
        upper_bound: float = 1.0,
        step: float = 0.05,
        include_exact_matches: bool = True,
    ) -> DataFrame:
        """Per score range (upper..lower in ``step`` decrements), the
        ``sample_counts`` LOWEST-scored pairs, printed descending
        (reference matchers.py:292-338)."""
        bounds = list(np.arange(upper_bound, lower_bound, -step)) + [lower_bound]
        sliced = self.scored_pairs
        # ranges are walked upper→lower and a pair belongs to the first
        # matching range; building the when-chain in reverse gives
        # earlier ranges precedence
        bucket_col, label_col = F.lit(None).cast("int"), F.lit(None).cast("string")
        for i in reversed(range(len(bounds) - 1)):
            hi, lo = float(bounds[i]), float(bounds[i + 1])
            cond = (F.col("sim_score") > lo) & (F.col("sim_score") <= hi)
            bucket_col = F.when(cond, F.lit(i)).otherwise(bucket_col)
            label_col = F.when(cond, F.lit("%.2f-%.2f" % (hi, lo))).otherwise(label_col)
        tagged = sliced.withColumn("__bucket", bucket_col).withColumn(
            "score_range", label_col
        ).where(F.col("__bucket").isNotNull())
        # two-phase bottom-k: keep the k lowest per (bucket, input
        # partition) first, so the exact per-bucket sort below only
        # sees ≤ k×partitions rows per bucket instead of the whole
        # bucket (score buckets are few — a handful of giant
        # single-bucket sorts otherwise)
        wpre = Window.partitionBy("__bucket", "__ppid").orderBy(*_ORDER_ASC())
        tagged = (
            tagged.withColumn("__ppid", F.spark_partition_id())
            .withColumn("__prn", F.row_number().over(wpre))
            .where(F.col("__prn") <= sample_counts)
            .drop("__prn", "__ppid")
        )
        wasc = Window.partitionBy("__bucket").orderBy(*_ORDER_ASC())
        tagged = tagged.withColumn("__rn", F.row_number().over(wasc)).where(
            F.col("__rn") <= sample_counts
        )
        wcnt = Window.partitionBy("__bucket")
        tagged = tagged.withColumn("pair_idx", F.max("__rn").over(wcnt) - F.col("__rn"))
        if not include_exact_matches:
            tagged = tagged.where(F.col("sim_score") != 1.0)
        out = self._two_rows_per_pair(
            tagged, ["__bucket", "score_range", "pair_idx", "sim_score"]
        )
        return out.orderBy("__bucket", "pair_idx", "__side").drop("__bucket", "__side")

    # ------------------------------------------------------------------
    # decision / sinks
    # ------------------------------------------------------------------

    def decision_counts(self, match_threshold: float) -> DataFrame:
        """(match_threshold, number_of_matched_pairs) — the reference's
        decision sheet (matchers.py:418-424)."""
        n = self.scored_pairs.where(F.col("sim_score") >= match_threshold).count()
        spark = self.scored_pairs.sparkSession
        return spark.createDataFrame(
            [(float(match_threshold), n)],
            schema="match_threshold double, number_of_matched_pairs long",
        )

    def print_decision(self, match_threshold: float) -> None:
        n = self.scored_pairs.where(F.col("sim_score") >= match_threshold).count()
        na = self.frame_a.count()
        nb = self.frame_b.count()
        print("for threshold %.3f:" % match_threshold)
        # max(1, .): an empty frame reports 0 matched pairs instead of
        # crashing the report step with ZeroDivisionError
        print(
            "  %d matched pairs (%d%% of A, %d%% of B)"
            % (n, n / max(1, na) * 100, n / max(1, nb) * 100)
        )

    def save_pairs_to_parquet(
        self,
        path: str,
        match_threshold: float,
        sample_counts: int = 5,
        lower_bound: float = 0.7,
        step: float = 0.05,
        include_exact_matches: bool = True,
    ) -> None:
        """Parquet analogue of the reference's 3-sheet Excel pair report
        (matchers.py:373-416): sample_pairs/, all_pairs/, decision/."""
        self.get_sample_pairs(
            sample_counts, lower_bound, 1.0, step, include_exact_matches
        ).write.mode("overwrite").parquet(f"{path}/sample_pairs")
        self.get_all_pairs(lower_bound, 1.0, include_exact_matches).write.mode(
            "overwrite"
        ).parquet(f"{path}/all_pairs")
        self.decision_counts(match_threshold).write.mode("overwrite").parquet(
            f"{path}/decision"
        )

    def save_pairs_to_excel(
        self,
        name: str,
        match_threshold: float,
        sample_counts: int = 5,
        lower_bound: float = 0.7,
        step: float = 0.05,
        include_exact_matches: bool = True,
    ) -> None:
        """Reference-API parity (matchers.py:373-416): 3-sheet Excel
        workbook. Uses pandas' ExcelWriter when an engine
        (openpyxl/xlsxwriter) is installed, else the built-in stdlib
        SpreadsheetML writer (:mod:`datamatch_spark.xlsx`). The report
        slices are driver-sized by contract; big results belong in
        :meth:`save_pairs_to_parquet`."""
        sheets = [
            (
                "Sample pairs",
                self.get_sample_pairs(
                    sample_counts, lower_bound, 1.0, step, include_exact_matches
                ),
            ),
            ("All pairs", self.get_all_pairs(lower_bound, 1.0, include_exact_matches)),
            ("Decision", self.decision_counts(match_threshold)),
        ]
        _write_excel(name, sheets)

    def save_clusters_to_excel(
        self,
        name: str,
        match_threshold: float,
        lower_bound: float = 0.7,
        include_exact_matches: bool = True,
    ) -> None:
        """Reference-API parity (matchers.py:426-459): 2-sheet Excel
        workbook; see :meth:`save_pairs_to_excel` re engines."""
        sheets = [
            (
                "All clusters",
                self.get_clusters_within_threshold(
                    lower_bound, 1.0, include_exact_matches
                ),
            ),
            ("Decision", self.decision_counts(match_threshold)),
        ]
        _write_excel(name, sheets)

    def save_clusters_to_parquet(
        self,
        path: str,
        match_threshold: float,
        lower_bound: float = 0.7,
        include_exact_matches: bool = True,
    ) -> None:
        """Parquet analogue of the 2-sheet cluster report
        (matchers.py:426-459)."""
        self.get_clusters_within_threshold(
            lower_bound, 1.0, include_exact_matches
        ).write.mode("overwrite").parquet(f"{path}/all_clusters")
        self.decision_counts(match_threshold).write.mode("overwrite").parquet(
            f"{path}/decision"
        )


def _write_excel(name: str, sheets: list) -> None:
    """Write [(sheet_name, DataFrame), ...] to one xlsx: pandas
    ExcelWriter when an engine exists (richer typing), else the
    stdlib SpreadsheetML writer."""
    import pandas as pd

    try:
        writer = pd.ExcelWriter(name)
    except (ImportError, ModuleNotFoundError):
        from .xlsx import write_xlsx

        write_xlsx(
            name,
            [(s, df.columns, [tuple(r) for r in df.collect()]) for s, df in sheets],
        )
        return
    with writer:
        for sheet_name, df in sheets:
            df.toPandas().to_excel(writer, sheet_name=sheet_name, index=False)
