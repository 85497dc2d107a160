"""The benchmark's workloads: seeded input generators, the user-level
run each one times, and the truth each generator plants.

Inputs are a pure function of ``--seed`` and are handed to the engine
as plain DataFrames; the engine never sees the seed or the truth.
Every module-level engine call goes through its module
(``clustering.connected_components``, not a bound name) so the traced
run can wrap it.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field
from itertools import combinations
from unittest import mock

import numpy as np
import pandas as pd


@dataclass
class Inputs:
    frames: dict  # name -> pandas frame handed to the engine
    records: int  # input records, for records_per_s
    gold: set  # planted true pairs (id_a, id_b), id_a < id_b
    oracle: dict  # counts derivable from the inputs alone
    sample: pd.DataFrame | None = None  # in-driver kernel sample


@dataclass
class Output:
    counts: dict  # checked against the pinned / oracle counts
    pairs: int  # output pairs, for pairs_per_s
    predicted: object = field(repr=False, default=None)  # -> predicted_pairs()


class NullTracer:
    """Tracer stand-in for untraced runs: a span costs one call."""

    def span(self, name):
        return contextlib.nullcontext()


NULL_TRACER = NullTracer()


def _pairs_within(groups: pd.Series, ids: pd.Series) -> set:
    """All unordered id pairs sharing a group label."""
    out = set()
    for members in ids.groupby(groups.to_numpy()).agg(list):
        out.update(combinations(sorted(members), 2))
    return out


def f1(predicted: set, gold: set) -> float:
    tp = len(predicted & gold)
    if tp == 0:
        return 0.0
    p, r = tp / len(predicted), tp / len(gold)
    return 2 * p * r / (p + r)


def _er_corpus(seed: int, n_docs: int, **cfg) -> pd.DataFrame:
    from datamatch_spark.corpus import CorpusConfig, generate_flat_pandas

    return generate_flat_pandas(
        CorpusConfig(n_docs=n_docs, seed=seed, profile="clean", **cfg)
    )


def _exact_hot_block(flat: pd.DataFrame, seed: int, pct: float, buckets: int) -> None:
    """Re-draw the hot block so it holds exactly ``pct`` of the planted
    entities: the corpus draws each entity hot independently, and the
    block's size (its pairs grow with its square) would otherwise move
    the pair count by ~10% from seed to seed."""
    ent = flat["entity"].to_numpy()
    real = np.unique(ent[ent >= 0])
    rng = np.random.default_rng([seed, 4])
    hot = rng.choice(real, size=round(len(real) * pct / 100), replace=False)
    was_hot = flat["blk"].to_numpy() == "hot"
    flat.loc[was_hot, "blk"] = [f"b{e % buckets}" for e in ent[was_hot]]
    flat.loc[np.isin(ent, hot), "blk"] = "hot"


def _gold_from_entity(flat: pd.DataFrame) -> set:
    real = flat[flat["entity"] >= 0]
    return _pairs_within(real["entity"], real["doc_id"])


def _block_pairs(keys: pd.Series) -> int:
    n = keys.value_counts().to_numpy(dtype=np.int64)
    return int((n * (n - 1) // 2).sum())


def _kernel_sample(flat: pd.DataFrame, seed: int, n: int = 40_000) -> pd.DataFrame:
    """Random record pairs for the in-driver similarity kernels."""
    rng = np.random.default_rng(seed)
    ia = rng.integers(0, len(flat), n)
    ib = rng.integers(0, len(flat), n)
    a, b = flat.iloc[ia].reset_index(drop=True), flat.iloc[ib].reset_index(drop=True)
    return pd.DataFrame(
        {"last_a": a["last"], "last_b": b["last"], "dob_a": a["dob"], "dob_b": b["dob"]}
    )


ER_FIELDS = ["doc_id", "last", "first", "dob", "blk"]


def _er_scorer():
    from datamatch_spark import DateSimilarity, JaroWinklerSimilarity

    return {
        "last": JaroWinklerSimilarity(),
        "first": JaroWinklerSimilarity(),
        "dob": DateSimilarity(),
    }


class Workload:
    """One benchmark workload; BENCHMARK.json says why it exists and
    README.md which route it must take."""

    name = ""
    threshold = 0.8
    # traced run: also solve the CC input on the distributed route
    cc_probe = False
    # traced run: also run the near-dup text pipeline (TEXT_PROBE)
    text_probe = False

    def generate(self, seed: int) -> Inputs:
        raise NotImplementedError

    def filters(self) -> list:
        return []

    def run(self, spark, frames: dict, tracer=NULL_TRACER) -> Output:
        raise NotImplementedError

    def predicted_pairs(self, out: Output) -> set:
        raise NotImplementedError


class DedupSkewed(Workload):
    name = "dedup_skewed"
    n_docs = 6_000
    cc_probe = True
    # the hot block (~210 rows) must take the salted cells; the next
    # largest block holds ~50 rows
    salt_threshold = 150

    def generate(self, seed: int) -> Inputs:
        buckets = self.n_docs // 25
        flat = _er_corpus(seed, self.n_docs, hot_pct=4, blk_buckets=buckets)
        _exact_hot_block(flat, seed, 4, buckets)
        return Inputs(
            frames={"docs": flat[ER_FIELDS]},
            records=len(flat),
            gold=_gold_from_entity(flat),
            oracle={"scored_pairs": _block_pairs(flat["blk"])},
            sample=_kernel_sample(flat, seed),
        )

    def run(self, spark, frames, tracer=NULL_TRACER) -> Output:
        from datamatch_spark import ColumnsIndex, PairingConfig, ThresholdMatcher

        with tracer.span("scored_pairs"):
            m = ThresholdMatcher(
                ColumnsIndex("blk"), _er_scorer(), frames["docs"],
                row_key="doc_id", validate=False,
                pairing_config=PairingConfig(salt_threshold=self.salt_threshold),
            )
            n_scored = m.scored_pairs.count()
        with tracer.span("cluster_assignments"):
            assign = m.get_cluster_assignments(self.threshold, 1.0).toPandas()
        return Output(
            counts={
                "scored_pairs": n_scored,
                "cluster_members": len(assign),
                "clusters": int(assign["cluster_id"].nunique()),
            },
            pairs=n_scored,
            predicted=assign,
        )

    def predicted_pairs(self, out: Output) -> set:
        a = out.predicted
        return _pairs_within(a["cluster_id"], a["row_key"])


class LinkFiltered(Workload):
    name = "link_filtered"
    n_docs = 6_000
    members = 3
    text_probe = True

    def generate(self, seed: int) -> Inputs:
        buckets = self.n_docs // 25
        flat = _er_corpus(seed, self.n_docs, members_per_entity=self.members,
                          hot_pct=4, blk_buckets=buckets)
        _exact_hot_block(flat, seed, 4, buckets)
        idx = np.arange(len(flat))
        # members of an entity hold consecutive indices, so they always
        # differ here and every true match survives the filter
        flat["agency"] = (idx % self.members).astype(str)
        side = idx % 2
        a, b = flat[side == 0], flat[side == 1]
        cols = ER_FIELDS + ["agency"]
        gold = {p for p in _gold_from_entity(flat) if int(p[0][1:]) % 2 != int(p[1][1:]) % 2}
        # scored pairs = candidates (blk equal) minus same-agency pairs
        by_blk = a["blk"].value_counts().mul(b["blk"].value_counts(), fill_value=0)
        same = (
            a.groupby(["blk", "agency"]).size()
            .mul(b.groupby(["blk", "agency"]).size(), fill_value=0)
        )
        return Inputs(
            frames={"a": a[cols], "b": b[cols]},
            records=len(flat),
            gold=gold,
            oracle={"scored_pairs": int(by_blk.sum() - same.sum())},
            sample=_kernel_sample(flat, seed),
        )

    def filters(self):
        from datamatch_spark import DissimilarFilter

        return [DissimilarFilter("agency")]

    def run(self, spark, frames, tracer=NULL_TRACER) -> Output:
        from pyspark.sql import functions as F

        from datamatch_spark import ColumnsIndex, ThresholdMatcher, matchers

        # the matcher hands only the 1:1-pruned pairs back; keep the
        # scored pairs it prunes (already materialized) to count them
        prune = matchers.greedy_one_to_one
        seen = {}

        def keep_input(scored, **kwargs):
            seen["scored"] = scored
            return prune(scored, **kwargs)

        with mock.patch.object(matchers, "greedy_one_to_one", keep_input):
            with tracer.span("scored_pairs"):
                m = ThresholdMatcher(
                    ColumnsIndex("blk"), _er_scorer(), frames["a"], frames["b"],
                    filters=self.filters(), row_key="doc_id", validate=False,
                )
                n_scored = seen["scored"].count()
        with tracer.span("links"):
            n_kept = m.scored_pairs.count()
            links = m.scored_pairs.where(F.col("sim_score") >= self.threshold).toPandas()
        return Output(
            counts={"scored_pairs": n_scored, "kept_links": n_kept, "links_above": len(links)},
            pairs=n_scored,
            predicted=links,
        )

    def predicted_pairs(self, out: Output) -> set:
        links = out.predicted
        return {(x, y) if x < y else (y, x)
                for x, y in zip(links["idx_a"], links["idx_b"])}


# word frequencies of the repo's text test corpus (``documents.parquet``
# in the sf test data): 30 near-equally common words and one rare one;
# documents there hold 10-100 words drawn from it
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
RARE_WORD, RARE_P = "dup", 0.001


class NearDupText(Workload):
    """The traced probe of the ``extras.dedup`` layers (no end-to-end
    workload of its own: see README.md, "Run budget").

    Tiled near-duplicate text, built like ``bench.py``'s minhash leaf:
    copy ``c`` of a source document is its ``c % windows``-th window of
    ``window_tokens`` words, so copies sharing a window are planted
    duplicates. The copy count varies per source (groups of 1-4), and
    short sources give short or empty windows, as in the test corpus."""

    name = "near_dup_text"
    n_sources = 1_200
    copies = (8, 33)  # per source, drawn uniformly from [lo, hi)
    windows = 8
    stride = 5
    window_tokens = 35
    min_tokens = 3  # shingle size: a shorter window has no shingles

    def generate(self, seed: int) -> Inputs:
        rng = np.random.default_rng([seed, 7])
        vocab = np.array(DOC_WORDS + [RARE_WORD])
        p = np.full(len(vocab), (1 - RARE_P) / len(DOC_WORDS))
        p[-1] = RARE_P
        lengths = rng.integers(10, 101, self.n_sources)
        n_copies = rng.integers(*self.copies, self.n_sources)
        ids, texts, gold = [], [], set()
        next_id = 0
        for length, k in zip(lengths, n_copies):
            words = vocab[rng.choice(len(vocab), size=length, p=p)]
            by_window: dict = {}
            for c in range(k):
                w = c % self.windows
                window = words[w * self.stride: w * self.stride + self.window_tokens]
                ids.append(next_id)
                texts.append(" ".join(window))
                if len(window) >= self.min_tokens:
                    by_window.setdefault(w, []).append(next_id)
                next_id += 1
            for members in by_window.values():
                gold.update(combinations(members, 2))
        frame = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
        return Inputs(frames={"docs": frame}, records=len(frame), gold=gold, oracle={})

    def run(self, spark, frames, tracer=NULL_TRACER) -> Output:
        from pyspark.sql import functions as F

        from datamatch_spark.extras import dedup

        groups = dedup.minhash_dedup_groups(
            frames["docs"], "doc_id", n=3, n_perm=64, threshold=0.9
        )
        dups = groups.where(~F.col("keep")).select("doc_id", "group_id").toPandas()
        sizes = dups["group_id"].value_counts().to_numpy(dtype=np.int64) + 1
        n_pairs = int((sizes * (sizes - 1) // 2).sum())
        return Output(
            counts={"dup_members": len(dups), "groups": len(sizes), "near_dup_pairs": n_pairs},
            pairs=n_pairs,
            predicted=dups,
        )

    def predicted_pairs(self, out: Output) -> set:
        d = out.predicted
        members = pd.concat([d["doc_id"], d["group_id"].drop_duplicates()])
        groups = pd.concat([d["group_id"], d["group_id"].drop_duplicates()])
        return _pairs_within(groups, members)


WORKLOADS = {w.name: w for w in (DedupSkewed(), LinkFiltered())}
TEXT_PROBE = NearDupText()
# layers the text probe is traced at; the connected components inside
# groups_from_pairs stay in its self time, apart from the ER layers
TEXT_LAYERS = ("minhash_signatures", "minhash_lsh_pairs", "groups_from_pairs")
