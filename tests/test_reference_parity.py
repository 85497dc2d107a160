"""F1 harness: run the REFERENCE implementation (imported from
/root/reference as a test-only oracle, with its C deps satisfied by
this repo's verified pure-python kernels) and the Spark engine on the
same deterministic corpora; compare matched pairs and clusters.

Two corpus profiles (corpus.py):

* "clean"     — entity components are cliques: the reference's greedy
  clique split is order-insensitive, so the F1 >= 0.99 BASELINE gate is
  asserted strictly (and pair sets must be exactly equal).
* "ambiguous" — realistic collisions create non-clique components where
  the reference output depends on PYTHONHASHSEED (set-iteration order,
  SURVEY.md §8.2). Pair sets are still exactly equal (order-free); the
  cluster comparison gets a worst-case floor instead of 0.99.

The oracle comparisons need the reference checkout at REFERENCE_DIR and
skip where it is absent; ``test_recall_vs_planted_entities`` checks the
engine against the planted gold pairs alone and runs either way.
"""

import os
import sys
import types

import pytest

import datamatch_spark as dms
from datamatch_spark import (
    ColumnsIndex,
    DateSimilarity,
    JaroWinklerSimilarity,
    ThresholdMatcher,
)
from datamatch_spark import kernels
from datamatch_spark.corpus import (
    CorpusConfig,
    generate_documents,
    generate_flat_pandas,
    gold_pairs_pandas,
    project_fields,
)

REFERENCE_DIR = "/root/reference"
THRESHOLD = 0.8
CFGS = {
    "clean": CorpusConfig(n_docs=450, seed=7, profile="clean"),
    "ambiguous": CorpusConfig(n_docs=450, seed=7, profile="ambiguous"),
}


@pytest.fixture(scope="module")
def reference_datamatch():
    if not os.path.isfile(os.path.join(REFERENCE_DIR, "datamatch", "__init__.py")):
        pytest.skip(f"reference checkout not found at {REFERENCE_DIR}")
    # the reference's C deps, served by the verified pure-python kernels
    lev = types.ModuleType("Levenshtein")
    lev.ratio = kernels.lev_ratio
    lev.jaro_winkler = kernels.jaro_winkler
    unid = types.ModuleType("unidecode")
    unid.unidecode = kernels.unidecode_ascii
    tq = types.ModuleType("tqdm")
    tq.tqdm = lambda it, **kw: it
    added = []
    for name, mod in [("Levenshtein", lev), ("unidecode", unid), ("tqdm", tq)]:
        if name not in sys.modules:
            sys.modules[name] = mod
            added.append(name)
    sys.path.insert(0, REFERENCE_DIR)
    try:
        import datamatch as ref  # noqa: PLC0415

        yield ref
    finally:
        sys.path.remove(REFERENCE_DIR)
        for name in added:
            sys.modules.pop(name, None)


def _f1(pred: set, truth: set) -> float:
    if not pred or not truth:
        return 0.0
    tp = len(pred & truth)
    return 2 * tp / (len(pred) + len(truth))


def _cluster_pairs(clusters) -> set:
    out = set()
    for c in clusters:
        ms = sorted(c)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                out.add((a, b))
    return out


_ref_cache: dict = {}
_engine_cache: dict = {}


def _sim_args(mod):
    return {
        "last": mod.JaroWinklerSimilarity(),
        "first": mod.JaroWinklerSimilarity(),
        "dob": mod.DateSimilarity(),
    }


def _reference_results(profile, ref):
    if profile not in _ref_cache:
        flat = generate_flat_pandas(CFGS[profile]).set_index("doc_id")[
            ["last", "first", "dob", "agency", "blk"]
        ]
        m_ref = ref.ThresholdMatcher(ref.ColumnsIndex("blk"), _sim_args(ref), flat)
        ref_pairs = {
            tuple(sorted(p))
            for p in m_ref.get_index_pairs_within_thresholds(THRESHOLD, 1.0)
        }
        ref_cp = _cluster_pairs(
            m_ref.get_index_clusters_within_thresholds(THRESHOLD, 1.0)
        )
        _ref_cache[profile] = (ref_pairs, ref_cp)
    return _ref_cache[profile]


def _engine_results(profile, spark):
    if profile not in _engine_cache:
        docs = generate_documents(spark, CFGS[profile])
        fields = project_fields(docs).drop("spans")
        m = ThresholdMatcher(
            ColumnsIndex("blk"), _sim_args(dms), fields, row_key="doc_id"
        )
        got_pairs = set(m.collect_index_pairs_within_thresholds(THRESHOLD, 1.0))
        got_cp = _cluster_pairs(
            m.get_index_clusters_within_thresholds(THRESHOLD, 1.0)
        )
        _engine_cache[profile] = (got_pairs, got_cp)
    return _engine_cache[profile]


def _results(profile, spark, ref):
    return _reference_results(profile, ref) + _engine_results(profile, spark)


@pytest.mark.parametrize("profile", ["clean", "ambiguous"])
def test_pair_sets_exactly_equal(profile, spark, reference_datamatch):
    ref_pairs, _, got_pairs, _ = _results(profile, spark, reference_datamatch)
    assert got_pairs == ref_pairs
    assert len(got_pairs) > 100


def test_cluster_f1_clean_gate(spark, reference_datamatch):
    """The BASELINE.json gate: pairwise F1 >= 0.99 vs reference clusters."""
    _, ref_cp, _, got_cp = _results("clean", spark, reference_datamatch)
    f1 = _f1(got_cp, ref_cp)
    assert f1 >= 0.99, f"cluster pairwise F1 {f1}"


def test_cluster_f1_ambiguous_floor(spark, reference_datamatch):
    _, ref_cp, _, got_cp = _results("ambiguous", spark, reference_datamatch)
    strict = _f1(got_cp, ref_cp)
    gold = gold_pairs_pandas(CFGS["ambiguous"])
    labeled = _f1(got_cp & gold, ref_cp & gold)
    # non-clique components make the reference hash-order-dependent:
    # worst case over node orders measured at ~0.977 strict
    assert strict >= 0.95, f"strict {strict}, labeled {labeled}"
    assert labeled >= 0.95


def test_recall_vs_planted_entities(spark):
    got_pairs, _ = _engine_results("clean", spark)
    gold = gold_pairs_pandas(CFGS["clean"])
    tp = len(got_pairs & gold)
    assert tp / len(gold) > 0.9  # clean profile: high recall expected
    assert tp / len(got_pairs) > 0.95
