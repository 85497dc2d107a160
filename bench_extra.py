#!/usr/bin/env python
"""Per-stage profiling companion to bench.py (guide §1.4/§1.5).

bench.py is FROZEN for driver measurement; this file exists so the
optimization round can attribute each bench query's seconds to its
internal stages (noop-sink isolated, job-labelled) without touching
the frozen harness. Run one query family per invocation:

    python bench_extra.py semantic|minhash|er|hygiene|line|text|ann [sf_dir]

Prints one JSON line {"query":..., "stages": {...}} per family.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _tiled_embeddings, build_session  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {dt:.3f}s", flush=True)
    return dt, out


def profile_semantic(spark, sf_dir, sf):
    from datamatch_spark.clustering import groups_from_pairs
    from datamatch_spark.extras.simsearch import (
        _attach_cells,
        _group_near_pairs,
        _train_centroids,
        semantic_dedup,
    )

    tile = max(10, int(200 * sf))
    big = _tiled_embeddings(spark, sf_dir, tile, 7)
    big.count()
    stages = {}
    n_cells = max(8, tile)
    stages["train_centroids"], C = timed(
        spark, "semantic: train_centroids",
        lambda: _train_centroids(big, "embedding", n_cells, 20_000, 8, 42),
    )
    cells = _attach_cells(big, C, 1, "vec_id", "embedding", "__id", "__v")
    grouped = cells.select(
        F.col("__cells")[0].alias("__grp"), F.col("__id"), F.col("__v")
    )
    stages["attach_cells_noop"], _ = timed(
        spark, "semantic: attach_cells", lambda: noop(grouped)
    )
    sizes = grouped.groupBy("__grp").count().orderBy(F.col("count").desc())
    print("  cell sizes (top10):", [r["count"] for r in sizes.limit(10).collect()])
    pairs = _group_near_pairs(grouped, "bigint", 0.999)
    stages["group_near_pairs_noop"], _ = timed(
        spark, "semantic: group_near_pairs", lambda: noop(pairs)
    )
    print("  n_pairs:", pairs.count())
    out = groups_from_pairs(big, "vec_id", pairs)
    stages["cc_groups"], _ = timed(
        spark, "semantic: groups_from_pairs",
        lambda: out.where(F.col("keep")).count(),
    )
    stages["full_end_to_end"], _ = timed(
        spark, "semantic: full",
        lambda: semantic_dedup(big, threshold=0.999, n_cells=n_cells)
        .where(F.col("keep"))
        .count(),
    )
    return stages


def profile_minhash(spark, sf_dir, sf):
    from datamatch_spark.extras.dedup import (
        _banded,
        _minhash_info,
        _minhash_verify,
        _resolve_bands,
        minhash_lsh_pairs,
    )

    tile = max(4, int(400 * sf))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(spark.range(tile).select(F.col("id").alias("copy")))
        .select(
            (F.col("doc_id") * tile + F.col("copy")).alias("doc_id"),
            F.array_join(
                F.slice(F.split("text", " "), (F.col("copy") % 8 * 5 + 1).cast("int"), 35),
                " ",
            ).alias("text"),
        )
        .repartition(64)
        .localCheckpoint()
    )
    big.count()
    stages = {}
    n_perm, threshold = 64, 0.9
    bands = _resolve_bands(n_perm, threshold, None, 0.5)
    print("  bands:", bands)
    t0 = time.time()
    info = _minhash_info(big, "doc_id", "text", 3, n_perm, bands, None, "xxhash64")
    stages["info_localcheckpoint"] = time.time() - t0
    print(f"  info_localcheckpoint: {stages['info_localcheckpoint']:.3f}s", flush=True)
    l = _banded(info, "idx_a")
    r = _banded(info, "idx_b")
    cand = (
        l.join(r, on=["band", "bh"])
        .where(F.col("idx_a") < F.col("idx_b"))
        .select("idx_a", "idx_b")
        .dropDuplicates(["idx_a", "idx_b"])
    )
    stages["candidates_noop"], _ = timed(
        spark, "minhash: candidates", lambda: noop(cand)
    )
    print("  n_cand:", cand.count())
    ver = _minhash_verify(cand, info, info, n_perm, threshold, 0.12)
    stages["verify_noop"], _ = timed(spark, "minhash: verify", lambda: noop(ver))
    stages["full_end_to_end"], _ = timed(
        spark, "minhash: full",
        lambda: minhash_lsh_pairs(big, "doc_id", n=3, n_perm=64, threshold=0.9).count(),
    )
    return stages


def profile_er(spark, sf_dir, sf):
    from datamatch_spark import (
        ColumnsIndex,
        DateSimilarity,
        JaroWinklerSimilarity,
        PairingConfig,
        ThresholdMatcher,
    )
    from datamatch_spark.corpus import CorpusConfig, generate_documents, project_fields
    from datamatch_spark.grouped import _flat_side
    from datamatch_spark.pairing import _n_parts, cell_members
    from datamatch_spark.indices import BLOCK_KEY

    n_docs = max(3000, int(500_000 * sf))
    cfg = CorpusConfig(
        n_docs=n_docs, seed=42, profile="clean",
        blk_buckets=max(50, n_docs // 25), hot_pct=4,
    )
    docs = generate_documents(spark, cfg)
    fields = project_fields(docs).drop("spans").localCheckpoint()
    fields.count()
    stages = {}
    pcfg = PairingConfig(salt_threshold=1000)
    sims = {
        "last": JaroWinklerSimilarity(),
        "first": JaroWinklerSimilarity(),
        "dob": DateSimilarity(),
    }
    from datamatch_spark.scorers import SimSumScorer

    scorer = SimSumScorer(sims)
    needed = sorted(scorer.required_columns())
    fmap = {c: f"__f{i}" for i, c in enumerate(needed)}
    side = _flat_side(fields, ColumnsIndex("blk"), "doc_id", needed, fmap)
    stages["keyed_side_noop"], _ = timed(spark, "er: keyed_side", lambda: noop(side))
    members = cell_members(side, pcfg)
    stages["members_noop"], _ = timed(spark, "er: members", lambda: noop(members))
    members_rep = members.repartition(
        _n_parts(side, pcfg), F.col(BLOCK_KEY), F.col("__l"), F.col("__t")
    )
    stages["members_repart_noop"], _ = timed(
        spark, "er: members+repartition", lambda: noop(members_rep)
    )
    m = ThresholdMatcher(
        ColumnsIndex("blk"), sims, fields,
        row_key="doc_id", validate=False, pairing_config=pcfg,
    )
    stages["scored_pairs_count"], n = timed(
        spark, "er: scored_pairs", lambda: m.scored_pairs.count()
    )
    print("  n_pairs:", n)
    stages["cluster_assignments"], _ = timed(
        spark, "er: clusters", lambda: m.get_cluster_assignments(0.8, 1.0).count()
    )
    return stages


def profile_hygiene(spark, sf_dir, sf):
    from datamatch_spark.extras.decontam import _gram_col, dup_ngram_stats

    tile = max(4, int(400 * sf))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(spark.range(tile).select(F.col("id").alias("copy")))
        .select((F.col("doc_id") * tile + F.col("copy")).alias("doc_id"), "text")
        .repartition(64)
        .localCheckpoint()
    )
    big.count()
    stages = {}
    grams_arr = big.select("doc_id", _gram_col("text", 8, True).alias("__g"))
    stages["gram_eval_once_noop"], _ = timed(
        spark, "hygiene: gram eval (1 pass)", lambda: noop(grams_arr)
    )
    exploded = grams_arr.select("doc_id", F.explode("__g").alias("gram"))
    stages["gram_explode_noop"], _ = timed(
        spark, "hygiene: gram explode", lambda: noop(exploded)
    )
    dupg = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") > 1
    )
    stages["gram_df_agg"], _ = timed(
        spark, "hygiene: gram df agg", lambda: noop(dupg)
    )
    stages["full_end_to_end"], _ = timed(
        spark, "hygiene: full",
        lambda: dup_ngram_stats(big, n=8).where(F.col("dup_fraction") >= 1.0).count(),
    )
    return stages


def profile_line(spark, sf_dir, sf):
    from datamatch_spark.extras.cleaning import dedup_lines

    tile = max(4, int(400 * sf))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(spark.range(tile).select(F.col("id").alias("copy")))
        .select(
            (F.col("doc_id") * tile + F.col("copy")).alias("doc_id"),
            F.expr("replace(text, ' table ', '\\n')").alias("text"),
        )
        .repartition(64)
        .localCheckpoint()
    )
    big.count()
    stages = {}
    stages["full_end_to_end"], _ = timed(
        spark, "line: full",
        lambda: dedup_lines(big).agg(F.sum("n_lines_kept")).collect(),
    )
    return stages


def profile_text(spark, sf_dir, sf):
    from datamatch_spark.extras.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
        with_token_count,
    )

    tile = max(4, int(400 * sf))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = (
        docs.crossJoin(spark.range(tile).select(F.col("id").alias("copy")))
        .select((F.col("doc_id") * tile + F.col("copy")).alias("doc_id"), "text")
        .repartition(64)
        .localCheckpoint()
    )
    big.count()
    stages = {}
    stages["full_end_to_end"], _ = timed(
        spark, "text: full",
        lambda: with_lang_id(with_quality(with_fingerprint(with_token_count(big))))
        .where(F.col("quality_score") > 0)
        .count(),
    )
    return stages


def profile_ann(spark, sf_dir, sf):
    from datamatch_spark.extras.simsearch import cosine_topk, lsh_topk

    tile = max(10, int(1000 * sf))
    big = _tiled_embeddings(spark, sf_dir, tile, 13)
    big.count()
    queries = big.where(F.col("vec_id") % tile == 0).limit(100).localCheckpoint()
    stages = {}
    stages["lsh_topk"], _ = timed(
        spark, "ann: lsh_topk",
        lambda: lsh_topk(big, queries, k=5, n_planes=16).count(),
    )
    stages["cosine_topk"], _ = timed(
        spark, "ann: cosine_topk",
        lambda: cosine_topk(big, queries, k=5).count(),
    )
    return stages


PROFILES = {
    "semantic": profile_semantic,
    "minhash": profile_minhash,
    "er": profile_er,
    "hygiene": profile_hygiene,
    "line": profile_line,
    "text": profile_text,
    "ann": profile_ann,
}


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "semantic"
    sf_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))
    all_stages = []
    for i in range(repeats):
        print(f"--- pass {i} ---", flush=True)
        all_stages.append(PROFILES[which](spark, sf_dir, sf))
    print(json.dumps({"query": which, "sf": sf, "passes": all_stages}))


if __name__ == "__main__":
    main()
