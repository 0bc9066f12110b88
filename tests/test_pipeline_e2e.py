"""End-to-end pipeline correctness: the BASELINE gate (pairwise F1 ≥ 0.99
on planted clusters) plus checkpoint-resume behavior."""

from __future__ import annotations

import pytest

from datamatcher_spark.plans.config import PipelineConfig
from datamatcher_spark.plans.run import pairwise_f1, run_pipeline
from datamatcher_spark.sources.synth import (
    generate_labeled_pairs,
    generate_pages_with_truth,
)


@pytest.fixture(scope="module")
def corpus(spark):
    pt = generate_pages_with_truth(spark, n_docs=1500, seed=42).cache()
    pt.count()
    pairs = generate_labeled_pairs(pt).cache()
    pairs.count()
    return pt, pairs


def test_f1_gate(spark, corpus, tmp_path_factory):
    pt, labeled = corpus
    work = str(tmp_path_factory.mktemp("pipe"))
    res = run_pipeline(spark, pt.drop("cluster_id"), work, "r1", PipelineConfig())
    m = pairwise_f1(res.clusters, labeled)
    assert m["f1"] >= 0.99, m
    assert res.stages_run == ["block", "score", "cluster"]
    # lineage rows exist for every stage
    stages = {r.stage for r in res.metrics.read().select("stage").distinct().collect()}
    assert {"block", "score", "cluster"} <= stages
    # score lineage carries a histogram
    hist_rows = res.metrics.read().filter("stage = 'score'").collect()
    assert any(r.score_histogram for r in hist_rows)


def test_resume_skips_committed_stages(spark, corpus, tmp_path_factory):
    pt, labeled = corpus
    work = str(tmp_path_factory.mktemp("pipe_resume"))
    pages = pt.drop("cluster_id")
    first = run_pipeline(spark, pages, work, "r2", PipelineConfig())
    assert first.stages_run == ["block", "score", "cluster"]

    second = run_pipeline(spark, pages, work, "r2", PipelineConfig())
    assert second.stages_run == []
    assert second.stages_skipped == ["block", "score", "cluster"]
    a = {(r.url, r.cluster_id) for r in first.clusters.collect()}
    b = {(r.url, r.cluster_id) for r in second.clusters.collect()}
    assert a == b


def test_uid_bits_128(spark, corpus, tmp_path_factory):
    """The 10^12-doc id width: the pipeline must produce the SAME
    clusters (as url sets) with 16-byte struct uids as with 8-byte longs,
    and the shuffle keys must stay fixed-width either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructType

    from datamatcher_spark.plans.blocking import block_keys
    from datamatcher_spark.plans.scoring import candidate_pairs

    pt, labeled = corpus
    pages = pt.drop("cluster_id")
    work64 = str(tmp_path_factory.mktemp("uid64"))
    work128 = str(tmp_path_factory.mktemp("uid128"))
    r64 = run_pipeline(spark, pages, work64, "u64", PipelineConfig())
    r128 = run_pipeline(spark, pages, work128, "u128", PipelineConfig(uid_bits=128))
    assert r64.counts["pairs_scored"] == r128.counts["pairs_scored"]
    assert r64.counts["clusters"] == r128.counts["clusters"]

    def cluster_sets(res):
        rows = res.clusters.groupBy("cluster_id").agg(
            F.sort_array(F.collect_list("url")).alias("urls")
        ).collect()
        return {tuple(r.urls) for r in rows}

    assert cluster_sets(r64) == cluster_sets(r128)
    # fixed-width shuffle keys: long at 64, struct<h1,h2 long> at 128 —
    # never url strings
    p64 = candidate_pairs(block_keys(pages, PipelineConfig()))
    p128 = candidate_pairs(block_keys(pages, PipelineConfig(uid_bits=128)))
    assert isinstance(p64.schema["uid_a"].dataType, LongType)
    t = p128.schema["uid_a"].dataType
    assert isinstance(t, StructType) and [f.dataType for f in t.fields] == [
        LongType(), LongType()
    ]


def test_partial_resume(spark, corpus, tmp_path_factory):
    """Simulate a crash inside a later stage: wipe that stage's commit
    marker and relaunch. Only that stage reruns, with the counts of the
    full run; a score rerun takes the doc count from the block marker."""
    import os

    pt, _ = corpus
    work = str(tmp_path_factory.mktemp("pipe_partial"))
    pages = pt.drop("cluster_id")
    full = run_pipeline(spark, pages, work, "r3", PipelineConfig())
    assert full.metrics.read_commit("block")["docs"] == pt.count()
    cases = [
        ("cluster", ["block", "score"], ("clusters", "cc_iterations")),
        ("score", ["block", "cluster"], ("pairs_scored", "edges_accepted")),
    ]
    for stage, skipped, keys in cases:
        os.remove(full.metrics.commits_dir / f"{stage}.json")
        resumed = run_pipeline(spark, pages, work, "r3", PipelineConfig())
        assert resumed.stages_skipped == skipped
        assert resumed.stages_run == [stage]
        assert {k: resumed.counts[k] for k in keys} == {k: full.counts[k] for k in keys}


def test_committed_blocks_equal_primitive_reference(spark, tmp_path):
    """The committed block table must equal (block_key, uid) rebuilt from
    the primitive expressions — the dom: key plus lsh_band_keys_expr over
    the MinHash UDF of the text-path shingles — minus the truncation
    census, which must name every over-cap key at its full size."""
    from collections import Counter

    from pyspark.sql import functions as F

    from datamatcher_spark.functions.minhash import (
        lsh_band_keys_expr,
        minhash_signature_udf,
        shingle_hashes_expr,
        word_shingles_expr,
    )
    from datamatcher_spark.norm.keys import norm_domain_expr

    # small caps so both the domain and the band census are non-empty;
    # the language filter drops some docs
    cfg = PipelineConfig(max_block_size=40, max_band_size=3, langs=("en", "de"))
    pages = generate_pages_with_truth(spark, n_docs=400, seed=7).drop("cluster_id")
    res = run_pipeline(spark, pages, str(tmp_path), "blk", cfg)

    kept_pages = pages.filter(F.col("lang").isin("en", "de"))
    hs = kept_pages.withColumn(
        "hs", shingle_hashes_expr(word_shingles_expr(F.col("text"), cfg.shingle_words))
    ).withColumn("sig", minhash_signature_udf(cfg.minhash_k, cfg.minhash_seed)(F.col("hs")))
    keys = F.concat(
        F.array(F.concat(F.lit("dom:"), norm_domain_expr(F.col("url")))),
        lsh_band_keys_expr(F.col("sig"), cfg.lsh_bands, cfg.lsh_rows),
    )
    ref = [(r.k, r.uid) for r in hs.select(
        F.explode(keys).alias("k"), F.xxhash64("url").alias("uid")).collect()]
    sizes = Counter(k for k, _ in ref)
    cap = {True: cfg.max_block_size, False: cfg.max_band_size}
    over = {k: n for k, n in sizes.items() if n > cap[k.startswith("dom:")]}
    assert any(k.startswith("dom:") for k in over) and any(k.startswith("lsh:") for k in over)

    got = [(r.block_key, r.uid) for r in spark.read.parquet(
        res.metrics.stage_output_path("block")).collect()]
    assert sorted(got) == sorted((k, u) for k, u in ref if k not in over)
    census = {r.block_key: r.pair_count for r in res.metrics.read()
              .filter("stage = 'block_truncated'").collect()}
    assert census == over
    assert res.metrics.read_commit("block")["docs"] == kept_pages.count()
