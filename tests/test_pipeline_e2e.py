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


def _lineage(res):
    """The run's lineage rows as a multiset, minus wall and timestamp."""
    from collections import Counter

    return Counter(
        (r.run_id, r.stage, r.partition_id, r.block_key, r.pair_count,
         tuple(sorted((r.score_histogram or {}).items())))
        for r in res.metrics.read().collect()
    )


def _clusters(res):
    return {(r.url, r.cluster_id) for r in res.clusters.collect()}


def test_f1_gate(spark, corpus, tmp_path_factory):
    pt, labeled = corpus
    work = str(tmp_path_factory.mktemp("pipe"))
    res = run_pipeline(spark, pt.drop("cluster_id"), work, "r1", PipelineConfig())
    m = pairwise_f1(res.clusters, labeled)
    assert m["f1"] >= 0.99, m
    assert res.stages_run == ["block", "score", "cluster"]
    # the cluster count observed on the write (one root row per cluster)
    assert res.counts["clusters"] == res.clusters.select("cluster_id").distinct().count()
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
    # struct uids: the observed root-row count is still the cluster count
    assert r128.counts["clusters"] == r128.clusters.select("cluster_id").distinct().count()

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
    marker and relaunch. Only that stage reruns, with the counts and the
    lineage rows of the full run (replaced, not appended twice); a score
    rerun takes the doc count from the block marker."""
    import os

    pt, _ = corpus
    work = str(tmp_path_factory.mktemp("pipe_partial"))
    pages = pt.drop("cluster_id")
    full = run_pipeline(spark, pages, work, "r3", PipelineConfig())
    lineage = _lineage(full)
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
        assert _lineage(resumed) == lineage


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


def test_crash_before_each_marker_relaunches_clean(spark, tmp_path, monkeypatch):
    """A crash after a stage wrote its output and lineage but before its
    commit marker: the relaunch reruns that stage and ends with a clean
    run's clusters and exactly a clean run's lineage rows — the rerun
    replaces the stage's lineage file instead of adding a second copy."""
    from datamatcher_spark.plans.lineage import StageCommits
    from datamatcher_spark.plans.run import STAGES

    pages = generate_pages_with_truth(spark, n_docs=300, seed=3).drop("cluster_id")
    clean = run_pipeline(spark, pages, str(tmp_path / "clean"), "c", PipelineConfig())
    work = str(tmp_path / "crashed")
    write = StageCommits.write
    # each launch crashes at one stage's marker; the next one reruns it
    for stage in STAGES:
        def crash(self, name, _stage=stage, **info):
            if name == _stage:
                raise OSError(f"crash before the {name} marker")
            return write(self, name, **info)

        monkeypatch.setattr(StageCommits, "write", crash)
        with pytest.raises(OSError, match=stage):
            run_pipeline(spark, pages, work, "c", PipelineConfig())
        monkeypatch.undo()
    resumed = run_pipeline(spark, pages, work, "c", PipelineConfig())
    assert resumed.stages_run == ["cluster"]
    assert _clusters(resumed) == _clusters(clean)
    assert _lineage(resumed) == _lineage(clean)


def test_relaunch_after_config_or_input_change_reruns(spark, tmp_path):
    """A relaunch under the same run_id after the config or the input
    changed reruns every stage with a fresh run's counts — the markers
    committed for the old config or input never resume."""
    from datamatcher_spark.plans.run import STAGES

    src = str(tmp_path / "pages")

    def write_pages(seed):
        (generate_pages_with_truth(spark, n_docs=300, seed=seed).drop("cluster_id")
         .write.mode("overwrite").parquet(src))

    write_pages(1)
    work = str(tmp_path / "job")
    run_pipeline(spark, spark.read.parquet(src), work, "r", PipelineConfig())
    edited = PipelineConfig(jw_title_threshold=0.95)
    keys = ("docs", "blocks", "truncated_blocks", "pairs_scored",
            "edges_accepted", "clusters", "cc_iterations")
    cases = [
        ("config", lambda: None),           # same input, edited config
        ("input", lambda: write_pages(2)),  # same config, another corpus
    ]
    for case, change in cases:
        change()
        pages = spark.read.parquet(src)
        again = run_pipeline(spark, pages, work, "r", edited)
        fresh = run_pipeline(spark, pages, str(tmp_path / f"fresh-{case}"), "r", edited)
        assert again.stages_run == list(STAGES), case
        assert {k: again.counts[k] for k in keys} == {k: fresh.counts[k] for k in keys}, case
        assert _lineage(again) == _lineage(fresh), case


def test_lineage_commit_runs_no_spark_job(spark, tmp_path):
    """The lineage rows are on the driver already: committing a stage
    writes them and its marker without launching a Spark job."""
    from datamatcher_spark.plans.lineage import MetricsTable

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    mt = MetricsTable(spark, tmp_path, "g", "fp")
    rows = [{"partition_id": 0, "pair_count": 3, "score_histogram": {"0.95": 3}}]
    try:
        sc.setJobGroup("lineage-commit", "MetricsTable.commit")
        mt.commit("score", rows, 12, pairs_scored=3)
        assert tracker.getJobIdsForGroup("lineage-commit") == []
        sc.setJobGroup("lineage-read", "MetricsTable.read")
        got = [(r.run_id, r.stage, r.partition_id, r.pair_count, r.score_histogram,
                r.wall_ms) for r in mt.read().collect()]
        assert tracker.getJobIdsForGroup("lineage-read")  # the tracker sees jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == [("g", "score", 0, 3, {"0.95": 3}, 12)]
    assert mt.read_commit("score")["pairs_scored"] == 3
