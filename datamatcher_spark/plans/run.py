"""Pipeline orchestration: block → score → cluster, with per-stage
lineage, commit markers, and resume-from-last-committed-stage.

Analogue of the reference's headless lifecycle (main.py:35-134 +
SessionManager restore, utils/session.py:17-98): each stage writes its
output parquet, its lineage and then a fingerprinted commit marker;
relaunching with the same (work_dir, run_id, config, input) skips
committed stages and reads their outputs — the driver-side resume
orchestration SURVEY §4 item 4 calls for.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datamatcher_spark.plans.blocking import features, truncate_oversized
from datamatcher_spark.plans.clustering import connected_components
from datamatcher_spark.plans.config import PipelineConfig
from datamatcher_spark.plans.lineage import MetricsTable, partition_lineage
from datamatcher_spark.plans.scoring import candidate_pairs, score_pairs

STAGES = ("block", "score", "cluster")


class PipelineResult:
    def __init__(self, clusters: DataFrame, metrics: MetricsTable,
                 stages_run: list[str], stages_skipped: list[str],
                 cc_iterations: int, counts: dict):
        self.clusters = clusters
        self.metrics = metrics
        self.stages_run = stages_run
        self.stages_skipped = stages_skipped
        self.cc_iterations = cc_iterations
        self.counts = counts


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    run_id: str,
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    # a long-lived session may carry storage leftovers from scope-less
    # dedup-operator calls (they grow with corpus size); the pipeline's
    # stages should never compete with them for unified memory
    from datamatcher_spark.operators.dedup import release_orphaned_caches

    release_orphaned_caches()
    mt = MetricsTable(spark, work_dir, run_id, _fingerprint(spark, pages, cfg))
    stages_run: list[str] = []
    stages_skipped: list[str] = []
    counts: dict = {}
    cc_iters = 0

    # ---- stage 1: block ----------------------------------------------------
    blocks_path = mt.stage_output_path("block")
    feats_path = mt.stage_output_path("features")
    if mt.read_commit("block"):
        stages_skipped.append("block")
    else:
        t0 = time.monotonic()
        # ONE pass over pages: the features parquet carries each doc's
        # block_keys array, and the doc count rides on the same write
        seen = Observation("features")
        (features(pages, cfg)
         .observe(seen, F.count(F.lit(1)).alias("docs"))
         .write.mode("overwrite").parquet(feats_path))
        counts["docs"] = seen.get["docs"]
        raw_blocks = spark.read.parquet(feats_path).select(
            F.explode("block_keys").alias("block_key"), "uid"
        )
        _, truncated_census = truncate_oversized(raw_blocks, cfg)
        truncated = truncated_census.collect()  # tiny; needed twice below
        truncated_df = spark.createDataFrame(
            truncated or [], "block_key string, block_size long"
        )
        raw_blocks.join(
            F.broadcast(truncated_df.select("block_key")), "block_key", "left_anti"
        ).write.mode("overwrite").parquet(blocks_path)
        wall = int((time.monotonic() - t0) * 1000)

        # ONE pass over the block table serves both the lineage rows and
        # the row count: the per-partition aggregate is tiny (one row per
        # partition), so collect it and fold the total driver-side — a
        # separate count() was a second full scan of the largest stage-1
        # output
        lineage_rows = partition_lineage(spark.read.parquet(blocks_path)).collect()
        # truncated-block census: never silent (one lineage row per block)
        mt.append("block_truncated", [
            {"block_key": r.block_key, "pair_count": r.block_size} for r in truncated
        ], wall)
        counts["blocks"] = sum(r.pair_count for r in lineage_rows)
        counts["truncated_blocks"] = len(truncated)
        counts["block_wall_ms"] = wall
        mt.commit("block", [r.asDict() for r in lineage_rows], wall,
                  **{k: counts[k] for k in ("docs", "blocks", "truncated_blocks")})
        stages_run.append("block")

    # ---- stage 2: score ------------------------------------------------------
    edges_path = mt.stage_output_path("score")
    if mt.read_commit("score"):
        stages_skipped.append("score")
    else:
        t0 = time.monotonic()
        blocks_df = spark.read.parquet(blocks_path)
        feats_df = spark.read.parquet(feats_path)
        pairs = candidate_pairs(blocks_df)
        # the doc count comes from the block marker, so a resumed run
        # picks the same feature-join strategy without recounting
        scored = score_pairs(pairs, feats_df, cfg, mt.read_commit("block")["docs"])
        scored.write.mode("overwrite").parquet(edges_path)
        wall = int((time.monotonic() - t0) * 1000)

        scored_df = spark.read.parquet(edges_path)
        # one pass serves lineage + totals (same fusion as the block
        # stage): collect the tiny per-partition aggregate and fold
        # pair/accepted totals driver-side — the separate count/count_if
        # agg was a second full scan of the scored-pair table
        lineage_rows = partition_lineage(
            scored_df, score_col="score", buckets=cfg.histogram_buckets,
            accept_col="accepted",
        ).collect()
        counts["pairs_scored"] = sum(r.pair_count for r in lineage_rows)
        counts["edges_accepted"] = sum(r.accepted_n for r in lineage_rows)
        counts["score_wall_ms"] = wall
        mt.commit("score", [r.asDict() for r in lineage_rows], wall,
                  **{k: counts[k] for k in
                     ("pairs_scored", "edges_accepted", "score_wall_ms")})
        stages_run.append("score")

    # ---- stage 3: cluster ----------------------------------------------------
    clusters_path = mt.stage_output_path("cluster")
    if mt.read_commit("cluster"):
        stages_skipped.append("cluster")
    else:
        t0 = time.monotonic()
        edges = spark.read.parquet(edges_path).filter("accepted")
        # CC runs on 8-byte uids; urls are joined back once at the end
        cc, cc_iters = connected_components(
            edges.select(F.col("uid_a").alias("src"), F.col("uid_b").alias("dst")),
            cfg.max_cc_iterations,
            checkpoint_dir=cfg.checkpoint_dir or None,
        )
        uid_url = spark.read.parquet(feats_path).select("uid", "url")
        assigned = cc.select(F.col("node").alias("uid"),
                             F.col("component").alias("cluster_id"))
        clusters = uid_url.join(assigned, "uid", "left").withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("uid"))
        )
        # CC labels each component by its minimum node and a singleton is
        # its own root, so every cluster has exactly one row whose id is
        # its own uid: the write counts those, no distinct() job
        seen = Observation("clusters")
        (clusters
         .observe(seen, F.count_if(F.col("cluster_id") == F.col("uid")).alias("clusters"))
         .select("url", "cluster_id")
         .write.mode("overwrite").parquet(clusters_path))
        counts["clusters"] = seen.get["clusters"]
        wall = int((time.monotonic() - t0) * 1000)

        lineage_rows = partition_lineage(spark.read.parquet(clusters_path)).collect()
        counts["cc_iterations"] = cc_iters
        counts["cluster_wall_ms"] = wall
        mt.commit("cluster", [r.asDict() for r in lineage_rows], wall,
                  **{k: counts[k] for k in ("clusters", "cc_iterations")})
        stages_run.append("cluster")

    clusters_df = spark.read.parquet(clusters_path)
    return PipelineResult(clusters_df, mt, stages_run, stages_skipped, cc_iters, counts)


def _fingerprint(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig) -> str:
    """Hash of what a committed stage depends on: the config, the input
    schema and each input file's (path, size, mtime), stat'ed through the
    path's Hadoop FileSystem on the driver. In-memory input has no files;
    its plan's semanticHash stands in, which is stable only within one
    process, so it can force a rerun but never a stale resume."""
    conf = spark._jsc.hadoopConfiguration()
    files = []
    for f in sorted(pages.inputFiles()):
        path = spark._jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        files.append((f, st.getLen(), st.getModificationTime()))
    doc = [asdict(cfg), pages.schema.json(), files or pages.semanticHash()]
    return hashlib.sha256(json.dumps(doc).encode()).hexdigest()[:16]


def pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of cluster assignments against the
    labeled pair set (the BASELINE gate: F1 ≥ 0.99)."""
    ca = clusters.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("cid_a"))
    cb = clusters.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cid_b"))
    joined = (
        labeled_pairs.join(ca, "url_a").join(cb, "url_b")
        .withColumn("pred", F.col("cid_a") == F.col("cid_b"))
    )
    agg = joined.agg(
        F.count_if(F.col("pred") & F.col("label")).alias("tp"),
        F.count_if(F.col("pred") & ~F.col("label")).alias("fp"),
        F.count_if(~F.col("pred") & F.col("label")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg.tp, agg.fp, agg.fn
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": precision, "recall": recall, "f1": f1}
