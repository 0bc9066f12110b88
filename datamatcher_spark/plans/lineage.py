"""Per-stage lineage metrics + commit markers → checkpoint-resume.

The reference records a CellChange for every cell it touches
(core/matcher.py:28-41) and restores interrupted jobs from a serialized
Session (utils/session.py:17-98). At 10^12 docs per-cell lineage is
impossible; the scalable equivalent (FIXTURES.md §3) is per-partition
lineage rows — (stage, partition_id, block_key, pair_count,
score_histogram, wall_ms) — appended to a metrics table, plus a commit
marker per completed stage that drives resume-from-last-committed-stage.

Storage: an Iceberg catalog isn't available in this sandbox, so the
metrics table is an append-only parquet directory and commit markers are
atomic JSON files — the ``MetricsTable`` API is the seam where
``df.writeTo("catalog.db.metrics").append()`` plugs in unchanged when an
Iceberg catalog is configured (Iceberg snapshots then subsume the marker
files).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("block_key", T.StringType()),
        T.StructField("pair_count", T.LongType()),
        T.StructField("score_histogram", T.MapType(T.StringType(), T.LongType())),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)


class MetricsTable:
    """Append-only lineage/metrics table + stage commit markers."""

    def __init__(self, spark: SparkSession, work_dir: str | Path, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.root = Path(work_dir)
        self.metrics_dir = self.root / "metrics"
        self.commits_dir = self.root / "_commits" / run_id
        self.commits_dir.mkdir(parents=True, exist_ok=True)

    # -- metrics -----------------------------------------------------------
    def append(self, df: DataFrame, stage: str, wall_ms: int) -> None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        out = (
            df.withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
            .withColumn("committed_at", F.lit(now))
        )
        for f in METRICS_SCHEMA.fields:
            if f.name not in out.columns:
                out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        out = out.select([f.name for f in METRICS_SCHEMA.fields])
        out.write.mode("append").parquet(str(self.metrics_dir))

    def read(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(str(self.metrics_dir))

    # -- commit markers ----------------------------------------------------
    def stage_output_path(self, stage: str) -> str:
        return str(self.root / "stages" / self.run_id / stage)

    def is_committed(self, stage: str) -> bool:
        return (self.commits_dir / f"{stage}.json").exists()

    def commit(self, stage: str, **info) -> None:
        write_marker(self.commits_dir / f"{stage}.json", {
            "run_id": self.run_id,
            "stage": stage,
            "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
            **info,
        })

    def read_commit(self, stage: str) -> dict | None:
        marker = self.commits_dir / f"{stage}.json"
        if not marker.exists():
            return None
        return json.loads(marker.read_text())


def write_marker(marker: Path, payload: dict) -> None:
    """Atomic commit-marker write (tmp + rename) — a half-written marker
    can never be mistaken for a committed stage."""
    tmp = marker.with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
    tmp.write_text(json.dumps(payload, indent=2, default=str))
    os.replace(tmp, marker)


def partition_lineage(df: DataFrame, *, score_col: str | None = None,
                      buckets: int = 20, accept_col: str | None = None) -> DataFrame:
    """Per-partition lineage aggregate: pair/row counts and (optionally) a
    bucketed score histogram, grouped by physical partition id.

    ``accept_col`` piggybacks an accepted-edge counter (``accepted_n``)
    onto the same pass — the caller folds the global accepted total from
    the collected rows instead of paying a second scan of the scored-pair
    table (the extra column is NOT part of METRICS_SCHEMA; strip it
    before appending)."""
    d = df.withColumn("partition_id", F.spark_partition_id())
    aggs = [F.count("*").alias("pair_count")]
    if score_col is not None:
        bucket = F.least(
            F.floor(F.col(score_col) * buckets).cast("int"), F.lit(buckets - 1)
        )
        d = d.withColumn(
            "score_bucket",
            F.format_string("%.2f", bucket.cast("double") / buckets),
        )
        hist = F.map_from_entries(
            F.collect_list(F.struct("score_bucket", "bucket_n"))
        ).alias("score_histogram")
        inner = [F.count("*").alias("bucket_n")]
        outer = [F.sum("bucket_n").alias("pair_count"), hist]
        if accept_col is not None:
            inner.append(F.count_if(F.col(accept_col)).alias("acc_n"))
            outer.append(F.sum("acc_n").cast("long").alias("accepted_n"))
        per_bucket = d.groupBy("partition_id", "score_bucket").agg(*inner)
        return per_bucket.groupBy("partition_id").agg(*outer)
    return d.groupBy("partition_id").agg(*aggs)
