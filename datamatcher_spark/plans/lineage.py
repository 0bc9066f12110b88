"""Per-stage lineage metrics + fingerprinted commit markers →
checkpoint-resume.

The reference records a CellChange for every cell it touches
(core/matcher.py:28-41) and restores interrupted jobs from a serialized
Session (utils/session.py:17-98). At 10^12 docs per-cell lineage is
impossible; the scalable equivalent (FIXTURES.md §3) is per-partition
lineage rows — (stage, partition_id, block_key, pair_count,
score_histogram, wall_ms) — in a metrics table, plus a commit marker per
completed stage that drives resume-from-last-committed-stage. Both
product paths (``plans.run`` stages, ``plans.profiles`` source folds)
commit through ``StageCommits``: markers stamped with the run's
fingerprint, so a relaunch after the config or input changed reruns.

Storage: without an Iceberg catalog the metrics table is a parquet
directory with ONE file per (run_id, stage), written by the
driver with pyarrow (no Spark job) and replaced when the stage reruns —
never duplicated. ``MetricsTable`` is the seam where a per-stage
``writeTo("catalog.db.metrics").overwritePartitions()`` plugs in
(Iceberg snapshots then subsume the marker files).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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
_ARROW_SCHEMA = to_arrow_schema(METRICS_SCHEMA)


class StageCommits:
    """Fingerprinted commit markers, one ``<name>.json`` per committed
    stage under ``dir``."""

    def __init__(self, dir: str | Path, fingerprint: str):
        self.dir = Path(dir)
        self.fingerprint = fingerprint
        self.dir.mkdir(parents=True, exist_ok=True)

    def read(self, name: str) -> dict | None:
        """The marker, or None when it is absent or was committed under
        another fingerprint."""
        marker = self.dir / f"{name}.json"
        if not marker.exists():
            return None
        doc = json.loads(marker.read_text())
        return doc if doc.get("fingerprint") == self.fingerprint else None

    def write(self, name: str, **info) -> None:
        """Atomic (tmp + rename): a half-written marker can never be
        mistaken for a committed stage."""
        doc = {**info, "fingerprint": self.fingerprint,
               "committed_at": dt.datetime.now(dt.timezone.utc).isoformat()}
        marker = self.dir / f"{name}.json"
        tmp = marker.with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
        tmp.write_text(json.dumps(doc, indent=2, default=str))
        os.replace(tmp, marker)


class MetricsTable:
    """Per-stage lineage files + the stage commit markers of one run."""

    def __init__(self, spark: SparkSession, work_dir: str | Path, run_id: str,
                 fingerprint: str):
        self.spark = spark
        self.run_id = run_id
        self.root = Path(work_dir)
        self.metrics_dir = self.root / "metrics"
        self.commits_dir = self.root / "_commits" / run_id
        self.commits = StageCommits(self.commits_dir, fingerprint)

    # -- metrics -----------------------------------------------------------
    def append(self, stage: str, rows: list[dict], wall_ms: int) -> None:
        """Write ``stage``'s lineage rows (dicts; keys outside
        METRICS_SCHEMA are ignored) as its one file, replacing any earlier
        copy. Spark's listing skips the ``.``-prefixed temp file."""
        now = dt.datetime.now(dt.timezone.utc)
        table = pa.Table.from_pylist(
            [{**r, "run_id": self.run_id, "stage": stage, "wall_ms": wall_ms,
              "committed_at": now} for r in rows],
            schema=_ARROW_SCHEMA,
        )
        self.metrics_dir.mkdir(parents=True, exist_ok=True)
        out = self.metrics_dir / f"{self.run_id}.{stage}.parquet"
        tmp = self.metrics_dir / f".{out.name}.tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(table, tmp)
        os.replace(tmp, out)

    def read(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(str(self.metrics_dir))

    # -- commit markers ----------------------------------------------------
    def stage_output_path(self, stage: str) -> str:
        return str(self.root / "stages" / self.run_id / stage)

    def commit(self, stage: str, rows: list[dict], wall_ms: int, **counts) -> None:
        """Write the stage's lineage rows, then its marker — last, so a
        crash in between reruns the stage and replaces the rows."""
        self.append(stage, rows, wall_ms)
        self.commits.write(stage, run_id=self.run_id, stage=stage, **counts)

    def read_commit(self, stage: str) -> dict | None:
        return self.commits.read(stage)


def partition_lineage(df: DataFrame, *, score_col: str | None = None,
                      buckets: int = 20, accept_col: str | None = None) -> DataFrame:
    """Per-partition lineage aggregate: pair/row counts and (optionally) a
    bucketed score histogram, grouped by physical partition id.

    ``accept_col`` piggybacks an accepted-edge counter (``accepted_n``)
    onto the same pass — the caller folds the global accepted total from
    the collected rows instead of paying a second scan of the scored-pair
    table (the extra column is NOT part of METRICS_SCHEMA;
    ``MetricsTable.append`` ignores it)."""
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
