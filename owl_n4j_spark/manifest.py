"""Lineage + metrics manifest (FIXTURES.md §4 / SURVEY.md K5).

The reference writes a per-ingest reconciliation report — XML count vs
persisted count per model type, with ok/under/not_supported status —
(/root/reference/ingestion/scripts/cellebrite/ingestion.py:82-131) and uses
it as a continuous test. This module is the Spark analog: every pipeline
stage appends (run_id, stage, partition_id, in_rows, out_rows, quarantined,
started_at, finished_at, snapshot_id) rows; stage-level totals live in the
partition_id = -1 row, per-output-partition counts in the rest.

With a parquet warehouse the "snapshot" is the _SUCCESS-committed stage
directory; on Iceberg it would be the table snapshot id — the resume logic
(pipeline.StageRunner) only trusts committed outputs either way.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from owl_n4j_spark.localrel import local_df
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

MANIFEST_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("stage", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("in_rows", LongType()),
    StructField("out_rows", LongType()),
    StructField("quarantined", LongType()),
    StructField("started_at", TimestampType()),
    StructField("finished_at", TimestampType()),
    StructField("snapshot_id", StringType()),
])


def new_run_id() -> str:
    return uuid.uuid4().hex[:16]


class ManifestWriter:
    """Collects manifest rows for one run; optionally persists to parquet."""

    def __init__(self, spark: SparkSession, run_id: str | None = None,
                 path: str | None = None):
        self.spark = spark
        self.run_id = run_id or new_run_id()
        self.path = path
        self._rows: list[tuple] = []

    def record(self, stage: str, in_rows: int, out_df: DataFrame | None = None,
               out_rows: int | None = None, quarantined: int = 0,
               started_at: datetime | None = None,
               snapshot_id: str | None = None,
               per_partition: bool = True) -> None:
        now = datetime.now(timezone.utc)
        started = started_at or now
        if out_df is not None and per_partition:
            parts = (
                out_df.groupBy(F.spark_partition_id().alias("pid"))
                .count().collect()
            )
            total = 0
            for r in parts:
                total += r["count"]
                self._rows.append((self.run_id, stage, int(r["pid"]),
                                   int(in_rows), int(r["count"]), 0,
                                   started, now, snapshot_id))
            out_total = total if out_rows is None else out_rows
        else:
            out_total = int(out_rows or 0)
        self._rows.append((self.run_id, stage, -1, int(in_rows),
                           int(out_total), int(quarantined), started, now,
                           snapshot_id))

    def to_df(self) -> DataFrame:
        return local_df(self.spark, self._rows, MANIFEST_SCHEMA)

    def flush(self) -> DataFrame:
        df = self.to_df()
        if self.path:
            if "://" not in self.path:
                self._flush_local_arrow()
            else:
                # non-local warehouse (hdfs://, s3a://): the Spark writer
                # owns the committer semantics there
                df.coalesce(1).write.mode("append").parquet(self.path)
        return df

    def _flush_local_arrow(self) -> None:
        """Append the O(stages) manifest rows to <path>/ with pyarrow.
        The Spark parquet writer pays a full job + Hadoop commit cycle
        (task launch, _temporary rename dance, _SUCCESS) — measured 1-4 s
        for a 20-row frame, pure fixed cost; a direct local parquet write
        of the same bytes is ~10 ms. Schema matches MANIFEST_SCHEMA so
        spark.read.parquet sees the identical table either way."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*self._rows)) if self._rows else [[] for _ in range(9)]
        table = pa.table({
            "run_id": pa.array(cols[0], pa.string()),
            "stage": pa.array(cols[1], pa.string()),
            "partition_id": pa.array(cols[2], pa.int32()),
            "in_rows": pa.array(cols[3], pa.int64()),
            "out_rows": pa.array(cols[4], pa.int64()),
            "quarantined": pa.array(cols[5], pa.int64()),
            "started_at": pa.array(cols[6], pa.timestamp("us", tz="UTC")),
            "finished_at": pa.array(cols[7], pa.timestamp("us", tz="UTC")),
            "snapshot_id": pa.array(cols[8], pa.string()),
        })
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(
            table,
            os.path.join(self.path, f"part-{self.run_id}-{uuid.uuid4().hex[:8]}.parquet"))


def stage_is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))
