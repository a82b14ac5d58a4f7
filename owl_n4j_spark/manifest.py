"""Lineage + metrics manifest (FIXTURES.md §4 / SURVEY.md K5).

The reference writes a per-ingest reconciliation report — XML count vs
persisted count per model type, with ok/under/not_supported status —
(/root/reference/ingestion/scripts/cellebrite/ingestion.py:82-131) and uses
it as a continuous test. This module is the Spark analog: every pipeline
stage appends (run_id, stage, partition_id, in_rows, out_rows, quarantined,
started_at, finished_at, snapshot_id) rows, counted on the stage's own job
(pipeline.run_pipeline's ``staged``). Stage totals live in the
partition_id = -1 row; each committed part file ``part-NNNNN-*`` adds a
row with partition_id = NNNNN and its parquet-footer row count.

With a parquet warehouse the "snapshot" is the _SUCCESS-committed stage
directory; on Iceberg it would be the table snapshot id — the resume logic
only trusts committed outputs either way.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

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


class ManifestWriter:
    """Collects manifest rows for one run; optionally persists to parquet."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:16]
        self.path = path
        self._rows: list[tuple] = []

    def record(self, stage: str, in_rows: int, out_rows: int,
               quarantined: int, started_at: datetime,
               finished_at: datetime, snapshot_id: str | None = None,
               parts: list[tuple[int, int]] = ()) -> None:
        """One stage-total row plus one row per (partition_id, out_rows)
        committed part file; in_rows and quarantined are not attributed
        per file (NULL)."""
        for pid, n in parts:
            self._rows.append((self.run_id, stage, pid, None, n, None,
                               started_at, finished_at, snapshot_id))
        self._rows.append((self.run_id, stage, -1, in_rows, out_rows,
                           quarantined, started_at, finished_at,
                           snapshot_id))

    def flush(self) -> DataFrame:
        """The run's rows as a DataFrame, appended to ``path`` if any."""
        df = local_df(self.spark, self._rows, MANIFEST_SCHEMA)
        if self.path and self._rows:
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
        of the same bytes is ~10 ms. The arrow schema is derived from
        MANIFEST_SCHEMA, so spark.read.parquet sees the identical table
        either way."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(MANIFEST_SCHEMA)
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in self._rows], schema=schema)
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(
            table,
            os.path.join(self.path, f"part-{self.run_id}-{uuid.uuid4().hex[:8]}.parquet"))


def stage_is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))
