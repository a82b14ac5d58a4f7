"""LocalRelation-backed construction of small driver-side DataFrames.

``spark.createDataFrame(<python list>)`` compiles to a LogicalRDD over a
PythonRDD: every action that touches it forks/roundtrips a Python worker
just to re-pickle a handful of constant rows (measured ~0.4 s per use, and
~2 s on a session whose Python worker pool is cold — guide §4: every
Python-boundary crossing costs, including ones the plan hides). Routing the
same rows through a pandas frame takes the Arrow path, which lands as a
pure-JVM ``LocalRelation``: no Python workers at execution, broadcastable
and constant-foldable by Catalyst (measured ~0.1 s per use).

Use for every small dimension/config table built from driver-side literals.
Not for big frames - anything beyond config/dimension size should come from
a real source or ``spark.range``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny literal-rows DataFrame as a LocalRelation (Arrow path).

    ``schema`` is a DDL string ("a int, b string") or a StructType —
    exactly what ``spark.createDataFrame`` accepts, and the resulting
    schema (names, types, nullability) is identical to the list path."""
    import pandas as pd

    # Names come from the parsed schema: comma-splitting the DDL string
    # breaks on types with commas (decimal(10,2), map<k,v>, struct<...>).
    names = (schema if isinstance(schema, StructType)
             else StructType.fromDDL(schema)).names
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema)
