"""Co-located (bucketed) join: the 100 TB strategy for repeated big-big
joins on the same key (SURVEY §4 / SCALE.md). Bucketing both sides on the
join key lets Spark plan a SortMergeJoin with NO Exchange — verified against
the executed plan, and results equal the unbucketed join."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    n = 10_000
    a = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va"))
    b = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb"))
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")
    a.write.bucketBy(8, "k").sortBy("k").saveAsTable("bt_a")
    b.write.bucketBy(8, "k").sortBy("k").saveAsTable("bt_b")
    yield spark.table("bt_a"), spark.table("bt_b")
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    ta, tb = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ta.join(tb, "k")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert "SortMergeJoin" in plan


def test_bucketed_join_matches_unbucketed(spark, bucketed_tables):
    ta, tb = bucketed_tables
    n = 10_000
    a = spark.range(n).select(F.col("id").alias("k"),
                              (F.col("id") % 97).alias("va"))
    b = spark.range(n).select(F.col("id").alias("k"),
                              (F.col("id") % 31).alias("vb"))
    want = a.join(b, "k").agg(F.sum(F.col("va") * F.col("vb"))).collect()[0][0]
    got = ta.join(tb, "k").agg(F.sum(F.col("va") * F.col("vb"))).collect()[0][0]
    assert got == want


def test_aqe_skew_join_splits(spark):
    """AQE skew handling (SURVEY §4 / north rule): a join where 90% of the
    left side carries ONE key must still complete with correct results, and
    AQE must mark the sort-merge join skew-aware. This is the query-level
    complement to the map-side partial aggregations of the node build and
    the multi-partition connected_components rounds."""
    from pyspark.sql import functions as F

    n = 400_000
    left = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000)
         .alias("k"),
        F.col("id").alias("v"))
    right = spark.range(1000).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("w"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        j = left.join(right, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()/write()
        # plan different trees), so its final adaptive plan carries the skew
        # annotations
        n_rows = len(j.collect())
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert n_rows == n  # every left row matches exactly one right row
    assert "skew=true" in plan, "AQE did not mark the skewed join"
