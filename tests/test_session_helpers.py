"""Small driver-side helpers: LocalRelation construction from DDL schemas
and the session-aware thread wrapper of the warehouse stage pool."""

from decimal import Decimal

import pyspark

from owl_n4j_spark.localrel import local_df
from owl_n4j_spark.pipeline import _session_thread_target


def test_local_df_names_from_ddl_with_comma_types(spark):
    # decimal(10,2) and map<string,int> carry commas inside the type: the
    # column names must come from the parsed schema, not a comma split
    ddl = "amt decimal(10,2), tags map<string,int>, name string"
    df = local_df(spark, [(Decimal("12.50"), {"a": 1}, "x")], ddl)
    assert df.columns == ["amt", "tags", "name"]
    assert df.schema == spark.createDataFrame(
        [(Decimal("12.50"), {"a": 1}, "x")], ddl).schema
    row = df.collect()[0]
    assert (row["amt"], row["tags"], row["name"]) == (Decimal("12.50"),
                                                      {"a": 1}, "x")


def test_session_thread_target_in_legacy_pin_thread_mode(spark, monkeypatch):
    def fn():
        return 7

    # pinned-thread mode: a decorator that still runs the function
    assert _session_thread_target(spark)(fn)() == 7
    # legacy mode (PYSPARK_PIN_THREAD=false): inheritable_thread_target
    # hands the session back instead of a decorator
    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    assert _session_thread_target(spark)(fn) is fn
