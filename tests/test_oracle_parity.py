"""Driver-contract guard: every queries() entry with an oracle must match
DuckDB exactly at sf0.001 (row count, column names, order-insensitive
values). This is the same comparison the driver runs at sf0.01."""

import os
import sys
from datetime import datetime

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from scripts_dev.check_oracles import TABLES, normalize

SF_DIR = "/root/testdata/sf0.001"

# slow entries whose full-pipeline correctness is covered elsewhere
# (test_pipeline_parity covers the synthetic-fuzz corpus)
SKIP = {"kg_triples_synth"}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


_oracles = entrymod.oracle_sql()
_queries = entrymod.queries()
NAMES = [n for n in _queries if n in _oracles and n not in SKIP]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, name):
    got = normalize(_queries[name](spark, SF_DIR).toPandas())
    want = normalize(duck.execute(_oracles[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=False, atol=1e-5)


def test_event_dedup_counts_null_keys(spark, tmp_path):
    """A NULL event_type or ts is its own dedup key, as in the window
    oracle (PARTITION BY groups NULLs together), not a dropped row."""
    from owl_n4j_spark.plans.relational import SQL_EVENT_DEDUP, q_event_dedup

    t = datetime.fromisoformat
    rows = [  # (event_id, ts, user_id, event_type)
        (1, t("2024-01-01 10:00:05"), 1, "a"),
        (2, t("2024-01-01 10:00:30"), 1, "a"),
        (3, t("2024-01-01 10:00:10"), 1, None),
        (4, t("2024-01-01 10:00:50"), 1, None),
        (5, t("2024-01-01 10:01:00"), 1, None),
        (6, None, 1, "a"),
        (7, None, 1, "b"),
        (8, None, 1, "b"),
        (9, None, 1, None),
        (10, t("2024-01-01 10:00:00"), 2, None),
    ]
    (spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
     .coalesce(1).write.parquet(str(tmp_path / "events.parquet")))
    got = q_event_dedup(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"'{tmp_path}/events.parquet/*.parquet'")
    want = con.execute(SQL_EVENT_DEDUP).df()
    # user 1: (a, 10:00) (NULL, 10:00) (NULL, 10:01) (a, NULL) (b, NULL)
    # (NULL, NULL); user 2: (NULL, 10:00)
    assert dict(zip(want.user_id, want.n_dedup)) == {1: 6, 2: 1}
    pd.testing.assert_frame_equal(normalize(got), normalize(want),
                                  check_dtype=False)
