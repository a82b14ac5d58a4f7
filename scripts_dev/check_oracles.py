"""Mimic the driver's correctness gate: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` on DuckDB over the same parquet tables;
compare row count, column names, and order-insensitive values.

Usage: python scripts_dev/check_oracles.py [sf_dir] [only_query ...]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from owl_n4j_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
        else:
            try:
                df[c] = pd.to_numeric(s)
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL: unknown query name(s): {sorted(unknown)} — "
              "nothing was checked")
        sys.exit(2)
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(got)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        g, w = normalize(got), normalize(want)
        status = None
        # The driver hashes TYPED values: an int64 Spark column vs a
        # float64 oracle column (DuckDB HUGEINT sums reach pandas as
        # float64) hash-differently even when every value is equal — and
        # the same holds for a digit STRING vs a number, a bool vs an int,
        # etc. Refuse to coerce across ANY dtype-class boundary so a local
        # ALL-PASS implies a driver ALL-PASS (r2 kg_location_tiles bug;
        # r3 verdict item 7 extends it beyond the int/float case).
        def _kind(s) -> str:
            # ints/floats carry their WIDTH: Spark int32 (row_number,
            # count over small frames) vs DuckDB BIGINT is a recorded
            # driver-visible class — refuse it so the fix is a CAST in
            # the query, never a silent local coercion
            if pd.api.types.is_bool_dtype(s):
                return "bool"
            if pd.api.types.is_integer_dtype(s):
                return f"int{s.dtype.itemsize * 8}"
            if pd.api.types.is_float_dtype(s):
                return f"float{s.dtype.itemsize * 8}"
            if pd.api.types.is_datetime64_any_dtype(s):
                return "datetime"
            return "object"

        for c in set(got.columns) & set(want.columns):
            kg_, kw_ = _kind(got[c]), _kind(want[c])
            if kg_ != kw_:
                status = (f"dtype mismatch on '{c}': spark={got[c].dtype} "
                          f"duck={want[c].dtype} (driver hash would fail — "
                          f"CAST the oracle or the Spark column)")
                break
        if status:
            pass
        elif list(g.columns) != list(w.columns):
            status = f"column mismatch: spark={list(g.columns)} duck={list(w.columns)}"
        elif len(g) != len(w):
            status = f"row count: spark={len(g)} duck={len(w)}"
        else:
            try:
                # rtol MUST be 0: the default 1e-5 RELATIVE tolerance
                # would pass a ~1.7e9 epoch column that is hours off, or a
                # 1e8 revenue sum off by hundreds — magnitudes the driver's
                # exact typed-value hash would fail. atol only absorbs the
                # round(6) representation residue.
                pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                              check_exact=False,
                                              atol=1e-5, rtol=0)
            except AssertionError as e:
                status = "value mismatch: " + str(e).split("\n")[0]
                diff = (g != w) & ~(g.isna() & w.isna())
                bad = diff.any(axis=1)
                if bad.any():
                    i = bad.idxmax()
                    status += f"\n  spark[{i}]: {g.loc[i].to_dict()}\n  duck [{i}]: {w.loc[i].to_dict()}"
        if status:
            print(f"FAIL {name}: {status}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
