#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count +
column names + order-insensitive values. A query whose result is empty on
both engines is clean but compared nothing; it is labelled OK-EMPTY and
counted under the clean total.

Usage: python tools/oracle_check.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif "float" in str(s.dtype):
            df[c] = s.round(6)
        elif "datetime" in str(s.dtype):
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), key=lambda col: col.astype(str)).reset_index(drop=True)
    return df.astype(str)


def main() -> None:
    import __spark_entry__ as entrymod
    from smartreader_spark.pipeline.session import make_session

    only = set(sys.argv[1:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = make_session(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            results.append((name, "SPARK-ERROR", repr(e)[:160]))
            continue
        spark_secs = time.time() - t0
        if name not in oracles:
            results.append((name, "ROWS-ONLY", f"{len(sdf)} rows, {spark_secs:.1f}s"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results.append((name, "ORACLE-ERROR", repr(e)[:160]))
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            results.append((name, "SCHEMA-MISMATCH", f"{list(a.columns)} vs {list(b.columns)}"))
        elif len(a) != len(b):
            results.append((name, "COUNT-MISMATCH", f"{len(a)} vs {len(b)}"))
        elif not a.equals(b):
            diff_mask = (a != b).any(axis=1)
            idx = diff_mask[diff_mask].index[:3]
            detail = []
            for i in idx:
                for c in a.columns:
                    if a.at[i, c] != b.at[i, c]:
                        detail.append(f"row{i} {c}: {a.at[i, c]!r} vs {b.at[i, c]!r}")
            results.append((name, "VALUE-MISMATCH", f"{int(diff_mask.sum())} rows differ; " + "; ".join(detail[:4])))
        else:
            # 0 rows on both engines compares nothing: labelled apart,
            # still clean
            status = "OK" if len(a) else "OK-EMPTY"
            results.append((name, status, f"{len(a)} rows, {spark_secs:.1f}s"))

    print(f"\n{'query':28s} {'status':16s} detail")
    for name, status, detail in results:
        print(f"{name:28s} {status:16s} {detail}")
    bad = [r for r in results if r[1] not in ("OK", "OK-EMPTY", "ROWS-ONLY")]
    empty = sum(r[1] == "OK-EMPTY" for r in results)
    print(f"\n{len(results) - len(bad)}/{len(results)} clean")
    print(f"{empty} of them OK-EMPTY (0 rows on both engines: nothing compared)")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
