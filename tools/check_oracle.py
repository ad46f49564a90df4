"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB (same parquet views), then compares row count, column names, and
order-insensitive values. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon(r[i]) for i in idx) for r in rows)


def compare(name, spark_df, oracle_sql, con, verbose=True):
    t0 = time.time()
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    t_spark = time.time() - t0
    rel = con.sql(oracle_sql)
    o_cols = rel.columns
    o_rows = rel.fetchall()

    problems = []
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        problems.append(f"schema: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    if len(s_rows) != len(o_rows):
        problems.append(f"rowcount: spark={len(s_rows)} oracle={len(o_rows)}")
    if not problems:
        sset = _rowset([c.lower() for c in s_cols], [tuple(r) for r in s_rows])
        oset = _rowset([c.lower() for c in o_cols], o_rows)
        if sset != oset:
            diffs = [
                (a, b) for a, b in zip(sset, oset) if a != b
            ][:3]
            problems.append(f"values differ; first diffs: {diffs}")
    status = "OK  " if not problems else "FAIL"
    print(f"{status} {name:<32} rows={len(s_rows):>7} spark={t_spark:5.1f}s")
    for p in problems:
        print(f"      {p[:500]}")
    return not problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from payor_mdm_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    ok = bad = skipped = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"ROWS {name:<32} rows={n:>7} (no oracle)")
                skipped += 1
                continue
            if compare(name, df, oracles[name], con):
                ok += 1
            else:
                bad += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name:<32} {type(e).__name__}: {str(e)[:300]}")
            bad += 1
    print(f"\n{ok} ok, {bad} fail, {skipped} rows-only")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
