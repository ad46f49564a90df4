"""tools/make_scaled_testdata.py derives its key offsets from --src.

A replica's keys shift by max(key) + 1 of the source table, and every
foreign key shifts with the table it references, so scaling a source whose
keys run past any fixed offset still gives unique keys and resolvable
references.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "make_scaled_testdata.py",
)

# a tiny source in the testdata layout; the 150 customer keys are spread to
# 0..22350 (past 15000) and the orders reference them
SOURCE = {
    "region": "select i as r_regionkey, 'R' as r_name from range(5) t(i)",
    "nation": "select i as n_nationkey, i % 5 as n_regionkey from range(25) t(i)",
    "customer": "select i * 150 as c_custkey, 'x' as c_name, 1 as c_nationkey,"
                " 1.0 as c_acctbal, 'M' as c_mktsegment from range(150) t(i)",
    "supplier": "select i as s_suppkey, 'x' as s_name, 1 as s_nationkey,"
                " 1.0 as s_acctbal from range(10) t(i)",
    "part": "select i as p_partkey, 'p' as p_name, 'b' as p_brand, 't' as p_type,"
            " 1 as p_size, 1.0 as p_retailprice from range(20) t(i)",
    "orders": "select i as o_orderkey, (i % 150) * 150 as o_custkey,"
              " 'O' as o_orderstatus, 1.0 as o_totalprice,"
              " timestamp '2020-01-01' as o_orderdate, '1' as o_orderpriority"
              " from range(300) t(i)",
    "lineitem": "select i % 300 as l_orderkey, i % 20 as l_partkey,"
                " i % 10 as l_suppkey, 1 as l_linenumber, 1.0 as l_quantity,"
                " 1.0 as l_extendedprice, 0.0 as l_discount, 0.0 as l_tax,"
                " 'N' as l_returnflag, 'O' as l_linestatus,"
                " timestamp '2020-01-01' as l_shipdate from range(600) t(i)",
    "events": "select i as event_id, timestamp '2020-01-01' as ts, i % 7 as user_id,"
              " 'view' as event_type, 1.0 as value, '{}' as props from range(50) t(i)",
    "embeddings": "select i as vec_id, [1.0, 0.0]::float[] as embedding, 0 as label"
                  " from range(10) t(i)",
    "documents": "select i as doc_id, 'some text ' || i as text, 'en' as lang,"
                 " 'web' as source, 11 as n_chars from range(10) t(i)",
}


def test_offsets_follow_source_key_range(tmp_path):
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    con = duckdb.connect()
    for table, sql in SOURCE.items():
        con.sql(f"copy ({sql}) to '{src}/{table}.parquet' (format parquet)")
    subprocess.run(
        [sys.executable, TOOL, "--src", str(src), "--out", str(out), "--factor", "2"],
        check=True, capture_output=True,
    )

    n, distinct = con.sql(
        f"select count(*), count(distinct c_custkey) from '{out}/customer.parquet'"
    ).fetchone()
    assert n == 300 and distinct == 300
    orphans = con.sql(
        f"select count(*) from '{out}/orders.parquet' o anti join"
        f" '{out}/customer.parquet' c on o.o_custkey = c.c_custkey"
    ).fetchone()[0]
    assert orphans == 0
