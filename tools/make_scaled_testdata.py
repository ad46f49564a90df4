"""Deterministic N-x scale-up of a testdata sf directory (measurement aid).

The driver generates its own large-SF tables (e.g. the sf1.0 set BENCH_r05
was measured on) and they are not persisted in this sandbox; this tool
builds a *statistically similar* stand-in by replicating a committed SF
directory R times with disjoint key ranges, so queries can be measured at
the driver's scale on data of the right shape:

* replica r shifts every key by r * (max(key) + 1), with max(key) read
  from ``--src`` (one aggregate per key domain), so replicas never
  collide; every foreign key (orders.custkey, lineitem.orderkey, ...)
  shifts by the offset of the table it references, so references stay
  consistent, and per-key group sizes (blocking buckets, per-customer
  order chains, per-user event streams) scale exactly as a native N-x
  generation would;
* embedded key names (Customer#..., Supplier#...) are re-derived from the
  new key so name-sort adjacency behaves like native data;
* document TEXT is rewritten per replica (a deterministic ~25% of tokens
  get a replica suffix) so cross-replica near-duplicate similarity falls
  well below the dedup thresholds (minhash 0.8 Jaccard, 300-char dup
  spans) while within-replica near-dup structure is preserved verbatim —
  naive replication would make every document a 10-way exact duplicate and
  quadratically inflate every dedup query beyond what native data shows.

This is an approximation for MEASUREMENT, not a reproduction of the
driver's generator: absolute row counts match native scaling, value
distributions are inherited from the source SF.

Usage:
  python tools/make_scaled_testdata.py [--src /root/testdata/sf0.1]
      [--out /dev/shm/tdscale/sf1.0] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import zlib

import duckdb
import pandas as pd

# key domain -> the (table, column) whose max + 1 is the per-replica shift
KEY_DOMAINS = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}


def key_offsets(con: duckdb.DuckDBPyConnection, src: str) -> dict[str, int]:
    """max(key) + 1 per key domain of ``src``: the smallest shift that keeps
    replicas disjoint, whatever the source key range is."""
    return {
        domain: con.sql(
            f"select coalesce(max({col}), -1) + 1 from '{src}/{table}.parquet'"
        ).fetchone()[0]
        for domain, (table, col) in KEY_DOMAINS.items()
    }


def scale_sql(table: str, src: str, r: int, offsets: dict[str, int]) -> str:
    f = f"'{src}/{table}.parquet'"
    o = {domain: off * r for domain, off in offsets.items()}
    if table in ("region", "nation"):
        return f"select * from {f}" if r == 0 else ""
    if table == "customer":
        c = o["custkey"]
        return (
            f"select c_custkey + {c} as c_custkey,"
            f" 'Customer#' || lpad(cast(c_custkey + {c} as varchar), 9, '0') as c_name,"
            f" c_nationkey, c_acctbal, c_mktsegment from {f}"
        )
    if table == "supplier":
        c = o["suppkey"]
        return (
            f"select s_suppkey + {c} as s_suppkey,"
            f" 'Supplier#' || lpad(cast(s_suppkey + {c} as varchar), 9, '0') as s_name,"
            f" s_nationkey, s_acctbal from {f}"
        )
    if table == "part":
        return (
            f"select p_partkey + {o['partkey']} as p_partkey, p_name, p_brand,"
            f" p_type, p_size, p_retailprice from {f}"
        )
    if table == "orders":
        return (
            f"select o_orderkey + {o['orderkey']} as o_orderkey,"
            f" o_custkey + {o['custkey']} as o_custkey,"
            f" o_orderstatus, o_totalprice, o_orderdate, o_orderpriority from {f}"
        )
    if table == "lineitem":
        return (
            f"select l_orderkey + {o['orderkey']} as l_orderkey,"
            f" l_partkey + {o['partkey']} as l_partkey,"
            f" l_suppkey + {o['suppkey']} as l_suppkey,"
            f" l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
            f" l_returnflag, l_linestatus, l_shipdate from {f}"
        )
    if table == "events":
        return (
            f"select event_id + {o['event_id']} as event_id, ts,"
            f" user_id + {o['user_id']} as user_id, event_type, value, props"
            f" from {f}"
        )
    if table == "embeddings":
        return f"select vec_id + {o['vec_id']} as vec_id, embedding, label from {f}"
    raise ValueError(table)


def rewrite_doc(text: str, r: int) -> str:
    if r == 0 or not text:
        return text
    out = []
    for t in text.split(" "):
        if t and (zlib.crc32(t.encode()) + r) % 4 == 0:
            out.append(t + str(r))
        else:
            out.append(t)
    return " ".join(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/dev/shm/tdscale/sf1.0")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    offsets = key_offsets(con, args.src)

    for table in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        parts = [
            s for r in range(args.factor)
            if (s := scale_sql(table, args.src, r, offsets))
        ]
        sql = " union all ".join(parts)
        con.sql(
            f"copy ({sql}) to '{args.out}/{table}.parquet' (format parquet)"
        )
        n = con.sql(
            f"select count(*) from '{args.out}/{table}.parquet'"
        ).fetchone()[0]
        print(f"{table}: {n}")

    src_docs = con.sql(
        f"select * from '{args.src}/documents.parquet'"
    ).fetchdf()
    frames = []
    for r in range(args.factor):
        d = src_docs.copy()
        d["doc_id"] = d["doc_id"] + offsets["doc_id"] * r
        if r > 0:
            d["text"] = d["text"].map(lambda t, _r=r: rewrite_doc(t, _r))
            d["n_chars"] = d["text"].map(
                lambda t: len(t) if isinstance(t, str) else 0
            )
        frames.append(d)
    docs = pd.concat(frames, ignore_index=True)
    con.register("docs_scaled", docs)
    con.sql(
        f"copy (select doc_id, text, lang, source, n_chars from docs_scaled"
        f" order by doc_id) to '{args.out}/documents.parquet' (format parquet)"
    )
    n = con.sql(
        f"select count(*) from '{args.out}/documents.parquet'"
    ).fetchone()[0]
    print(f"documents: {n}")


if __name__ == "__main__":
    main()
