"""Operator-parity queries over the driver testdata + their SQL oracles.

One entry per implemented operator family from SURVEY §2, each expressed
twice: as a Spark DataFrame program (using the engine's operator/function
modules) and as ANSI SQL for DuckDB (the driver's correctness oracle).
Column names/aliases match exactly; result values are either integral,
string, or floats produced by identical float programs in both engines.

Ops whose kernels are not SQL-expressible (xxhash64-seeded MinHash/SimHash
/ hyperplane LSH, the ensemble string router) appear in QUERIES without
an oracle — the driver records a rows-only check and pytest covers their
semantics instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from payor_mdm_spark.functions import textnorm as tn
from payor_mdm_spark.functions.similarity import name_jw


@pandas_udf(DoubleType())  # DataType instance: no session needed at import
def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler (NAME_JW kernel) — defined at module
    level so the type hints resolve under `from __future__ import
    annotations`."""
    return pd.Series(
        [
            name_jw(x.upper().strip(), y.upper().strip())
            if x is not None and y is not None
            else None
            for x, y in zip(a.tolist(), b.tolist())
        ]
    )

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, oracle: str | None = None):
    def deco(fn):
        Q[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Staging / scalar expressions (SURVEY §2.2 P1-P13)
# ---------------------------------------------------------------------------

@query(
    "stage_normalize",
    """
    select
      'crm:' || cast(c_custkey as varchar)                         as source_record_id,
      upper(trim(c_name))                                          as name_norm,
      regexp_replace(c_name, '[^0-9]', '', 'g')                    as digits,
      substring(upper(trim(c_name)), 1, 6)
        || coalesce(c_mktsegment, 'XX')                            as block_name_key,
      coalesce(substring(cast(c_nationkey as varchar), 1, 3), 'XXX')
        || substring(upper(trim(c_name)), 1, 4)                    as block_zip3_name4
    from customer
    """,
)
def stage_normalize(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    name_u = F.upper(F.trim("c_name"))
    return c.select(
        tn.source_record_id("crm", F.col("c_custkey").cast("string")).alias("source_record_id"),
        name_u.alias("name_norm"),
        tn.digits_only(F.col("c_name")).alias("digits"),
        F.concat(F.substring(name_u, 1, 6), F.coalesce(F.col("c_mktsegment"), F.lit("XX"))).alias("block_name_key"),
        F.concat(
            F.coalesce(F.substring(F.col("c_nationkey").cast("string"), 1, 3), F.lit("XXX")),
            F.substring(name_u, 1, 4),
        ).alias("block_zip3_name4"),
    )


@query(
    "stage_legal_suffix_strip",
    r"""
    select
      s_suppkey,
      upper(trim(regexp_replace(
        s_name || case when s_suppkey % 3 = 0 then ', Inc.'
                       when s_suppkey % 3 = 1 then ' LLC' else '' end,
        '(?i)\s*(,\s*)?(INC\.?|LLC\.?|CORP\.?|CO\.?|LTD\.?|L\.?P\.?|L\.?L\.?C\.?|P\.?C\.?)\s*$',
        ''))) as name_norm
    from supplier
    """,
)
def stage_legal_suffix_strip(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    messy = F.concat(
        F.col("s_name"),
        F.when(F.col("s_suppkey") % 3 == 0, F.lit(", Inc."))
        .when(F.col("s_suppkey") % 3 == 1, F.lit(" LLC"))
        .otherwise(F.lit("")),
    )
    return s.select("s_suppkey", tn.clean_name(messy).alias("name_norm"))


@query(
    "stage_split_part_address",
    """
    with single_line as (
      select p_partkey, p_name || ', ' || p_brand || ', ' || p_type as addr
      from part
    )
    select
      p_partkey,
      trim(split_part(addr, ',', 1)) as seg1,
      trim(split_part(addr, ',', 2)) as seg2,
      nullif(trim(split_part(addr, ',', 3)), '') as seg3,
      nullif(trim(split_part(addr, ',', 4)), '') as seg4
    from single_line
    """,
)
def stage_split_part_address(spark, sf_dir):
    """Single-line record parse (split_part, P6/P7): the claims-feed
    address shape "{street}, {city}, {state}, {zip}"."""
    p = _t(spark, sf_dir, "part")
    addr = F.concat_ws(", ", F.col("p_name"), F.col("p_brand"), F.col("p_type"))
    parts = F.split(addr, ",")
    def seg(i):
        return F.trim(F.coalesce(F.try_element_at(parts, F.lit(i)), F.lit("")))
    return p.select(
        "p_partkey",
        seg(1).alias("seg1"),
        seg(2).alias("seg2"),
        F.nullif(seg(3), F.lit("")).alias("seg3"),
        F.nullif(seg(4), F.lit("")).alias("seg4"),
    )


@query(
    "stage_state_lookup_join",
    """
    select s.s_suppkey, n.n_name as state_name, r.r_name as region_name
    from supplier s
    join nation n on s.s_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
    """,
)
def stage_state_lookup_join(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", F.col("n_name").alias("state_name"), F.col("r_name").alias("region_name"))
    )


# ---------------------------------------------------------------------------
# Blocking (SURVEY §2.3 J1 rewrite + §4 passes)
# ---------------------------------------------------------------------------

@query(
    "blocking_pairs_two_keys",
    """
    select distinct
      a.c_custkey as id_a, b.c_custkey as id_b
    from customer a
    join customer b
      on a.c_custkey < b.c_custkey
      and (
        (a.c_nationkey = b.c_nationkey and a.c_mktsegment = b.c_mktsegment
         and a.c_custkey % 20 = b.c_custkey % 20)
        or floor(a.c_acctbal / 10) = floor(b.c_acctbal / 10)
      )
    """,
)
def blocking_pairs_two_keys(spark, sf_dir):
    """OR-of-keys blocking rewritten as union of equi self-joins (the
    reference's int_blocking_pairs.sql rewrite).

    r06: join keys are the NATIVE columns (3-col equi join / a long),
    not '|'-concatenated strings — same equality structure, but the join
    hashes/compares ints instead of building and shipping a string per
    row (guide §2.3 narrower types). Output pairs are identical.

    r06b: the DISTINCT needs no shuffle (guide §2.4 "a distinct on data
    that is already unique"). Within one pass each id holds exactly one
    key row, so a pass's pair set is distinct by construction; the only
    duplicates are pairs matched by BOTH passes. The acctbal pass carries
    both sides' pass-1 key columns through its join and drops any pair
    pass 1 already produced with a map-side predicate — the union is then
    provably duplicate-free, and the 10^7-row pair table never shuffles
    (at sf1.0 the dropDuplicates exchange was ~60% of the query)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    k1 = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("k1"),
        F.col("c_mktsegment").alias("k2"),
        (F.col("c_custkey") % 20).alias("k3"),
    )
    p1 = (
        k1.select("k1", "k2", "k3", F.col("id").alias("id_a"))
        .join(k1.select("k1", "k2", "k3", F.col("id").alias("id_b")),
              ["k1", "k2", "k3"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    k2 = c.select(
        F.col("c_custkey").alias("id"),
        F.floor(F.col("c_acctbal") / 10).alias("kb"),
        F.col("c_nationkey").alias("n"),
        F.col("c_mktsegment").alias("m"),
        (F.col("c_custkey") % 20).alias("g"),
    )
    in_pass1 = F.coalesce(
        (F.col("n_a") == F.col("n_b"))
        & (F.col("m_a") == F.col("m_b"))
        & (F.col("g_a") == F.col("g_b")),
        F.lit(False),  # NULL pass-1 keys never joined in pass 1 -> keep
    )
    p2 = (
        k2.select("kb", F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                  F.col("m").alias("m_a"), F.col("g").alias("g_a"))
        .join(
            k2.select("kb", F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                      F.col("m").alias("m_b"), F.col("g").alias("g_b")),
            "kb",
        )
        .filter((F.col("id_a") < F.col("id_b")) & ~in_pass1)
        .select("id_a", "id_b")
    )
    return p1.unionByName(p2)


@query(
    "blocking_sorted_neighborhood",
    """
    with w as (
      select s_nationkey, s_suppkey,
             lead(s_suppkey, 1) over (partition by s_nationkey order by s_name, s_suppkey) as n1,
             lead(s_suppkey, 2) over (partition by s_nationkey order by s_name, s_suppkey) as n2
      from supplier
    )
    select s_suppkey as id_a, n as id_b
    from (
      select s_suppkey, n1 as n from w
      union all
      select s_suppkey, n2 as n from w
    )
    where n is not null
    """,
)
def blocking_sorted_neighborhood(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_name"), F.col("s_suppkey"))
    with_leads = s.select(
        "s_suppkey",
        F.lead("s_suppkey", 1).over(w).alias("n1"),
        F.lead("s_suppkey", 2).over(w).alias("n2"),
    )
    out = with_leads.select(
        F.col("s_suppkey").alias("id_a"),
        F.explode(
            F.array_compact(F.array(F.col("n1"), F.col("n2")))
        ).alias("id_b"),
    )
    return out


# ---------------------------------------------------------------------------
# Pairwise scoring kernels (SURVEY §2.8)
# ---------------------------------------------------------------------------

_PAIRS_SQL = """
    with p as (
      select c_mktsegment, c_name,
             lead(c_name) over (partition by c_mktsegment order by c_name, c_custkey) as name_b,
             c_custkey,
             lead(c_custkey) over (partition by c_mktsegment order by c_name, c_custkey) as key_b
      from customer
    )
    select c_custkey as id_a, key_b as id_b, c_name as name_a, name_b
    from p where name_b is not null
"""


def _adjacent_name_pairs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_name"), F.col("c_custkey"))
    p = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.lead("c_custkey").over(w).alias("id_b"),
        F.lead("c_name").over(w).alias("name_b"),
    )
    return p.filter(F.col("name_b").isNotNull())


@query(
    "score_jaro_winkler",
    f"""
    select id_a, id_b,
           round(jaro_winkler_similarity(upper(trim(name_a)), upper(trim(name_b))), 4) as jw
    from ({_PAIRS_SQL})
    """,
)
def score_jaro_winkler(spark, sf_dir):
    """The NAME_JW kernel (pandas UDF batching the same Jaro-Winkler the
    oracle computes natively — verified bit-compatible)."""
    p = _adjacent_name_pairs(spark, sf_dir)
    return p.select(
        "id_a", "id_b", _jw_udf(F.col("name_a"), F.col("name_b")).alias("jw")
    )


@query(
    "score_levenshtein",
    f"""
    select id_a, id_b, levenshtein(name_a, name_b) as lev
    from ({_PAIRS_SQL})
    """,
)
def score_levenshtein(spark, sf_dir):
    p = _adjacent_name_pairs(spark, sf_dir)
    return p.select(
        "id_a", "id_b", F.levenshtein("name_a", "name_b").alias("lev")
    )


@query(
    "score_digit_fields",
    """
    with p as (
      select s_suppkey as id_a,
             lead(s_suppkey) over (order by s_name, s_suppkey) as id_b,
             lpad(cast(s_suppkey % 1000000 as varchar), 10, '7') as phone_a,
             lpad(cast((lead(s_suppkey) over (order by s_name, s_suppkey)) % 999983 as varchar), 10, '7') as phone_b,
             'H' || lpad(cast(s_nationkey as varchar), 4, '0') as cms_a,
             'H' || lpad(cast(lead(s_nationkey) over (order by s_name, s_suppkey) as varchar), 4, '0') as cms_b
      from supplier
    )
    select id_a, id_b,
      case when substring(phone_a, length(phone_a)-9, 10) = substring(phone_b, length(phone_b)-9, 10)
           then 1.0 else 0.0 end::double as phone_e164,
      case when substring(phone_a, length(phone_a)-6, 7) = substring(phone_b, length(phone_b)-6, 7)
           then 1.0 else 0.0 end::double as phone_last7,
      case when upper(trim(cms_a)) = upper(trim(cms_b)) then 1.0
           when substring(upper(trim(cms_a)),1,5) = substring(upper(trim(cms_b)),1,5) then 0.85
           else 0.0 end::double as cms_score
    from p where id_b is not null
    """,
)
def score_digit_fields(spark, sf_dir):
    from payor_mdm_spark.functions.ensemble import cms_score_cols

    s = _t(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_name"), F.col("s_suppkey"))
    p = s.select(
        F.col("s_suppkey").alias("id_a"),
        F.lead("s_suppkey").over(w).alias("id_b"),
        F.lpad((F.col("s_suppkey") % 1000000).cast("string"), 10, "7").alias("phone_a"),
        F.lpad((F.lead("s_suppkey").over(w) % 999983).cast("string"), 10, "7").alias("phone_b"),
        F.concat(F.lit("H"), F.lpad(F.col("s_nationkey").cast("string"), 4, "0")).alias("cms_a"),
        F.concat(F.lit("H"), F.lpad(F.lead("s_nationkey").over(w).cast("string"), 4, "0")).alias("cms_b"),
    ).filter(F.col("id_b").isNotNull())
    e164 = F.when(
        F.substring("phone_a", -10, 10) == F.substring("phone_b", -10, 10), 1.0
    ).otherwise(0.0)
    l7 = F.when(
        F.substring("phone_a", -7, 7) == F.substring("phone_b", -7, 7), 1.0
    ).otherwise(0.0)
    cms_s, _ = cms_score_cols(F.col("cms_a"), F.col("cms_b"))
    return p.select(
        "id_a", "id_b",
        e164.alias("phone_e164"), l7.alias("phone_last7"),
        cms_s.alias("cms_score"),
    )


@query(
    "score_det_rules",
    """
    with pairs as (
      select a.c_custkey as id_a, b.c_custkey as id_b,
             a.c_acctbal as bal_a, b.c_acctbal as bal_b,
             a.c_name as name_a, b.c_name as name_b,
             a.c_mktsegment as seg_a, b.c_mktsegment as seg_b
      from customer a join customer b
        on b.c_custkey = a.c_custkey + 1
    )
    select
      case when bal_a is not null and bal_a = bal_b then 'DET-1'
           when name_a = name_b and seg_a = seg_b then 'DET-3'
           else 'FUZZY' end as match_rule,
      count(*) as n
    from pairs
    group by 1
    """,
)
def score_det_rules(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"), F.col("c_acctbal").alias("bal_a"),
        F.col("c_name").alias("name_a"), F.col("c_mktsegment").alias("seg_a"),
    )
    b = c.select(
        (F.col("c_custkey") - 1).alias("id_a"), F.col("c_acctbal").alias("bal_b"),
        F.col("c_name").alias("name_b"), F.col("c_mktsegment").alias("seg_b"),
    )
    pairs = a.join(b, "id_a")
    rule = (
        F.when(F.col("bal_a").isNotNull() & (F.col("bal_a") == F.col("bal_b")), "DET-1")
        .when((F.col("name_a") == F.col("name_b")) & (F.col("seg_a") == F.col("seg_b")), "DET-3")
        .otherwise("FUZZY")
    )
    return pairs.groupBy(rule.alias("match_rule")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "score_tax_transpose",
    """
    with p as (
      select c_custkey as id_a,
             lpad(cast(c_custkey % 999999937 as varchar), 9, '0') as tax_a,
             case when c_custkey % 2 = 0 then
               substring(lpad(cast(c_custkey % 999999937 as varchar), 9, '0'), 1, 3)
               || substring(lpad(cast(c_custkey % 999999937 as varchar), 9, '0'), 5, 1)
               || substring(lpad(cast(c_custkey % 999999937 as varchar), 9, '0'), 4, 1)
               || substring(lpad(cast(c_custkey % 999999937 as varchar), 9, '0'), 6, 4)
             else lpad(cast(c_custkey % 999999937 as varchar), 9, '0') end as tax_b
      from customer
    ), d as (
      select id_a, tax_a, tax_b,
        (case when substring(tax_a,1,1) <> substring(tax_b,1,1) then 1 else 0 end
       + case when substring(tax_a,2,1) <> substring(tax_b,2,1) then 1 else 0 end
       + case when substring(tax_a,3,1) <> substring(tax_b,3,1) then 1 else 0 end
       + case when substring(tax_a,4,1) <> substring(tax_b,4,1) then 1 else 0 end
       + case when substring(tax_a,5,1) <> substring(tax_b,5,1) then 1 else 0 end
       + case when substring(tax_a,6,1) <> substring(tax_b,6,1) then 1 else 0 end
       + case when substring(tax_a,7,1) <> substring(tax_b,7,1) then 1 else 0 end
       + case when substring(tax_a,8,1) <> substring(tax_b,8,1) then 1 else 0 end
       + case when substring(tax_a,9,1) <> substring(tax_b,9,1) then 1 else 0 end) as diffs
      from p
    )
    select id_a,
      case when diffs = 0 then 1.0
           when diffs <= 1 then 0.9
           when diffs = 2 then 0.7
           else 0.0 end::double as tax_score
    from d
    """,
)
def score_tax_transpose(spark, sf_dir):
    """TAXID_TRANSPOSE kernel (U12) through the REAL ensemble pandas UDF,
    oracle-checked via positional digit comparison in SQL."""
    from payor_mdm_spark.functions.ensemble import apply_ensemble

    c = _t(spark, sf_dir, "customer")
    tax_a = F.lpad((F.col("c_custkey") % 999999937).cast("string"), 9, "0")
    swapped = F.concat(
        F.substring(tax_a, 1, 3), F.substring(tax_a, 5, 1),
        F.substring(tax_a, 4, 1), F.substring(tax_a, 6, 4),
    )
    null_s = F.lit(None).cast("string")
    pairs = c.select(
        F.col("c_custkey").alias("id_a"),
        null_s.alias("name_a"), null_s.alias("name_b"),
        null_s.alias("addr_a"), null_s.alias("addr_b"),
        tax_a.alias("exact_key_1_a"),
        F.when(F.col("c_custkey") % 2 == 0, swapped).otherwise(tax_a).alias("exact_key_1_b"),
        null_s.alias("phone_a"), null_s.alias("phone_b"),
        null_s.alias("exact_key_2_a"), null_s.alias("exact_key_2_b"),
    )
    return apply_ensemble(pairs).select(
        "id_a", F.col("score_exact_key_1").alias("tax_score")
    )


# ---------------------------------------------------------------------------
# Clustering (SURVEY §2.8 U20: distributed label propagation)
# ---------------------------------------------------------------------------

@query(
    "connected_components",
    """
    -- ground-truth components: orders chained per customer => component =
    -- min orderkey of the customer (ids zero-padded so the engine's
    -- lexicographic min == numeric min)
    select lpad(cast(o_orderkey as varchar), 12, '0') as source_record_id,
           lpad(cast(min(o_orderkey) over (partition by o_custkey) as varchar), 12, '0') as component
    from orders
    where o_custkey % 10 = 0
    """,
)
def connected_components(spark, sf_dir):
    """Edges = consecutive orders of each customer (a chain, the worst case
    for fixed-pass propagation); our loop must recover exactly the
    per-customer components."""
    from payor_mdm_spark.operators.clustering import propagate_labels

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    pad = lambda c: F.lpad(c.cast("string"), 12, "0")  # noqa: E731
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        o.select(
            pad(F.col("o_orderkey")).alias("source_record_id_a"),
            pad(F.lead("o_orderkey").over(w)).alias("source_record_id_b"),
        )
        .filter(F.col("source_record_id_b").isNotNull())
    )
    nodes = o.select(pad(F.col("o_orderkey")).alias("source_record_id"))
    return propagate_labels(edges, nodes)


@query(
    "cluster_group_ids",
    """
    with comp as (
      select o_orderkey,
             min(o_orderkey) over (partition by o_custkey) as component
      from orders where o_custkey % 10 = 0
    )
    select md5(cast(component as varchar)) as match_group_id,
           count(*) as group_size
    from comp
    group by 1
    """,
)
def cluster_group_ids(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = Window.partitionBy("o_custkey")
    comp = o.select(F.min("o_orderkey").over(w).alias("component"))
    return comp.groupBy(
        F.md5(F.col("component").cast("string")).alias("match_group_id")
    ).agg(F.count(F.lit(1)).alias("group_size"))


# ---------------------------------------------------------------------------
# Survivorship & golden (SURVEY §2.4-§2.5)
# ---------------------------------------------------------------------------

@query(
    "survivorship_rules",
    """
    select
      o_custkey as group_id,
      arg_min(o_orderpriority, o_orderkey)
        filter (where o_orderpriority is not null)       as survived_priority,
      arg_max(o_orderstatus, o_orderkey)
        filter (where o_orderstatus is not null)         as latest_status,
      min(o_orderdate)                                   as effective_date,
      max(o_orderdate)                                   as termination_date,
      bool_or(o_orderstatus = 'F')                       as any_final,
      count(*)                                           as record_count
    from orders
    group by o_custkey
    """,
)
def survivorship_rules(spark, sf_dir):
    """The single-aggregation survivorship formulation (struct-min trick)
    applied to orders-as-group-members."""
    from payor_mdm_spark.operators.survivorship import _first_nonnull_by

    o = _t(spark, sf_dir, "orders")
    first_priority = _first_nonnull_by(
        "o_orderpriority", F.col("o_orderkey"), F.col("o_orderkey")
    )
    last_status = F.max(
        F.when(
            F.col("o_orderstatus").isNotNull(),
            F.struct(F.col("o_orderkey").alias("p"), F.col("o_orderstatus").alias("v")),
        )
    )["v"]
    return o.groupBy(F.col("o_custkey").alias("group_id")).agg(
        first_priority.alias("survived_priority"),
        last_status.alias("latest_status"),
        F.min("o_orderdate").alias("effective_date"),
        F.max("o_orderdate").alias("termination_date"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        F.count(F.lit(1)).alias("record_count"),
    )


@query(
    "survivorship_most_complete",
    """
    select p_brand as group_id,
      split_part(
        max(lpad(cast(length(p_name) as varchar), 4, '0') || chr(9) || p_name),
        chr(9), 2)                                       as longest_name
    from part
    group by p_brand
    """,
)
def survivorship_most_complete(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    packed = F.max(
        F.when(
            F.col("p_name").isNotNull(),
            F.struct(F.length("p_name").alias("l"), F.col("p_name").alias("v")),
        )
    )["v"]
    return p.groupBy(F.col("p_brand").alias("group_id")).agg(
        packed.alias("longest_name")
    )


@query(
    "golden_completeness",
    """
    select
      c_custkey,
      round((
        (case when c_name is not null then 1 else 0 end) +
        (case when nullif(c_mktsegment, 'BUILDING') is not null then 1 else 0 end) +
        (case when case when c_acctbal >= 0 then c_acctbal end is not null then 1 else 0 end) +
        (case when nullif(cast(c_nationkey as varchar), '13') is not null then 1 else 0 end) +
        (case when nullif(c_name, '') is not null then 1 else 0 end)
      ) / 5.0, 4) as completeness_score
    from customer
    """,
)
def golden_completeness(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    fields = [
        F.col("c_name"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")),
        F.nullif(F.col("c_nationkey").cast("string"), F.lit("13")),
        F.nullif(F.col("c_name"), F.lit("")),
    ]
    total = None
    for f in fields:
        term = F.when(f.isNotNull(), 1).otherwise(0)
        total = term if total is None else total + term
    return c.select(
        "c_custkey",
        F.round(total.cast("double") / 5.0, 4).alias("completeness_score"),
    )


@query(
    "golden_quality_rollup",
    """
    select
      o_custkey as group_id,
      count(distinct o_orderstatus)        as source_count,
      cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total_score,
      cast(sum(o_orderkey) as double) / count(*) as avg_orderkey,
      count(*)                             as record_count
    from orders
    group by o_custkey
    """,
)
def golden_quality_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("group_id")).agg(
        F.countDistinct("o_orderstatus").alias("source_count"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .alias("total_score"),
        (F.sum("o_orderkey").cast("double") / F.count(F.lit(1))).alias("avg_orderkey"),
        F.count(F.lit(1)).alias("record_count"),
    )


# ---------------------------------------------------------------------------
# Decisions / serving rollups (SURVEY §2.4 A8, §2.6 O3)
# ---------------------------------------------------------------------------

@query(
    "decision_histogram",
    """
    select
      case when o_totalprice / 600000.0 >= 0.85 then 'auto_match'
           when o_totalprice / 600000.0 >= 0.60 then 'review'
           else 'auto_no_match' end as auto_decision,
      count(*) as n
    from orders
    group by 1
    """,
)
def decision_histogram(spark, sf_dir):
    from payor_mdm_spark.config import AUTO_MATCH_THRESHOLD, REVIEW_THRESHOLD

    o = _t(spark, sf_dir, "orders")
    score = F.col("o_totalprice") / 600000.0
    decision = (
        F.when(score >= AUTO_MATCH_THRESHOLD, "auto_match")
        .when(score >= REVIEW_THRESHOLD, "review")
        .otherwise("auto_no_match")
    )
    return o.groupBy(decision.alias("auto_decision")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "score_bucket_histogram",
    """
    select cast(floor(o_totalprice / 60000.0) as bigint) as bucket, count(*) as n
    from orders group by 1
    """,
)
def score_bucket_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 60000.0).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "review_queue_top10",
    """
    select o_orderkey, o_totalprice
    from orders
    order by o_totalprice desc, o_orderkey asc
    limit 10
    """,
)
def review_queue_top10(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "union_distinct_names",
    """
    select n_name as name from nation
    union
    select r_name as name from region
    """,
)
def union_distinct_names(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    return n.unionByName(r).distinct()


@query(
    "anti_join_orphans",
    """
    select c.c_custkey
    from customer c
    where not exists (select 1 from orders o where o.o_custkey = c.c_custkey)
    """,
)
def anti_join_orphans(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey")


@query(
    "hierarchy_substring_join",
    """
    with parents as (
      select distinct split_part(p_name, ' ', 2) as parent_token
      from part
      where length(split_part(p_name, ' ', 2)) >= 4
    )
    select p.parent_token, c.p_partkey as child_key
    from parents p
    join part c
      on contains(c.p_name, p.parent_token)
      and length(c.p_name) > length(p.parent_token)
    """,
)
def hierarchy_substring_join(spark, sf_dir):
    """Containment join via the bounded gram pre-join (operators/hierarchy
    substring_candidates shape, k=4): candidates = children whose 4-grams
    include the parent token's 4-char prefix, exact `contains` only on
    those — never a nested-loop over the cross product."""
    from payor_mdm_spark.operators.hierarchy import substring_candidates

    p = _t(spark, sf_dir, "part")
    parents = (
        p.select(F.split(F.col("p_name"), " ")[1].alias("_pname"))
        .filter(F.length("_pname") >= 4)
        .distinct()
        .withColumn("parent_master_id", F.col("_pname"))
    )
    children = p.select(
        F.col("p_partkey").alias("child_master_id"), F.col("p_name").alias("_cname")
    )
    return (
        substring_candidates(parents, children, k=4)
        .filter(
            F.contains(F.col("_cname"), F.col("_pname"))
            & (F.length("_cname") > F.length("_pname"))
        )
        .select(
            F.col("_pname").alias("parent_token"),
            F.col("child_master_id").alias("child_key"),
        )
    )


@query(
    "hierarchy_tree_paths",
    """
    with o as (
      select o_custkey, o_orderkey,
             count(*) over (partition by o_custkey) as n
      from orders where o_custkey % 17 = 0
    )
    select o_orderkey as node,
           min(o_orderkey) over (partition by o_custkey) as root,
           cast(row_number() over (partition by o_custkey
                                   order by o_orderkey) - 1 as int) as depth
    from o where n >= 2
    """,
)
def hierarchy_tree_paths(spark, sf_dir):
    """Engine-side tree resolution (operators/hierarchy.tree_paths,
    pointer jumping) on per-customer order chains; ground truth is the
    window formulation."""
    from payor_mdm_spark.operators.hierarchy import tree_paths

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 17 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        o.select(
            F.lag("o_orderkey").over(w).alias("parent_master_id"),
            F.col("o_orderkey").alias("child_master_id"),
        )
        .filter(F.col("parent_master_id").isNotNull())
    )
    return tree_paths(edges)


# ---------------------------------------------------------------------------
# Dedup suite (documents)
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    """
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text from documents where doc_id % 3 = 0
    )
    select md5(text) as text_hash, count(*) as dup_count, min(doc_id) as keeper
    from corpus
    group by 1
    having count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keeper"))
        .filter(F.col("dup_count") > 1)
    )


@query(
    "dedup_token_jaccard",
    """
    with toks as (
      select doc_id, list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) as t
      from documents
    )
    select a.doc_id as id_a, b.doc_id as id_b,
      round(cast(len(list_intersect(a.t, b.t)) as double)
            / len(list_distinct(list_concat(a.t, b.t))), 4) as jaccard
    from toks a join toks b on b.doc_id = a.doc_id + 250
    """,
)
def dedup_token_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("t"),
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = toks.select((F.col("doc_id") - 250).alias("id_a"), F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_distinct(F.concat("ta", "tb"))).cast("double")
    return (
        a.join(b, "id_a")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
    )


# the full MinHash+LSH construction in md5_60bit hash mode, written so
# DuckDB reproduces every stage of the Spark operator bit-for-bit:
# char-5-shingles of upper(text), 64 md5_60bit(shingle || '#j') min-hashes,
# 16 bands x 4 rows (bucket = '|'-joined signature slice), distinct
# canonical candidate pairs, the 3-sigma estimator prune
# (>= 0.8 - 1.5/sqrt(64) agreement), then exact shingle Jaccard >= 0.8.
# The xxhash64 mode stays the fast path for the blocking layer
# (tests/test_blocking.py pins its behavior); this entry trades hash speed
# for a full value oracle, exactly like dedup_simhash / text_fingerprint.
@query(
    "dedup_minhash_lsh",
    """
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text || ' tail' as text
      from documents where doc_id % 7 = 0
    ), sh as (
      select doc_id,
        case when len(u) >= 5
          then list_distinct(list_transform(range(1, len(u) - 3),
                                            i -> substr(u, i, 5)))
          else [u] end as g
      from (select doc_id, upper(text) as u from corpus) t
    ), sig as (
      select doc_id, j,
        min(('0x' || substr(md5(s || '#' || j), 1, 15))::BIGINT) as h
      from (select doc_id, unnest(g) as s from sh) x
      cross join range(0, 64) t(j)
      group by doc_id, j
    ), buckets as (
      select doc_id, (j // 4)::INTEGER as band,
        string_agg(h::VARCHAR, '|' order by j) as bucket
      from sig group by doc_id, (j // 4)
    ), cand as (
      select distinct a.doc_id as id_a, b.doc_id as id_b
      from buckets a
      join buckets b
        on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
    ), sigv as (
      select doc_id, list(h order by j) as sig from sig group by doc_id
    ), surv as (
      select c.id_a, c.id_b
      from cand c
      join sigv sa on sa.doc_id = c.id_a
      join sigv sb on sb.doc_id = c.id_b
      where len(list_filter(range(0, 64), i -> sa.sig[i+1] = sb.sig[i+1]))
            / 64.0 >= 0.6125
    )
    select s.id_a, s.id_b,
      round(cast(len(list_intersect(ga.g, gb.g)) as double)
            / len(list_distinct(list_concat(ga.g, gb.g))), 4) as jaccard
    from surv s
    join sh ga on ga.doc_id = s.id_a
    join sh gb on gb.doc_id = s.id_b
    where cast(len(list_intersect(ga.g, gb.g)) as double)
          / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.8
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    from payor_mdm_spark.operators.dedup import minhash_dedup_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    # max_block_size high: the oracle models the un-salted construction
    # (hot-bucket salting is covered by tests/test_blocking.py instead)
    pairs = minhash_dedup_pairs(
        corpus, jaccard_threshold=0.8, max_block_size=1_000_000, hash_mode="md5"
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 4))


# the full 60-bit SimHash construction, written so DuckDB reproduces the
# Spark operator bit-for-bit: md5_60bit token hashes, per-bit +1/-1 votes,
# 4 x 15-bit band buckets, distinct canonical pairs.
_SIMHASH_VOTES = "\n      + ".join(
    f"(case when list_sum(list_transform(th, h -> case when (h >> {b}) & 1 = 1 "
    f"then 1 else -1 end)) > 0 then (1::BIGINT << {b}) else 0 end)"
    for b in range(60)
)

@query(
    "dedup_simhash",
    f"""
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text from documents where doc_id % 7 = 0
    ), th as (
      select doc_id,
        list_transform(
          list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''),
          t -> ('0x' || substr(md5(t), 1, 15))::BIGINT
        ) as th
      from corpus
    ), sh as (
      -- NULL token array (NULL text) -> NULL simhash, matching the Spark
      -- operator: content-free docs never band-bucket with empty docs
      select doc_id, case when th is null then null
                          else {_SIMHASH_VOTES} end as sh
      from th
    ), buckets as (
      select doc_id, band, (sh >> (band::INTEGER * 15)) & 32767 as bucket
      from sh cross join range(0, 4) t(band)
    )
    select distinct a.doc_id as id_a, b.doc_id as id_b
    from buckets a
    join buckets b on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    from payor_mdm_spark.operators.dedup import simhash_candidate_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    # max_block_size high: the oracle models the un-salted construction
    # (hot-bucket salting is covered by tests/test_blocking.py instead)
    return simhash_candidate_pairs(corpus, max_block_size=1_000_000)


@query(
    "dedup_cluster_keepers",
    """
    -- chain edges (i, i+125) over doc_ids 0..499 -> components
    -- {i, i+125, i+250, i+375}: ground-truth root = doc_id % 125.
    -- docs beyond 499 (larger sf) are singletons: their own root/keeper
    select doc_id,
      case when doc_id <= 499 then doc_id % 125 else doc_id end as cluster_root,
      case when doc_id <= 499 then doc_id < 125 else true end as is_keeper
    from documents
    """,
)
def dedup_cluster_keepers(spark, sf_dir):
    """Transitive dup clustering + canonical keeper via the distributed CC
    operator, on 4-hop chains (beyond any fixed-pass propagation)."""
    from payor_mdm_spark.operators.dedup import dedup_clusters

    d = _t(spark, sf_dir, "documents").select("doc_id")
    edges = d.filter(F.col("doc_id") + 125 <= 499).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 125).alias("id_b")
    )
    return dedup_clusters(d, edges)


@query(
    "contamination_check",
    """
    with train as (
      select doc_id, text from documents
    ), test as (
      -- every 10th doc leaks verbatim; every 5th (but not 10th) leaks with
      -- a tail edit; the rest of the test set is clean
      select doc_id + 9000000 as doc_id, text
      from documents where doc_id % 10 = 0
      union all
      select doc_id + 9500000 as doc_id, text || ' appended tail marker'
      from documents where doc_id % 5 = 0 and doc_id % 10 <> 0
    ), grams as (
      select doc_id, unnest(g) as g from (
        select doc_id,
          list_distinct(case when len(toks) >= 5
            then list_transform(range(0, len(toks) - 4),
                                i -> array_to_string(toks[(i+1):(i+5)], ' '))
            else [array_to_string(toks, ' ')] end) as g
        from (select doc_id,
                     regexp_split_to_array(lower(text), '\\s+') as toks
              from train) t
      ) x
    ), kept_grams as (
      select g.doc_id, g.g from grams g
      join (select g, count(*) as df from grams group by g having count(*) <= 100) ok
        on ok.g = g.g
    ), test_grams as (
      select doc_id, unnest(g) as g from (
        select doc_id,
          list_distinct(case when len(toks) >= 5
            then list_transform(range(0, len(toks) - 4),
                                i -> array_to_string(toks[(i+1):(i+5)], ' '))
            else [array_to_string(toks, ' ')] end) as g
        from (select doc_id,
                     regexp_split_to_array(lower(text), '\\s+') as toks
              from test) t
      ) x
    ), exact as (
      select te.doc_id as test_id, tr.doc_id as train_id,
             'exact' as method, 1.0 as jaccard
      from train tr join test te on md5(tr.text) = md5(te.text)
    ), cands as (
      select distinct kg.doc_id as train_id, tg.doc_id as test_id
      from kept_grams kg join test_grams tg on kg.g = tg.g
    ), sets as (
      select doc_id,
        list_distinct(case when len(toks) >= 5
          then list_transform(range(0, len(toks) - 4),
                              i -> array_to_string(toks[(i+1):(i+5)], ' '))
          else [array_to_string(toks, ' ')] end) as gs
      from (select doc_id, regexp_split_to_array(lower(text), '\\s+') as toks
            from train) t
    ), tsets as (
      select doc_id,
        list_distinct(case when len(toks) >= 5
          then list_transform(range(0, len(toks) - 4),
                              i -> array_to_string(toks[(i+1):(i+5)], ' '))
          else [array_to_string(toks, ' ')] end) as gs
      from (select doc_id, regexp_split_to_array(lower(text), '\\s+') as toks
            from test) t
    ), near as (
      select c.test_id, c.train_id, 'near' as method,
        round(cast(len(list_intersect(a.gs, b.gs)) as double)
              / len(list_distinct(list_concat(a.gs, b.gs))), 4) as jaccard
      from cands c
      join sets a on a.doc_id = c.train_id
      join tsets b on b.doc_id = c.test_id
      where round(cast(len(list_intersect(a.gs, b.gs)) as double)
                  / len(list_distinct(list_concat(a.gs, b.gs))), 4) >= 0.8
        and not exists (select 1 from exact e
                        where e.test_id = c.test_id and e.train_id = c.train_id)
    )
    select * from exact union all select * from near
    """,
)
def contamination_check(spark, sf_dir):
    """Train/test leakage detection (exact + near) via the inverted-index
    contamination operator."""
    from payor_mdm_spark.operators.dedup import cross_corpus_contamination

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = d
    test = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 9000000).alias("doc_id"), "text"
    ).unionByName(
        d.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0)).select(
            (F.col("doc_id") + 9500000).alias("doc_id"),
            F.concat("text", F.lit(" appended tail marker")).alias("text"),
        )
    )
    return cross_corpus_contamination(
        train, test, n=5, jaccard_threshold=0.8, max_df=100
    )


@query(
    "pack_sequences",
    """
    with toks as (
      select doc_id, source,
        len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                        t -> t <> '')) as token_count
      from documents
    ), packed as (
      select doc_id, source, token_count,
        cast(sum(token_count) over (partition by source order by doc_id
                                    rows between unbounded preceding and current row)
             as bigint)
          - token_count as cum_before
      from toks
    )
    select doc_id, source, token_count,
      cast(floor(cum_before / 2048.0) as bigint) as bin_id,
      cum_before % 2048 as bin_offset
    from packed
    """,
)
def pack_sequences_q(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing (2048-token bins)."""
    from payor_mdm_spark.operators.text_analysis import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget_tokens=2048)


@query(
    "dedup_embedding_cosine",
    """
    with v as (select vec_id, embedding from embeddings)
    select a.vec_id as id_a, b.vec_id as id_b,
      round(
        list_dot_product(cast(a.embedding as double[]), cast(b.embedding as double[]))
        / (sqrt(list_dot_product(cast(a.embedding as double[]), cast(a.embedding as double[])))
           * sqrt(list_dot_product(cast(b.embedding as double[]), cast(b.embedding as double[])))),
        6) as score
    from v a join v b on b.vec_id = a.vec_id + 250
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    from payor_mdm_spark.operators.similarity_search import cosine_col

    e = _t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = e.select(
        (F.col("vec_id") - 250).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    return (
        a.join(b, "id_a")
        .select("id_a", "id_b", F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# ANN similarity search (embeddings)
# ---------------------------------------------------------------------------

@query(
    "ann_brute_force_topk",
    """
    with q as (select vec_id as query_id, embedding from embeddings where vec_id < 5),
    scored as (
      select q.query_id, c.vec_id,
        round(
          list_dot_product(cast(q.embedding as double[]), cast(c.embedding as double[]))
          / (sqrt(list_dot_product(cast(q.embedding as double[]), cast(q.embedding as double[])))
             * sqrt(list_dot_product(cast(c.embedding as double[]), cast(c.embedding as double[])))),
          6) as score
      from embeddings c cross join q
    )
    select query_id, vec_id, score,
           cast(row_number() over (partition by query_id order by score desc, vec_id asc) as int) as rank
    from scored
    qualify rank <= 10
    """,
)
def ann_brute_force_topk(spark, sf_dir):
    from payor_mdm_spark.operators.similarity_search import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(e, queries, k=10)


def _lsh_bucket_sql(n_planes: int, table: int, dim: int) -> str:
    """DuckDB twin of _hyperplane_sketch: the SAME literal weight matrix
    (hyperplane_weights is plain hashlib — no Spark) dotted against v."""
    from payor_mdm_spark.operators.similarity_search import hyperplane_weights

    terms = []
    for p, row in enumerate(hyperplane_weights(dim, n_planes, table)):
        ws = ", ".join(repr(x) for x in row)
        terms.append(
            f"(case when list_dot_product(v, [{ws}]) > 0 then {1 << p} else 0 end)"
        )
    return " + ".join(terms)


_LSH_SIDES = "\n      union all ".join(
    f"select vec_id, v, {t} as t, {_lsh_bucket_sql(8, t, 64)} as bucket from {{side}}"
    for t in range(4)
)

@query(
    "ann_lsh_topk",
    f"""
    with c as (select vec_id, cast(embedding as double[]) as v from embeddings),
    q as (select vec_id, cast(embedding as double[]) as v
          from embeddings where vec_id < 5),
    cb as (
      {_LSH_SIDES.format(side='c')}
    ),
    qb as (
      {_LSH_SIDES.format(side='q')}
    ),
    cohort as (
      select distinct qb.vec_id as query_id, cb.vec_id
      from cb join qb on cb.t = qb.t and cb.bucket = qb.bucket
    ),
    scored as (
      select co.query_id, co.vec_id,
        round(
          list_dot_product(q.v, c.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
          6) as score
      from cohort co
      join q on q.vec_id = co.query_id
      join c on c.vec_id = co.vec_id
    )
    select query_id, vec_id, score,
           cast(row_number() over (partition by query_id
                                   order by score desc, vec_id asc) as int) as rank
    from scored
    qualify rank <= 10
    """,
)
def ann_lsh_topk(spark, sf_dir):
    from payor_mdm_spark.operators.similarity_search import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(e, queries, k=10, n_tables=4, dim=64)


# IVF with the deterministic hash-sampled quantizer (ivf_sample_centroids):
# centroid c = the corpus row with the c-th smallest md5(vec_id), so the
# whole construction — quantizer, top-1 cell assignment, n_probe=3 probe
# cells (cosine desc, cid desc tie-break, mirroring the reversed
# struct-sort in _nearest_centroids), cohort, scoring, ranking — has an
# exact DuckDB twin. The pyspark.ml KMeans quantizer (ivf_build_centroids)
# stays the production path; its recall-vs-brute-force is pinned by
# tests/test_ivf_and_stateful.py.
_IVF_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

@query(
    "ann_ivf_topk",
    f"""
    with c as (select vec_id, cast(embedding as double[]) as v from embeddings),
    q as (select vec_id as query_id, cast(embedding as double[]) as v
          from embeddings where vec_id < 5),
    cent as (
      select row_number() over (order by md5(vec_id::VARCHAR)) - 1 as cid, v as cv
      from c qualify cid <= 7
    ),
    ccell as (
      select vec_id, cid from (
        select c.vec_id, cent.cid,
          row_number() over (partition by c.vec_id
            order by {_IVF_COS.format(a='c.v', b='cent.cv')} desc, cent.cid desc
          ) as rn
        from c cross join cent
      ) where rn = 1
    ),
    qcell as (
      select query_id, cid from (
        select q.query_id, cent.cid,
          row_number() over (partition by q.query_id
            order by {_IVF_COS.format(a='q.v', b='cent.cv')} desc, cent.cid desc
          ) as rn
        from q cross join cent
      ) where rn <= 3
    ),
    cohort as (
      select distinct qc.query_id, cc.vec_id
      from qcell qc join ccell cc on cc.cid = qc.cid
    ),
    scored as (
      select co.query_id, co.vec_id,
        round({_IVF_COS.format(a='qq.v', b='cc.v')}, 6) as score
      from cohort co
      join q qq on qq.query_id = co.query_id
      join c cc on cc.vec_id = co.vec_id
    )
    select query_id, vec_id, score,
           cast(row_number() over (partition by query_id
                                   order by score desc, vec_id asc) as int) as rank
    from scored
    qualify rank <= 10
    """,
)
def ann_ivf_topk(spark, sf_dir):
    from payor_mdm_spark.operators.similarity_search import (
        ivf_sample_centroids, ivf_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_sample_centroids(e, n_centroids=8)
    return ivf_topk(e, queries, centroids, k=10, n_probe=3)


# ---------------------------------------------------------------------------
# Text analysis (documents)
# ---------------------------------------------------------------------------

@query(
    "text_token_stats",
    """
    select doc_id,
      len(list_filter(string_split(lower(text), ' '), x -> x <> '')) as token_count,
      round(cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_ \t\n]', '', 'g')) as double)
            / length(text), 4) as punct_ratio
    from documents
    where length(text) > 0
    """,
)
def text_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[^a-zA-Z0-9_ \t\n]", "")
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("token_count"),
        F.round(punct.cast("double") / F.length("text"), 4).alias("punct_ratio"),
    )


@query(
    "text_lang_scores",
    """
    with toks as (
      select doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '') as t
      from documents
    )
    select doc_id, lang,
      round(cast(len(list_filter(t, x -> x in ('the','and','of','to','is','in','that','with'))) as double)
            / greatest(len(t), 1), 4) as en_score,
      round(cast(len(list_filter(t, x -> x in ('el','la','de','que','y','los','las','una'))) as double)
            / greatest(len(t), 1), 4) as es_score,
      round(cast(len(list_filter(t, x -> x in ('der','die','das','und','ist','nicht','mit','ein'))) as double)
            / greatest(len(t), 1), 4) as de_score
    from toks
    """,
)
def text_lang_scores(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import LANG_MARKERS

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")

    def ratio(markers):
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        return F.round(hits.cast("double") / n, 4)

    return d.select(
        "doc_id", "lang",
        ratio(LANG_MARKERS["en"]).alias("en_score"),
        ratio(LANG_MARKERS["es"]).alias("es_score"),
        ratio(LANG_MARKERS["de"]).alias("de_score"),
    )


@query(
    "dedup_word_ngram_jaccard",
    """
    with toks as (
      select doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') as t
      from documents
    ), grams as (
      select doc_id,
             list_distinct(
               case when len(t) >= 3
                 then [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-2+1)]
                 else [array_to_string(t, ' ')] end
             ) as g
      from toks
    )
    select a.doc_id as id_a, b.doc_id as id_b,
      round(cast(len(list_intersect(a.g, b.g)) as double)
            / len(list_distinct(list_concat(a.g, b.g))), 4) as jaccard
    from grams a join grams b on b.doc_id = a.doc_id + 125
    """,
)
def dedup_word_ngram_jaccard(spark, sf_dir):
    """Word 3-gram Jaccard verification kernel (operators/dedup.py
    ngram_jaccard_pairs) against a deterministic pairing."""
    from payor_mdm_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", F.lower("text").alias("text"))
    cands = d.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 125).alias("id_b")).join(
        d.select(F.col("doc_id").alias("id_b")), "id_b", "inner"
    )
    out = ngram_jaccard_pairs(d, cands.select("id_a", "id_b"), n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "text_quality_score",
    r"""
    with f as (
      select doc_id,
        cast(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) as double) as n_tok,
        cast(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) as double)
          / greatest(length(text), 1) as punct_ratio,
        cast(len(list_filter(string_split(lower(text), ' '),
             x -> x in ('the','and','of','to','is','in','that','with'))) as double)
          / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1) as stop_ratio,
        cast(length(replace(text, ' ', '')) as double)
          / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1) as mwl
      from documents
      where length(text) > 0
    )
    select doc_id,
      round(
        (least(n_tok / 20.0, 1.0) * least(2000.0 / greatest(n_tok, 1.0), 1.0)) * 0.3
        + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
        + least(stop_ratio * 5.0, 1.0) * 0.3
        + (case when mwl >= 2.5 and mwl <= 10.0 then 1.0 else 0.3 end) * 0.2,
      4) as quality_score
    from f
    """,
)
def text_quality_score(spark, sf_dir):
    """Doc quality heuristic (operators/text_analysis.quality_score_col),
    oracle-checked component by component.

    NOTE the oracle computes mean word length as chars-without-spaces /
    tokens; the Spark side must use the same formula (sum of token lengths
    == chars minus single separators only when text is single-spaced, which
    generated documents are)."""
    from payor_mdm_spark.operators.text_analysis import quality_score_col, tokens_col

    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return d.withColumn("_toks", tokens_col(F.col("text"))).select(
        "doc_id", quality_score_col(F.col("text"), F.col("_toks")).alias("quality_score")
    )


@query(
    "tfidf_top_terms",
    """
    with toks as (
      select doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                        t -> t <> '')) as term
      from documents
    ), tf as (
      select doc_id, term, count(*) as tf from toks group by doc_id, term
    ), df as (
      select term, count(*) as df from tf group by term
    ), n as (
      select count(distinct doc_id) as n_docs from documents
    )
    select doc_id, term, tf.tf, df.df,
      round(tf.tf * ln(cast(n.n_docs as double) / df.df), 6) as tfidf,
      cast(row_number() over (partition by doc_id
                              order by round(tf.tf * ln(cast(n.n_docs as double) / df.df), 6) desc,
                                       term asc) as int) as rank
    from tf join df using (term) cross join n
    qualify rank <= 3
    """,
)
def tfidf_top_terms_q(spark, sf_dir):
    """Per-document characteristic terms (operators/text_analysis
    tfidf_top_terms)."""
    from payor_mdm_spark.operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


@query(
    "repetition_signals",
    """
    with toks as (
      select doc_id, regexp_split_to_array(lower(text), '\\s+') as t
      from documents
    ), grams as (
      select doc_id, unnest(g) as g from (
        select doc_id,
          case when len(t) >= 3
            then list_transform(range(0, len(t) - 2),
                                i -> array_to_string(t[(i+1):(i+3)], ' '))
            else [array_to_string(t, ' ')] end as g
        from toks
      ) x
    ), per_gram as (
      select doc_id, g, count(*) as c from grams group by doc_id, g
    ), per_doc as (
      select doc_id, cast(sum(c) as bigint) as total_ngrams,
             count(*) as distinct_ngrams,
             max(c) as top
      from per_gram group by doc_id
    )
    select d.doc_id,
      coalesce(p.total_ngrams, 0) as total_ngrams,
      coalesce(p.distinct_ngrams, 0) as distinct_ngrams,
      round(case when p.total_ngrams > 0
            then 1.0 - p.distinct_ngrams / p.total_ngrams else 0.0 end, 4)
        as dup_ngram_ratio,
      round(case when p.total_ngrams > 0
            then p.top / p.total_ngrams else 0.0 end, 4) as top_ngram_share
    from documents d left join per_doc p on p.doc_id = d.doc_id
    """,
)
def repetition_signals_q(spark, sf_dir):
    """Gopher-style intra-doc repetition filters (operators/text_analysis
    repetition_signals)."""
    from payor_mdm_spark.operators.text_analysis import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@query(
    "train_val_test_split",
    """
    select doc_id,
      case
        when ('0x' || substr(md5('split-v1' || doc_id::varchar), 1, 15))::BIGINT % 10000 < 100
          then 'test'
        when ('0x' || substr(md5('split-v1' || doc_id::varchar), 1, 15))::BIGINT % 10000 < 200
          then 'val'
        else 'train'
      end as split
    from documents
    """,
)
def train_val_test_split(spark, sf_dir):
    """Deterministic content-hash split assignment — rows never migrate
    between splits as the corpus grows (operators/text_analysis
    split_assignment_col)."""
    from payor_mdm_spark.operators.text_analysis import split_assignment_col

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", split_assignment_col(F.col("doc_id")).alias("split")
    )


@query(
    "mixture_plan",
    r"""
    with f as (
      select doc_id, source,
        len(list_filter(string_split(lower(text), ' '), x -> x <> '')) as token_count,
        cast(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) as double) as n_tok,
        cast(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) as double)
          / greatest(length(text), 1) as punct_ratio,
        cast(len(list_filter(string_split(lower(text), ' '),
             x -> x in ('the','and','of','to','is','in','that','with'))) as double)
          / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1) as stop_ratio,
        cast(length(replace(text, ' ', '')) as double)
          / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1) as mwl
      from documents
    ), q as (
      select doc_id, source, token_count,
        round(
          (least(n_tok / 20.0, 1.0) * least(2000.0 / greatest(n_tok, 1.0), 1.0)) * 0.3
          + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
          + least(stop_ratio * 5.0, 1.0) * 0.3
          + (case when mwl >= 2.5 and mwl <= 10.0 then 1.0 else 0.3 end) * 0.2,
        4) as quality_score
      from f
    ), c as (
      select doc_id, source, token_count, quality_score,
        cast(sum(token_count) over (partition by source
                                    order by quality_score desc, doc_id asc
                                    rows between unbounded preceding and current row)
             as bigint)
          as cum_tokens
      from q
    )
    select doc_id, source, token_count, quality_score, cum_tokens,
      cum_tokens <= (case source when 'src0' then 1000.0
                                 when 'src1' then 600.0
                                 when 'src2' then 400.0 else 0.0 end) as selected
    from c
    """,
)
def mixture_plan_q(spark, sf_dir):
    """Greedy domain-mixing quota fill (operators/text_analysis
    mixture_plan): 2000-token budget split 50/30/20 over three sources."""
    from payor_mdm_spark.operators.text_analysis import mixture_plan

    d = _t(spark, sf_dir, "documents")
    return mixture_plan(
        d, weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total_budget_tokens=2000,
    )


@query(
    "pii_redaction",
    r"""
    select doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              'reach bob.smith+x@example.co.uk or (415) 555-1234; ssn 123-45-6789; card 4111 1111 1111 1111 :: ' || text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
          '(\+?1[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}\b', '<PHONE>', 'g'),
        '\b(?:\d[ -]?){13,16}\b', '<CARDNUM>', 'g') as redacted
    from documents
    """,
)
def pii_redaction(spark, sf_dir):
    """Rule-based PII scrub (operators/text_analysis.redact_pii_col) over
    documents prefixed with synthetic PII so every rule actually fires."""
    from payor_mdm_spark.operators.text_analysis import redact_pii_col

    d = _t(spark, sf_dir, "documents")
    pii = F.concat(
        F.lit(
            "reach bob.smith+x@example.co.uk or (415) 555-1234; "
            "ssn 123-45-6789; card 4111 1111 1111 1111 :: "
        ),
        F.col("text"),
    )
    return d.select("doc_id", redact_pii_col(pii).alias("redacted"))


@query(
    "text_fingerprint",
    """
    with toks as (
      select doc_id,
        list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') as all_toks,
        list_filter(
          regexp_split_to_array(lower(regexp_replace(text, '[^\\w\\s]', '', 'g')), '\\s+'),
          t -> t <> ''
        ) as ftoks
      from documents
    ), sh as (
      select doc_id, len(all_toks) as token_count,
        case when len(ftoks) >= 4
          then list_transform(range(0, len(ftoks) - 3),
                              i -> array_to_string(ftoks[(i+1):(i+4)], ' '))
          else [array_to_string(ftoks, ' ')] end as shingles
      from toks
    )
    select doc_id, token_count,
      list_min(list_transform(shingles,
                              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) as fingerprint
    from sh
    """,
)
def text_fingerprint(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import analyze_documents

    d = _t(spark, sf_dir, "documents")
    return analyze_documents(d).select("doc_id", "token_count", "fingerprint")


@query(
    "golden_browse",
    """
    with counts as (
      select o_custkey as master_entity_id, count(*) as source_count
      from orders group by 1
    )
    select c.c_custkey as master_entity_id, c.c_name as name_raw,
           coalesce(n.source_count, 0) as source_count
    from customer c
    left join counts n on n.master_entity_id = c.c_custkey
    where upper(c.c_name) like '%001%'
    order by c.c_name, c.c_custkey
    limit 20 offset 5
    """,
)
def golden_browse(spark, sf_dir):
    """Filtered + paginated golden browse (GoldenRecords.tsx:48-71) via
    operators.serving.golden_browse, demonstrated on customer/orders."""
    from payor_mdm_spark.operators.serving import golden_browse as gb

    golden = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("master_entity_id"),
        F.col("c_name").alias("name_raw"),
    )
    xref = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("master_entity_id")
    )
    return gb(golden, xref, search="001", limit=20, offset=5)


@query(
    "serving_completeness_by_source",
    """
    select source,
      count(*) as total,
      sum(case when lang = 'en' then 1 else 0 end) * 100.0 / count(*) as en_pct,
      sum(case when n_chars > 200 then 1 else 0 end) * 100.0 / count(*) as long_pct
    from documents
    group by source
    """,
)
def serving_completeness_by_source(spark, sf_dir):
    """Per-source percentage rollup (the DataQuality.tsx:31-41 shape:
    exact-integer sums * 100.0 / count -> bit-identical doubles)."""
    d = _t(spark, sf_dir, "documents")
    cnt = F.count(F.lit(1))
    return d.groupBy("source").agg(
        cnt.alias("total"),
        (F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) * 100.0 / cnt).alias("en_pct"),
        (F.sum(F.when(F.col("n_chars") > 200, 1).otherwise(0)) * 100.0 / cnt).alias("long_pct"),
    )


# ---------------------------------------------------------------------------
# Headline relational rollups (bench anchors)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1_pricing_summary",
    """
    select
      l_returnflag, l_linestatus,
      cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double)      as sum_qty,
      cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double)   as sum_base_price,
      cast(round(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))), 2) as double) as sum_disc_price,
      round(cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*), 4) as avg_qty,
      count(*)                                                         as count_order
    from lineitem
    where l_shipdate <= timestamp '1998-09-02'
    group by l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_base_price"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "events_sessionize",
    """
    with marked as (
      select user_id, ts,
        case when lag(ts) over (partition by user_id order by ts, event_id) is null
               or epoch(ts) - epoch(lag(ts) over (partition by user_id order by ts, event_id)) > 1800
             then 1 else 0 end as new_session
      from events
    )
    select user_id, cast(sum(new_session) as bigint) as n_sessions, count(*) as n_events
    from marked
    group by user_id
    """,
)
def events_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull() | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 1800), 1
    ).otherwise(0)
    return (
        e.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus cleanup (C4 / RefinedWeb-style line passes) — the testdata docs are
# single-line, so the entries synthesize a multi-line corpus with injected
# boilerplate (same pattern as the dedup entries' synthesized duplicates).
# ---------------------------------------------------------------------------

@query(
    "corpus_line_dedup",
    """
    with corpus as (
      select doc_id,
        text || chr(10) || 'share this article' || chr(10)
             || 'cookie banner accept all'
             || (case when doc_id % 5 = 0
                 then chr(10) || 'rare line ' || doc_id else '' end) as text
      from documents
    ), base as (
      select doc_id, len(string_split(text, chr(10))) as n_lines from corpus
    ), lines as (
      select doc_id, unnest(ls) as line, unnest(range(1, len(ls) + 1)) as idx
      from (select doc_id, string_split(text, chr(10)) as ls from corpus) t
    ), freq as (
      select line, count(*) as cnt from lines group by line
    ), kept as (
      select l.doc_id, l.line, l.idx
      from lines l join freq f on f.line = l.line where f.cnt <= 2
    ), re as (
      select doc_id, string_agg(line, chr(10) order by idx) as clean,
             count(*) as kept_n
      from kept group by doc_id
    )
    select b.doc_id, coalesce(re.clean, '') as text, b.n_lines,
           b.n_lines - coalesce(re.kept_n, 0) as n_dropped
    from base b left join re on re.doc_id = b.doc_id
    """,
)
def corpus_line_dedup(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import line_dedup

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshare this article\ncookie banner accept all"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("\nrare line "), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = line_dedup(corpus, max_count=2)
    return out.select(
        "doc_id", "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


@query(
    "corpus_line_quality",
    """
    with corpus as (
      select doc_id,
        text || chr(10) || 'ok' || chr(10)
             || 'please accept our cookie policy' || chr(10)
             || 'this line stays here fine' || chr(10) || 'short no' as text
      from documents
    ), split as (
      select doc_id, string_split(text, chr(10)) as ls from corpus
    ), filt as (
      select doc_id, len(ls) as n_lines,
        list_filter(ls, l ->
          len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
          and not contains(lower(l), 'cookie')
          and not contains(lower(l), 'javascript')
          and not contains(lower(l), 'lorem ipsum')
          and not contains(lower(l), 'terms of use')
        ) as kept
      from split
    )
    select doc_id, array_to_string(kept, chr(10)) as text,
           n_lines, len(kept) as n_kept
    from filt
    """,
)
def corpus_line_quality(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import line_quality_filter

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(
                "\nok\nplease accept our cookie policy"
                "\nthis line stays here fine\nshort no"
            ),
        ).alias("text"),
    )
    out = line_quality_filter(corpus)
    return out.select(
        "doc_id", "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


@query(
    "text_bigram_lm",
    """
    with toks as (
      select doc_id,
        list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') as ts
      from documents
    ), uni as (
      select unnest(ts) as w from toks
    ), uc as (
      select w, count(*) as uc from uni group by w
    ), v as (
      select count(distinct w) as v from uni
    ), bg as (
      select doc_id, unnest(list_transform(range(1, len(ts)),
                     i -> struct_pack(w1 := ts[i], g := ts[i] || ' ' || ts[i+1]))) as p
      from toks where len(ts) >= 2
    ), bc as (
      select p.g as g, count(*) as bc from bg group by p.g
    ), scored as (
      select b.doc_id, count(*) as n_bigrams,
        round(avg(-ln((bc.bc + 0.5) / (uc.uc + 0.5 * (select v from v)))), 4)
          as cross_entropy
      from bg b
      join bc on bc.g = b.p.g
      join uc on uc.w = b.p.w1
      group by b.doc_id
    )
    select d.doc_id, coalesce(s.n_bigrams, 0) as n_bigrams, s.cross_entropy
    from (select distinct doc_id from documents) d
    left join scored s on s.doc_id = d.doc_id
    """,
)
def text_bigram_lm(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import bigram_lm_scores

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bigram_lm_scores(d)
    return out.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "cross_entropy",
    )


@query(
    "corpus_stratified_sample",
    """
    select doc_id, source from documents
    where ('0x' || substr(md5('sample-v1' || doc_id), 1, 15))::BIGINT % 1000000
          < (case source when 'src0' then 0.5 when 'src1' then 0.25
             else 0.0 end) * 1000000
    """,
)
def corpus_stratified_sample(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(d, {"src0": 0.5, "src1": 0.25})
    return out.select("doc_id", "source")


@query(
    "corpus_top_ngrams",
    """
    with toks as (
      select doc_id,
        list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') as ts
      from documents
    ), grams as (
      select doc_id,
        unnest(list_transform(range(1, len(ts) - 3),
               i -> array_to_string(ts[i:i+4], ' '))) as gram
      from toks where len(ts) >= 5
    ), agg as (
      select gram, count(*) as occurrences, count(distinct doc_id) as doc_freq
      from grams group by gram
    )
    select gram, occurrences, doc_freq,
           cast(row_number() over (order by occurrences desc, gram asc) as int)
             as rank
    from agg
    qualify rank <= 20
    """,
)
def corpus_top_ngrams(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, n=5, k=20)


# incremental MinHash in md5 hash mode: with no hot blocks the delta run
# equals the batch construction filtered to pairs with >= 1 NEW side
# (new ids are all >= 400: the 400..499 split plus the +1000000 tail
# variants), so the twin is the batch twin plus that filter.
@query(
    "dedup_minhash_incremental",
    """
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text || ' tail' as text
      from documents where doc_id % 7 = 0
    ), sh as (
      select doc_id,
        case when len(u) >= 5
          then list_distinct(list_transform(range(1, len(u) - 3),
                                            i -> substr(u, i, 5)))
          else [u] end as g
      from (select doc_id, upper(text) as u from corpus) t
    ), sig as (
      select doc_id, j,
        min(('0x' || substr(md5(s || '#' || j), 1, 15))::BIGINT) as h
      from (select doc_id, unnest(g) as s from sh) x
      cross join range(0, 64) t(j)
      group by doc_id, j
    ), buckets as (
      select doc_id, (j // 4)::INTEGER as band,
        string_agg(h::VARCHAR, '|' order by j) as bucket
      from sig group by doc_id, (j // 4)
    ), cand as (
      select distinct a.doc_id as id_a, b.doc_id as id_b
      from buckets a
      join buckets b
        on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
      where a.doc_id >= 400 or b.doc_id >= 400
    ), sigv as (
      select doc_id, list(h order by j) as sig from sig group by doc_id
    ), surv as (
      select c.id_a, c.id_b
      from cand c
      join sigv sa on sa.doc_id = c.id_a
      join sigv sb on sb.doc_id = c.id_b
      where len(list_filter(range(0, 64), i -> sa.sig[i+1] = sb.sig[i+1]))
            / 64.0 >= 0.6125
    )
    select s.id_a, s.id_b,
      round(cast(len(list_intersect(ga.g, gb.g)) as double)
            / len(list_distinct(list_concat(ga.g, gb.g))), 4) as jaccard
    from surv s
    join sh ga on ga.doc_id = s.id_a
    join sh gb on gb.doc_id = s.id_b
    where cast(len(list_intersect(ga.g, gb.g)) as double)
          / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.8
    """,
)
def dedup_minhash_incremental(spark, sf_dir):
    from payor_mdm_spark.operators.dedup import minhash_dedup_incremental

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400).unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    pairs = minhash_dedup_incremental(
        old, new, jaccard_threshold=0.8, max_block_size=1_000_000,
        hash_mode="md5",
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 4))


@query(
    "tpch_q3_shipping_priority",
    """
    select l_orderkey,
      cast(round(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))), 2)
           as double) as revenue,
      o_orderdate, o_orderpriority
    from customer
    join orders   on o_custkey = c_custkey
    join lineitem on l_orderkey = o_orderkey
    where c_mktsegment = 'BUILDING'
      and o_orderdate < timestamp '1997-07-01'
      and l_shipdate  > timestamp '1997-07-01'
    group by l_orderkey, o_orderdate, o_orderpriority
    order by revenue desc, l_orderkey asc
    limit 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-07-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,6)")
                ), 2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5_local_supplier_volume",
    """
    select n_name,
      cast(round(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))), 2)
           as double) as revenue
    from customer
    join orders   on o_custkey = c_custkey
    join lineitem on l_orderkey = o_orderkey
    join supplier on s_suppkey = l_suppkey and s_nationkey = c_nationkey
    join nation   on n_nationkey = s_nationkey
    join region   on r_regionkey = n_regionkey
    where r_name = 'ASIA'
      and o_orderdate >= timestamp '1996-01-01'
      and o_orderdate <  timestamp '1997-01-01'
    group by n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,6)")
                ), 2,
            ).cast("double").alias("revenue")
        )
    )


@query(
    "gopher_doc_filter",
    """
    with base as (
      select doc_id,
        list_filter(regexp_split_to_array(lower(text), '\\s+'),
                    x -> x <> '') as ft,
        regexp_split_to_array(lower(text), '\\s+') as t
      from documents
    ), feats as (
      select doc_id, len(ft) as ntok,
        case when len(ft) > 0
          then cast(list_sum(list_transform(ft, w -> len(w))) as double)
               / len(ft) else 0.0 end as mwl,
        case when len(ft) > 0
          then cast(len(list_filter(ft, w -> w in
               ('the','and','of','to','is','in','that','with'))) as double)
               / len(ft) else 0.0 end as stop
      from base
    ), grams as (
      select doc_id, unnest(g) as g from (
        select doc_id,
          case when len(t) >= 3
            then list_transform(range(0, len(t) - 2),
                                i -> array_to_string(t[(i+1):(i+3)], ' '))
            else [array_to_string(t, ' ')] end as g
        from base
      ) x
    ), per_gram as (
      select doc_id, g, count(*) as c from grams group by doc_id, g
    ), per_doc as (
      select doc_id, cast(sum(c) as bigint) as total, count(*) as dist,
             max(c) as top
      from per_gram group by doc_id
    ), rep as (
      select f.doc_id,
        round(case when p.total > 0 then 1.0 - p.dist / p.total
              else 0.0 end, 4) as dup_r,
        round(case when p.total > 0 then p.top / p.total
              else 0.0 end, 4) as top_s
      from feats f left join per_doc p on p.doc_id = f.doc_id
    ), verdict as (
      select f.doc_id,
        list_sort(list_filter([
          case when f.ntok < 20 then 'too_few_tokens' end,
          case when f.ntok > 100000 then 'too_many_tokens' end,
          case when f.mwl < 2.0 then 'mean_word_len_low' end,
          case when f.mwl > 12.0 then 'mean_word_len_high' end,
          case when r.dup_r > 0.3 then 'dup_ngram_ratio' end,
          case when r.top_s > 0.2 then 'top_ngram_share' end,
          case when f.stop < 0.02 then 'stopword_ratio_low' end
        ], x -> x is not null)) as reasons
      from feats f join rep r on r.doc_id = f.doc_id
    )
    select doc_id, len(reasons) = 0 as keep, reasons from verdict
    """,
)
def gopher_doc_filter(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import gopher_filter

    return gopher_filter(_t(spark, sf_dir, "documents"))


# exact-substring duplication signals over a corpus with injected overlap
# (every 7th doc re-appears with a tail edit, so its 20-char windows are
# corpus-duplicated). Closed-form interval union: L + sum(min(L, gap)).
@query(
    "dup_span_signals",
    """
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text || ' tail' as text
      from documents where doc_id % 7 = 0
    ), w as (
      select doc_id, len(text) as n,
        unnest(list_transform(range(1, len(text) - 18),
          i -> struct_pack(pos := i,
                 h := ('0x' || substr(md5(text[i:i+19]), 1, 15))::BIGINT)))
          as p
      from corpus where len(text) >= 20
    ), hot as (
      select p.h as h from w group by p.h having count(*) > 1
    ), dup as (
      select doc_id, n, p.pos as pos from w
      where p.h in (select h from hot)
    ), per_doc as (
      select doc_id, n, count(*) as n_dup_spans,
             list_sort(list(pos)) as ps
      from dup group by doc_id, n
    ), cov as (
      select doc_id, n, n_dup_spans,
        20 + coalesce(list_sum(list_transform(range(1, len(ps)),
               i -> least(20, ps[i+1] - ps[i]))), 0) as coverage
      from per_doc
    )
    select c.doc_id,
      coalesce(v.n_dup_spans, 0) as n_dup_spans,
      coalesce(v.coverage, 0) as dup_char_coverage,
      coalesce(round(cast(v.coverage as double) / v.n, 4), 0.0) as dup_char_ratio
    from corpus c left join cov v on v.doc_id = c.doc_id
    """,
)
def dup_span_signals(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    out = duplicate_span_signals(corpus, span_len=20)
    return out.select(
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("dup_char_coverage").cast("long").alias("dup_char_coverage"),
        "dup_char_ratio",
    )


# corpus-scale configuration of the same operator: windows anchored at
# token boundaries (content-defined — survives cross-doc offset shifts,
# unlike a fixed char stride) and thinned to hashes == 0 mod 2. Emits
# O(#tokens / 2) shuffle rows instead of one per character.
@query(
    "dup_span_signals_token",
    """
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text || ' tail' as text
      from documents where doc_id % 7 = 0
    ), w as (
      select doc_id, len(text) as n,
        unnest(list_filter(
          list_transform(
            list_filter(range(1, len(text) - 18),
              i -> i = 1 or (text[i-1:i-1] = ' ' and text[i:i] != ' ')),
            i -> struct_pack(pos := i,
                   h := ('0x' || substr(md5(text[i:i+19]), 1, 15))::BIGINT)),
          s -> s.h % 2 = 0)) as p
      from corpus where len(text) >= 20
    ), hot as (
      select p.h as h from w group by p.h having count(*) > 1
    ), dup as (
      select doc_id, n, p.pos as pos from w
      where p.h in (select h from hot)
    ), per_doc as (
      select doc_id, n, count(*) as n_dup_spans,
             list_sort(list(pos)) as ps
      from dup group by doc_id, n
    ), cov as (
      select doc_id, n, n_dup_spans,
        20 + coalesce(list_sum(list_transform(range(1, len(ps)),
               i -> least(20, ps[i+1] - ps[i]))), 0) as coverage
      from per_doc
    )
    select c.doc_id,
      coalesce(v.n_dup_spans, 0) as n_dup_spans,
      coalesce(v.coverage, 0) as dup_char_coverage,
      coalesce(round(cast(v.coverage as double) / v.n, 4), 0.0) as dup_char_ratio
    from corpus c left join cov v on v.doc_id = c.doc_id
    """,
)
def dup_span_signals_token(spark, sf_dir):
    from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    out = duplicate_span_signals(corpus, span_len=20, anchor="token", sample_mod=2)
    return out.select(
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("dup_char_coverage").cast("long").alias("dup_char_coverage"),
        "dup_char_ratio",
    )
