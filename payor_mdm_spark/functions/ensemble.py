"""Ensemble pairwise scoring kernel (Spark-first hybrid).

Re-expresses the reference's ``ENSEMBLE_MATCH_SCORE`` scalar Python UDF
(/root/reference/snowflake/11_ensemble_udfs.sql:411-645) — a per-field,
data-characteristic strategy router with a weighted composite — as:

* ONE Arrow-vectorized pandas UDF for the string-similarity fields (the
  name and address routers), returning a typed StructType so Catalyst can
  prune struct fields; and
* native column expressions for everything cheap (tax exact/transpose,
  phone / cms strategies, winner-take-max, composite weighting +
  renormalization), which stay inside WholeStageCodegen.

Routing, strategy names, weights, rounding (4 dp) and tie-breaking (first
max in insertion order) match the reference exactly:

  name router (11_ensemble_udfs.sql:530-553):
    any token in ABBREVS        -> try [NAME_ABR, NAME_JW, NAME_TSR]
    elif len-ratio < 0.6        -> try [NAME_TSR, NAME_ABR]
    elif max len <= 20          -> try [NAME_JW, NAME_PHO, NAME_NGR]
    else                        -> try [NAME_JW, NAME_NGR]
  addr router (:555-566):
    digits in first 10 chars of both -> [ADDR_CMP, ADDR_NRM] else [ADDR_JAC]
  tax (:591-607): exact -> 1.0/TIN_EXACT else transpose (0.9/0.7)/TIN_TRANS
  phone (:619-626): max(e164, last7); strategy PHONE_E164 if e164 >= l7
  cms (:629-635): max(exact, prefix5=0.85); CMS_EXACT if exact >= pfx
  composite (:638-641): sum(w_f * s_f) / sum(w_f) over present fields,
    weights name .35 / tax .25 / addr .20 / phone .10 / cms .10, round 4dp.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType,
)

from payor_mdm_spark.config import ABBREVS, FIELD_WEIGHTS
from payor_mdm_spark.functions import similarity as sim
from payor_mdm_spark.functions.phonetic import phonetic_equal

STRING_SCORES_SCHEMA = StructType(
    [
        StructField("name_score", DoubleType()),
        StructField("name_strategy", StringType()),
        StructField("addr_score", DoubleType()),
        StructField("addr_strategy", StringType()),
    ]
)


def _first_max(*candidates: tuple[float, str]) -> tuple[float, str]:
    """The first (score, strategy) with the highest score: the reference's
    max over an insertion-ordered dict of tried strategies."""
    best = candidates[0]
    for c in candidates[1:]:
        if c[0] > best[0]:
            best = c
    return best


def route_name(
    a: str, b: str, abbrevs: dict[str, str] | None = None,
    jw: float | None = None, tri: float | None = None,
) -> tuple[float, str]:
    """Name-strategy router on already upper/stripped inputs, against an
    explicit abbreviation table (None -> config.ABBREVS). The table is
    data, not code: stewards extend ABBREVIATION_DICT
    (12_abbreviation_dict.sql:49-75) and the router picks it up via
    apply_ensemble(abbrevs=...).

    ``jw``/``tri`` are optional PRE-ROUNDED scores from the batched C
    kernels (one ctypes call per Arrow batch) — when given they replace
    the per-call kernel invocations, bit-identically."""
    keys = (ABBREVS if abbrevs is None else abbrevs).keys()
    if not (keys.isdisjoint(a.split()) and keys.isdisjoint(b.split())):
        return _first_max(
            (sim.name_abr(a, b, abbrevs), "NAME_ABR"),
            (jw if jw is not None else sim.name_jw(a, b), "NAME_JW"),
            (sim.token_sort_ratio(a, b), "NAME_TSR"),
        )
    mx = max(len(a), len(b))
    if (min(len(a), len(b)) / mx if mx > 0 else 1.0) < 0.6:
        return _first_max(
            (sim.token_sort_ratio(a, b), "NAME_TSR"),
            (sim.name_abr(a, b, abbrevs), "NAME_ABR"),
        )
    if jw is None:
        jw = sim.name_jw(a, b)
    if tri is None:
        tri = sim.trigram_cosine(a, b)
    if mx <= 20:
        return _first_max(
            (jw, "NAME_JW"), (phonetic_equal(a, b), "NAME_PHO"), (tri, "NAME_NGR")
        )
    return (tri, "NAME_NGR") if tri > jw else (jw, "NAME_JW")


def route_addr(
    a: str, b: str,
    jw_num: float | None = None, jw_name: float | None = None,
    jw_nrm: float | None = None,
    info_a: tuple | None = None, info_b: tuple | None = None,
) -> tuple[float, str]:
    """Address router; optional RAW precomputed JW scores for the parsed
    num/name components and the usps-normalized pair (batched C kernel).
    ``info_a``/``info_b``: optional per-STRING (has_num, parsed, normalized)
    triples precomputed once per distinct address by the batch kernel —
    without them each is derived here, bit-identically."""
    if info_a is None:
        info_a = (any(c.isdigit() for c in a[:10]), None, None)
    if info_b is None:
        info_b = (any(c.isdigit() for c in b[:10]), None, None)
    has_num = info_a[0] and info_b[0]
    results: dict[str, float] = {}
    if has_num:
        results["ADDR_CMP"] = sim.addr_component(
            a, b, jw_num=jw_num, jw_name=jw_name, ca=info_a[1], cb=info_b[1]
        )
        results["ADDR_NRM"] = sim.addr_normalized(
            a, b, jw=jw_nrm, na=info_a[2], nb=info_b[2]
        )
    else:
        results["ADDR_JAC"] = sim.addr_jaccard(a, b)
    winner = max(results, key=results.get)
    return results[winner], winner


def score_tax(a: str | None, b: str | None) -> tuple[float | None, str | None]:
    """Python reference for the tax field; the pipeline scores tax with its
    native clone ``tax_score_cols``."""
    if not a or not b:
        return None, None
    da, db = sim.digits_only(a), sim.digits_only(b)
    if not da or not db:
        return None, None
    if da == db:
        return 1.0, "TIN_EXACT"
    trans = 0.0
    if len(da) == len(db):
        diffs = sum(1 for x, y in zip(da, db) if x != y)
        trans = 0.9 if diffs <= 1 else (0.7 if diffs == 2 else 0.0)
    return trans, ("TIN_TRANS" if trans > 0.0 else "TIN_EXACT")


def make_string_scores_udf(abbrevs: dict[str, str] | None = None):
    """Build the batched string-field scoring UDF against an abbreviation
    table (None -> config.ABBREVS). The table ships to workers inside the
    UDF closure (a broadcast-sized dict; at most a few hundred entries)."""

    @pandas_udf(STRING_SCORES_SCHEMA)
    def _string_scores_udf(
        name_a: pd.Series, name_b: pd.Series,
        addr_a: pd.Series, addr_b: pd.Series,
    ) -> pd.DataFrame:
        return _string_scores_batch(name_a, name_b, addr_a, addr_b, abbrevs)

    return _string_scores_udf


def _string_scores_batch(
    name_a: pd.Series, name_b: pd.Series,
    addr_a: pd.Series, addr_b: pd.Series,
    abbrevs: dict[str, str] | None = None,
) -> pd.DataFrame:
    """Batched string-field scoring. One Arrow batch in, one struct column
    out; the per-value loop runs over an in-memory batch (no per-row
    Python<->JVM crossings, per input_hint 'no per-row Python'). The
    kernel normalizes, batches the C kernels and memoizes; every strategy
    is picked by route_name / route_addr."""
    n = len(name_a)
    out = {
        "name_score": [None] * n, "name_strategy": [None] * n,
        "addr_score": [None] * n, "addr_strategy": [None] * n,
    }
    na_l, nb_l = name_a.tolist(), name_b.tolist()
    aa_l, ab_l = addr_a.tolist(), addr_b.tolist()
    # per-batch memos, not cross-batch caches: repeated (a, b) pairs within
    # one Arrow batch are common (a record takes part in many candidate
    # pairs), and the dicts die with the batch, so the working set stays
    # young and bounded. Cross-batch lru caches of string-keyed results were
    # measured harmful: on 32 concurrent workers they turned the kernels'
    # cache-resident loops into random DRAM probes (4M-distinct-pair scoring
    # fell from 163k to 43k pairs/s at local[32]).
    name_memo: dict = {}

    # pass 1: normalize names, collect the rows that need the router
    ua_l: list = [None] * n
    ub_l: list = [None] * n
    routed: list[int] = []
    for i in range(n):
        na, nb = na_l[i], nb_l[i]
        if na and nb:
            ua_l[i], ub_l[i] = na.upper().strip(), nb.upper().strip()
            routed.append(i)

    # pass 2: ONE batched C call for the JW + trigram scores of every
    # routed row (bit-identical values; rows the C side cannot take are
    # flagged and score per-call below)
    jw_arr = tri_arr = fb_arr = None
    if routed:
        from payor_mdm_spark.functions.native_kernels import batch_jw_tri

        batched = batch_jw_tri(
            [ua_l[i] for i in routed], [ub_l[i] for i in routed]
        )
        if batched is not None:
            jw_arr, tri_arr, fb_arr = batched

    # pass 3: route each distinct pair once, feeding the precomputed
    # kernel scores in
    ns_out, nst_out = out["name_score"], out["name_strategy"]
    for k, i in enumerate(routed):
        ua, ub = ua_l[i], ub_l[i]
        key = (ua, ub)
        hit = name_memo.get(key)
        if hit is None:
            jw = tri = None
            if jw_arr is not None and not fb_arr[k]:
                jw = round(float(jw_arr[k]), 4)
                tri = round(float(tri_arr[k]), 4)
            hit = route_name(ua, ub, abbrevs, jw=jw, tri=tri)
            name_memo[key] = hit
        ns_out[i], nst_out[i] = hit

    # addr pass 1: group the rows by distinct (ua, ub) pair so each pair
    # routes once
    pending: dict = {}  # (ua, ub) -> list of row indices
    for i in range(n):
        aa, ab = aa_l[i], ab_l[i]
        if aa and ab:
            pending.setdefault((aa.upper().strip(), ab.upper().strip()), []).append(i)

    # addr pass 2: collect every JW input the has_num route will need
    # (unequal parsed num/name components, unequal normalized strings),
    # batch them through ONE C call, then route per distinct pair
    # per-STRING memo: an address recurs in many pairs within a batch, and
    # the profile showed _addr_parse/usps_normalize dominating the addr path
    # because each was recomputed per PAIR (then again inside the scorers).
    # One (has_num, parsed, normalized) triple per distinct string, reused
    # by the slot-collection pass and threaded into the routers.
    addr_info: dict = {}

    def _info(u: str) -> tuple:
        v = addr_info.get(u)
        if v is None:
            v = (
                any(c.isdigit() for c in u[:10]),
                sim._addr_parse(u),
                sim.usps_normalize(u),
            )
            addr_info[u] = v
        return v

    jw_req_a: list = []
    jw_req_b: list = []
    req_slots: dict = {}  # (ua, ub) -> {"num": idx, "name": idx, "nrm": idx}
    for (ua, ub) in pending:
        ia, ib = _info(ua), _info(ub)
        if not (ia[0] and ib[0]):
            continue
        slots: dict = {}
        ca, cb = ia[1], ib[1]
        for comp in ("num", "name"):
            va, vb = ca.get(comp, ""), cb.get(comp, "")
            if va and vb and va != vb:
                slots[comp] = len(jw_req_a)
                jw_req_a.append(va)
                jw_req_b.append(vb)
        na_, nb_ = ia[2], ib[2]
        if na_ != nb_:
            slots["nrm"] = len(jw_req_a)
            jw_req_a.append(na_)
            jw_req_b.append(nb_)
        req_slots[(ua, ub)] = slots

    jw_vals = jw_fb = None
    if jw_req_a:
        from payor_mdm_spark.functions.native_kernels import batch_jw

        batched = batch_jw(jw_req_a, jw_req_b)
        if batched is not None:
            jw_vals, jw_fb = batched

    def _pre(slots: dict, which: str):
        idx = slots.get(which)
        if idx is None or jw_vals is None or jw_fb[idx]:
            return None
        return float(jw_vals[idx])

    # pending.items() iterates UNIQUE (ua, ub) pairs, so each key routes
    # exactly once here — no memo needed (the old addr_memo could never
    # hit in this loop; duplicate-pair sharing happens via `rows`)
    for (ua, ub), rows in pending.items():
        slots = req_slots.get((ua, ub))
        if slots is None:
            hit = route_addr(
                ua, ub, info_a=_info(ua), info_b=_info(ub)
            )
        else:
            hit = route_addr(
                ua, ub,
                jw_num=_pre(slots, "num"),
                jw_name=_pre(slots, "name"),
                jw_nrm=_pre(slots, "nrm"),
                info_a=_info(ua), info_b=_info(ub),
            )
        for i in rows:
            out["addr_score"][i], out["addr_strategy"][i] = hit
    return pd.DataFrame(out)


def _digits(col: Column) -> Column:
    return F.regexp_replace(F.coalesce(col, F.lit("")), "[^0-9]", "")


# ---------------------------------------------------------------------------
# Native fast paths (VERDICT r01 item 5 — the DET/FUZZY split).
# Rows whose string fields are decidable without the Python router (either
# side null/empty, or identical values whose winning strategy provably
# scores 1.0) are scored with the column expressions below and send NULL
# inputs to the Arrow UDF; only rows that genuinely need route_name /
# route_addr pay the Python cost. Each expression is a bit-exact clone of
# what the routers (and score_tax) return for those rows — equivalence is
# pinned by tests/test_ensemble_spark.py.
# ---------------------------------------------------------------------------

def _upper_trim(col: Column) -> Column:
    return F.upper(F.trim(col))


def _present(col: Column) -> Column:
    """Python truthiness of the raw value: non-null AND != ''."""
    return col.isNotNull() & (col != "")


def _has_abbrev_token(u: Column, abbrevs: dict[str, str] | None = None) -> Column:
    """any(t in table for t in u.split()) — (?U) whitespace split so
    internal unicode whitespace (NBSP etc.) tokenizes like Python's
    str.split(); empties dropped (harmless: '' is never a key)."""
    table = ABBREVS if abbrevs is None else abbrevs
    return F.arrays_overlap(
        F.split(u, r"(?U)\s+"), F.array(*[F.lit(t) for t in sorted(table)])
    )


def _fastpath_clean(u: Column) -> Column:
    """True when Python str.strip()/.split() and the native expressions
    provably agree on ``u``: no residual leading/trailing whitespace after
    F.trim (which strips only ASCII spaces — tabs/NBSP survive it while
    Python's strip() removes them), no control chars (Python splits on
    \\x1c-\\x1f, Java does not), and at least one non-whitespace char
    (Python treats whitespace-only as empty -> router, not fast path).
    Anything exotic routes to the UDF, which is the ground truth — the
    guard only has to be SOUND, not complete."""
    return (
        ~u.rlike(r"(?U)^\s|\s$")
        & ~u.rlike(r"[\x00-\x1f\x85]")
        & u.rlike(r"(?U)\S")
    )


def _nonstop_addr_tokens(u: Column) -> Column:
    """bool({t.rstrip('.,') for t in u.split()} - ADDR_STOPS) as a column."""
    from payor_mdm_spark.config import ADDR_STOPS

    toks = F.filter(F.split(u, r"(?U)\s+"), lambda t: t != "")
    return F.exists(
        toks,
        lambda t: ~F.regexp_replace(t, r"[.,]+$", "").isin(*sorted(ADDR_STOPS)),
    )


def name_fast_path(
    a: Column, b: Column, abbrevs: dict[str, str] | None = None
) -> tuple[Column, Column, Column]:
    """(decidable, score, strategy) for the name field without the router."""
    ua, ub = _upper_trim(a), _upper_trim(b)
    both = _present(a) & _present(b)
    identical = (ua == ub) & _fastpath_clean(ua)
    decidable = ~both | identical
    score = F.when(both & identical, F.lit(1.0))
    strategy = F.when(
        both & identical,
        F.when(_has_abbrev_token(ua, abbrevs), "NAME_ABR").otherwise("NAME_JW"),
    )
    return decidable, score, strategy


def addr_fast_path(a: Column, b: Column) -> tuple[Column, Column, Column]:
    """(decidable, score, strategy) for the address field. Identical
    addresses are decidable only when the router's winner provably scores
    1.0: CMP with a parsed leading street number, or JAC (no digit in the
    first 10 chars) where JAC is 1.0 iff the stopword-stripped token set
    is non-empty (11_ensemble_udfs.sql:503)."""
    ua, ub = _upper_trim(a), _upper_trim(b)
    both = _present(a) & _present(b)
    has_num = F.substring(ua, 1, 10).rlike("[0-9]")
    tok0 = F.element_at(F.filter(F.split(ua, r"(?U)\s+"), lambda t: t != ""), 1)
    tok0_digit = F.coalesce(
        F.regexp_replace(tok0, "-", "").rlike("^[0-9]+$"), F.lit(False)
    )
    identical = (ua == ub) & _fastpath_clean(ua)
    decidable = ~both | (identical & (~has_num | tok0_digit))
    jac = F.when(_nonstop_addr_tokens(ua), F.lit(1.0)).otherwise(F.lit(0.0))
    score = F.when(
        both & identical, F.when(has_num, F.lit(1.0)).otherwise(jac)
    )
    strategy = F.when(
        both & identical, F.when(has_num, "ADDR_CMP").otherwise("ADDR_JAC")
    )
    return decidable, score, strategy


def tax_score_cols(a: Column, b: Column) -> tuple[Column, Column]:
    """Native clone of score_tax (exact / 1-2-digit transpose) — tax needs
    no string router, so EVERY pair scores it JVM-side."""
    present = _present(a) & _present(b)
    da, db = _digits(a), _digits(b)
    have_digits = present & (F.length(da) > 0) & (F.length(db) > 0)
    diffs = F.size(
        F.filter(
            F.zip_with(F.split(da, ""), F.split(db, ""), lambda x, y: x != y),
            lambda v: v,
        )
    )
    trans = F.when(
        F.length(da) == F.length(db),
        F.when(diffs <= 1, 0.9).when(diffs == 2, 0.7).otherwise(0.0),
    ).otherwise(F.lit(0.0))
    score = F.when(have_digits, F.when(da == db, 1.0).otherwise(trans))
    strategy = F.when(
        have_digits,
        F.when(da == db, "TIN_EXACT")
        .when(trans > 0.0, "TIN_TRANS")
        .otherwise("TIN_EXACT"),
    )
    return score, strategy


def phone_score_cols(a: Column, b: Column) -> tuple[Column, Column]:
    """Native-column PHONE_E164 / PHONE_L7 (11_ensemble_udfs.sql:619-626)."""
    da, db = _digits(a), _digits(b)
    both = (F.length(da) > 0) & (F.length(db) > 0) & a.isNotNull() & b.isNotNull()
    e164 = F.when(
        (F.length(da) >= 10) & (F.length(db) >= 10),
        F.when(F.substring(da, -10, 10) == F.substring(db, -10, 10), 1.0).otherwise(0.0),
    ).otherwise(0.0)
    l7 = F.when(
        (F.length(da) >= 7) & (F.length(db) >= 7),
        F.when(F.substring(da, -7, 7) == F.substring(db, -7, 7), 1.0).otherwise(0.0),
    ).otherwise(0.0)
    score = F.when(both, F.greatest(e164, l7))
    strategy = F.when(both, F.when(e164 >= l7, "PHONE_E164").otherwise("PHONE_L7"))
    return score, strategy


def cms_score_cols(a: Column, b: Column) -> tuple[Column, Column]:
    """Native-column CMS_EXACT / CMS_PFX (11_ensemble_udfs.sql:629-635)."""
    ca, cb = F.upper(F.trim(a)), F.upper(F.trim(b))
    both = a.isNotNull() & b.isNotNull() & (F.length(a) > 0) & (F.length(b) > 0)
    exact = F.when(ca == cb, 1.0).otherwise(0.0)
    pfx = F.when(
        (F.length(ca) >= 5) & (F.length(cb) >= 5)
        & (F.substring(ca, 1, 5) == F.substring(cb, 1, 5)),
        0.85,
    ).otherwise(0.0)
    score = F.when(both, F.greatest(exact, pfx))
    strategy = F.when(both, F.when(exact >= pfx, "CMS_EXACT").otherwise("CMS_PFX"))
    return score, strategy


def composite_col(
    name_score: Column, tax_score: Column, addr_score: Column,
    phone_score: Column, cms_score: Column,
) -> Column:
    """Weighted composite renormalized over present (non-null) fields."""
    w = FIELD_WEIGHTS
    pairs = [
        (name_score, w["name"]), (tax_score, w["exact_key_1"]),
        (addr_score, w["address"]), (phone_score, w["phone"]),
        (cms_score, w["exact_key_2"]),
    ]
    num = None
    den = None
    for col, weight in pairs:
        term = F.when(col.isNotNull(), col * F.lit(weight)).otherwise(F.lit(0.0))
        wterm = F.when(col.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return F.when(den > 0, F.round(num / den, 4))


def apply_ensemble(
    pairs: DataFrame, abbrevs: dict[str, str] | None = None
) -> DataFrame:
    """Add ensemble score columns to a rehydrated pair DataFrame.

    Expects columns: name_a/name_b, addr_a/addr_b, exact_key_1_a/_b (tax
    analog), phone_a/phone_b, exact_key_2_a/_b (cms analog). Produces:
    score_name, score_exact_key_1, score_address, score_phone,
    score_exact_key_2 + winning strategies + strategies_used + composite.

    DET/FUZZY split in ONE plan (SURVEY §4, VERDICT r01 item 5): tax, phone
    and cms are scored natively for every row. Rows whose name AND address
    are fast-path decidable (null/empty or provably-1.0 identical) take
    the native name/address values and send NULL inputs to the Arrow
    string-router UDF (a null column crosses the boundary as a validity
    bitmap and the kernel skips it); every other row is scored by the UDF.
    Masking rather than a filter+union keeps the (join-heavy) upstream
    lineage evaluated once. Results are bit-identical to routing every
    row through route_name / route_addr / score_tax (pinned by
    tests/test_ensemble_spark.py).
    """
    udf = make_string_scores_udf(abbrevs)
    tax_s, tax_strat = tax_score_cols(
        F.col("exact_key_1_a"), F.col("exact_key_1_b")
    )
    name_dec, name_s_fast, name_strat_fast = name_fast_path(
        F.col("name_a"), F.col("name_b"), abbrevs
    )
    addr_dec, addr_s_fast, addr_strat_fast = addr_fast_path(
        F.col("addr_a"), F.col("addr_b")
    )
    fast_cond = name_dec & addr_dec

    def _mask(c: Column) -> Column:
        return F.when(~fast_cond, c)

    df = (
        pairs.withColumn(
            "_str",
            udf(
                _mask(F.col("name_a")), _mask(F.col("name_b")),
                _mask(F.col("addr_a")), _mask(F.col("addr_b")),
            ),
        )
        .withColumn(
            "score_name",
            F.when(fast_cond, name_s_fast).otherwise(F.col("_str.name_score")),
        )
        .withColumn(
            "winning_name_strategy",
            F.when(fast_cond, name_strat_fast).otherwise(F.col("_str.name_strategy")),
        )
        .withColumn(
            "score_address",
            F.when(fast_cond, addr_s_fast).otherwise(F.col("_str.addr_score")),
        )
        .withColumn(
            "winning_addr_strategy",
            F.when(fast_cond, addr_strat_fast).otherwise(F.col("_str.addr_strategy")),
        )
        .drop("_str")
    )

    phone_s, phone_strat = phone_score_cols(F.col("phone_a"), F.col("phone_b"))
    cms_s, cms_strat = cms_score_cols(F.col("exact_key_2_a"), F.col("exact_key_2_b"))
    df = (
        df.withColumn("score_exact_key_1", tax_s)
        .withColumn("winning_tax_strategy", tax_strat)
        .withColumn("score_phone", phone_s)
        .withColumn("winning_phone_strategy", phone_strat)
        .withColumn("score_exact_key_2", cms_s)
        .withColumn("winning_cms_strategy", cms_strat)
    )
    # strategies_used in the reference's append order: name, tax, addr,
    # phone, cms (11_ensemble_udfs.sql:589-635).
    df = df.withColumn(
        "strategies_used",
        F.filter(
            F.array(
                F.col("winning_name_strategy"),
                F.col("winning_tax_strategy"),
                F.col("winning_addr_strategy"),
                F.col("winning_phone_strategy"),
                F.col("winning_cms_strategy"),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return df.withColumn(
        "composite",
        composite_col(
            F.col("score_name"), F.col("score_exact_key_1"),
            F.col("score_address"), F.col("score_phone"),
            F.col("score_exact_key_2"),
        ),
    )
