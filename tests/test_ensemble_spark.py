"""Spark ensemble output vs the pure-Python kernels (oracle parity) and
reference routing behaviors (11_ensemble_udfs.sql:530-641)."""

import pytest
from pyspark.sql import functions as F

from payor_mdm_spark.functions import similarity as sim
from payor_mdm_spark.functions.ensemble import apply_ensemble, route_addr, route_name

PAIRS = [
    # name_a, name_b, tax_a, tax_b, addr_a, addr_b, phone_a, phone_b, cms_a, cms_b
    ("BCBS OF TEXAS", "BLUE CROSS BLUE SHIELD OF TEXAS", "123456789",
     "123456789", "100 MAIN ST DALLAS TX 75201", "100 MAIN STREET DALLAS TX 75201",
     "2145551234", "2145551234", "H1234-001", "H1234-001"),
    ("AETNA", "ETNA", None, None, None, None, None, None, None, None),
    ("KAISER PERMANENTE", "KAISER PERMANENTE OF GEORGIA", "111111111",
     "111111112", "1 PIEDMONT AVE ATLANTA GA 30303", "99 OTHER RD MACON GA 31201",
     "4045551234", "4785559999", None, None),
    ("SHORT", "A MUCH LONGER ENTITY NAME THAN THAT", None, None,
     "5 OAK AVE", "5 OAK AVENUE", "5551234", "5551234", "H9", "H9"),
    (None, "X", "123456789", "123456798", None, None, None, None, "H1234-001", "H1299-005"),
]

_SCHEMA = (
    "name_a string, name_b string, exact_key_1_a string, exact_key_1_b string, "
    "addr_a string, addr_b string, phone_a string, phone_b string, "
    "exact_key_2_a string, exact_key_2_b string"
)


@pytest.fixture(scope="module")
def scored(spark):
    # the DET/FUZZY split unions two branches, so output order is not input
    # order — carry an index and sort the collect back to PAIRS order
    rows = [(i, *p) for i, p in enumerate(PAIRS)]
    df = spark.createDataFrame(rows, "_i int, " + _SCHEMA)
    return sorted(apply_ensemble(df).collect(), key=lambda r: r._i)


def test_name_scores_match_python_router(scored):
    for row, p in zip(scored, PAIRS):
        na, nb = p[0], p[1]
        if na and nb:
            want, strat = route_name(na.upper().strip(), nb.upper().strip())
            assert row.score_name == pytest.approx(want, abs=1e-9)
            assert row.winning_name_strategy == strat
        else:
            assert row.score_name is None


def test_addr_scores_match_python_router(scored):
    for row, p in zip(scored, PAIRS):
        aa, ab = p[4], p[5]
        if aa and ab:
            want, strat = route_addr(aa.upper().strip(), ab.upper().strip())
            assert row.score_address == pytest.approx(want, abs=1e-9)
            assert row.winning_addr_strategy == strat


def test_digit_field_scores(scored):
    for row, p in zip(scored, PAIRS):
        tax = sim.taxid_exact(p[2], p[3])
        if tax == 0.0:
            tax = max(0.0, sim.taxid_transpose(p[2], p[3]) or 0.0)
        if p[2] and p[3]:
            assert row.score_exact_key_1 == pytest.approx(tax, abs=1e-9)
        phone = sim.phone_e164(p[6], p[7])
        if p[6] and p[7]:
            assert row.score_phone == pytest.approx(
                max(phone or 0.0, sim.phone_last7(p[6], p[7]) or 0.0), abs=1e-9
            )
        cms = sim.cms_exact(p[8], p[9])
        if p[8] and p[9]:
            assert row.score_exact_key_2 == pytest.approx(
                max(cms or 0.0, sim.cms_prefix(p[8], p[9]) or 0.0), abs=1e-9
            )


def test_composite_weighting_renormalizes(scored):
    from payor_mdm_spark.config import FIELD_WEIGHTS

    w = FIELD_WEIGHTS
    for row in scored:
        present = []
        if row.score_name is not None:
            present.append((row.score_name, w["name"]))
        if row.score_exact_key_1 is not None:
            present.append((row.score_exact_key_1, w["exact_key_1"]))
        if row.score_address is not None:
            present.append((row.score_address, w["address"]))
        if row.score_phone is not None:
            present.append((row.score_phone, w["phone"]))
        if row.score_exact_key_2 is not None:
            present.append((row.score_exact_key_2, w["exact_key_2"]))
        if not present:
            assert row.composite is None
            continue
        want = sum(s * ww for s, ww in present) / sum(ww for _, ww in present)
        assert row.composite == pytest.approx(want, abs=5e-5)  # 4dp rounding


def test_abbrev_pair_routes_to_abr(scored):
    row = scored[0]
    assert row.winning_name_strategy == "NAME_ABR"
    assert row.score_name == 1.0


def test_short_name_routes_to_phonetic(scored):
    row = scored[1]  # AETNA vs ETNA, maxlen <= 20, no abbrevs
    assert row.winning_name_strategy in ("NAME_PHO", "NAME_JW", "NAME_NGR")
    assert row.score_name == 1.0  # double-metaphone equal -> 1.0 wins


def test_len_ratio_routes_to_tsr(scored):
    row = scored[3]  # SHORT vs much longer -> len_ratio < 0.6
    assert row.winning_name_strategy in ("NAME_TSR", "NAME_ABR")


def test_identical_fast_path_matches_full_router(spark):
    """The native identical-string fast path must agree with route_name /
    route_addr exactly."""
    cases = [
        ("BCBS OF TEXAS", "100 MAIN ST DALLAS TX"),
        ("ACME HEALTH PLAN", "SUITE ST AVE"),          # all-stopword addr
        ("SHORT", "42 OAK"),
        ("A VERY LONG ENTITY NAME WITHOUT ABBREVS", "9-B ELM STREET"),
    ]
    rows = [(n, n, None, None, a, a, None, None, None, None) for n, a in cases]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = apply_ensemble(df).collect()
    for row, (n, a) in zip(got, cases):
        want_s, want_strat = route_name(n.upper().strip(), n.upper().strip())
        assert row.score_name == want_s == 1.0
        assert row.winning_name_strategy == want_strat
        want_s, want_strat = route_addr(a.upper().strip(), a.upper().strip())
        assert row.score_address == want_s
        assert row.winning_addr_strategy == want_strat


def test_strategies_used_order(scored):
    # reference append order: name, tax, addr, phone, cms
    row = scored[0]
    assert row.strategies_used[0].startswith("NAME_")
    assert "TIN_EXACT" in row.strategies_used


EDGE_PAIRS = [
    # identical names with/without abbrev tokens; identical addrs with and
    # without street numbers; whitespace-only; empty; stopword-only addrs;
    # tax exact / 1-transpose / 2-diff / length-mismatch / non-digit
    ("BCBS OF OHIO", "BCBS OF OHIO", "12-3456789", "123456789",
     "100 MAIN ST", "100 MAIN ST", "5551234", "5551234", "H1", "H1"),
    ("ACME HEALTH", "ACME HEALTH", "123456789", "123456798",
     "MAIN PLAZA", "MAIN PLAZA", None, None, None, None),
    ("ACME", "ACME", "123456789", "123456700", "STE", "STE", "1", "1", "", ""),
    ("A", "A", "12345", "1234", "SUITE ST.", "SUITE ST.", None, None, "H", "H"),
    (" ", " ", "ABC", "DEF", " ", " ", "x", "y", None, "H2"),
    ("", "", "", "", "", "", "", "", "", ""),
    ("ACME HEALTH", "ACME  HEALTH", None, None, "100 MAIN", "100  MAIN",
     None, None, None, None),  # double space -> NOT identical -> UDF
    ("UNITED", "UNITEDX", "999", "999", "9-9 OAK", "9-9 OAK", "77", "77", "C", "C"),
    (None, None, None, None, None, None, None, None, None, None),
]


_ROUTED = [
    "score_name", "winning_name_strategy", "score_address",
    "winning_addr_strategy", "score_exact_key_1", "winning_tax_strategy",
]


def _plan_vs_kernel(spark, rows):
    """apply_ensemble's routed columns next to a local reference that sends
    EVERY row through the Python kernel and score_tax (no native fast
    path), both in input order (pandas NaN compared as None)."""
    import pandas as pd

    from payor_mdm_spark.functions.ensemble import _string_scores_batch, score_tax

    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "_i int, " + _SCHEMA
    )
    got = [[r[c] for c in _ROUTED]
           for r in sorted(apply_ensemble(df).collect(), key=lambda r: r._i)]

    def col(k):
        return pd.Series([r[k] for r in rows], dtype=object)

    out = _string_scores_batch(col(0), col(1), col(4), col(5))
    out = out.astype(object).where(out.notna(), None)
    want = [
        [o.name_score, o.name_strategy, o.addr_score, o.addr_strategy,
         *score_tax(r[2], r[3])]
        for o, r in zip(out.itertuples(), rows)
    ]
    return got, want


def test_split_fast_path_equivalence(spark):
    """The DET/FUZZY split must be bit-identical to routing every row
    through the kernel and score_tax (VERDICT r01 item 5)."""
    got, want = _plan_vs_kernel(spark, PAIRS + EDGE_PAIRS)
    assert got == want


def test_split_fast_path_skips_udf_for_det3_shape(spark):
    """Identical-name identical-numbered-addr pairs (the DET-3 shape) must
    be fast-path decidable, and the split plan must keep a SINGLE Arrow
    UDF node over a single branch (r06: fast rows are masked to NULL UDF
    inputs rather than filtered into a second Union branch, so the
    upstream lineage is never evaluated twice)."""
    from payor_mdm_spark.functions.ensemble import addr_fast_path, name_fast_path

    df = spark.createDataFrame(PAIRS + EDGE_PAIRS, _SCHEMA)
    name_dec, _, _ = name_fast_path(F.col("name_a"), F.col("name_b"))
    addr_dec, _, _ = addr_fast_path(F.col("addr_a"), F.col("addr_b"))
    fast = df.filter(name_dec & addr_dec)
    n_fast = fast.count()
    assert n_fast >= 6  # identical/null-field rows are decidable natively
    # the DET-3 canonical shape is decidable
    det3 = spark.createDataFrame(
        [("ACME HEALTH PLAN", "ACME HEALTH PLAN", None, None,
          "12 OAK ST", "12 OAK ST", None, None, None, None)], _SCHEMA
    )
    assert det3.filter(name_dec & addr_dec).count() == 1

    plan = (
        apply_ensemble(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1  # exactly one Python node
    # single-branch plan: the pair lineage must appear ONCE (no Union of a
    # fast and a slow branch re-executing the upstream joins)
    assert "Union" not in plan


def test_split_equivalence_whitespace_torture(spark):
    """Exotic whitespace (tabs, NBSP, controls, whitespace-only values)
    must NOT diverge between the native fast path and the per-row kernel
    reference — the _fastpath_clean guard routes anything Python's
    strip()/split() would treat differently to the UDF."""
    ws_names = [
        "\t", "  ", "\xa0", "A\t", "\tA", "A\xa0", "\xa0BCBS",
        "BCBS\xa0OF TEXAS", "BCBS\x1cOF", "A  B", "A\x85B", "BCBS ",
    ]
    ws_addrs = [
        "\t", "12\xa0MAIN ST", "\t123 OAK", "ABCDEFGHI1 X", "STE\xa0",
        "9-9\x1cOAK", "  12 MAIN", "MAIN\tPLAZA",
    ]
    rows = []
    for nm in ws_names:
        for ad in ws_addrs:
            rows.append((nm, nm, None, None, ad, ad, None, None, None, None))
    # also non-identical exotic pairs (must go to UDF and agree trivially)
    rows += [(a, b, None, None, None, None, None, None, None, None)
             for a in ws_names[:4] for b in ws_names[4:8]]
    got, want = _plan_vs_kernel(spark, rows)
    assert got == want


def test_split_equivalence_seeded_fuzz(spark):
    """500 seeded random pairs over an exotic alphabet (unicode whitespace,
    controls, CJK punctuation, digit/stopword fragments): the plan must
    agree with the per-row kernel reference on every score and strategy."""
    import random

    rng = random.Random(1234)
    alpha = list("ABCZ019 -.") + ["\t", "\xa0", "\x1c", "\x85", "Ü", "，", "  "]
    words = ["BCBS", "ACME", "ST", "STE", "12", "9-9", "MAIN", "", " "]

    def rand_str():
        kind = rng.random()
        if kind < 0.15:
            return None
        if kind < 0.25:
            return ""
        parts = []
        for _ in range(rng.randint(1, 6)):
            if rng.random() < 0.5:
                parts.append(rng.choice(words))
            else:
                parts.append("".join(rng.choice(alpha) for _ in range(rng.randint(1, 8))))
        return rng.choice(["", " ", "\t", "\xa0"]).join(parts)

    rows = []
    for _ in range(500):
        a = rand_str()
        b = a if rng.random() < 0.5 else rand_str()
        ta = rng.choice([None, "", "12-3456789", "123456789", "12345678", "ABC", "1 2 3"])
        tb = rng.choice([None, "", "12-3456789", "123456798", "12345678", "ABC"])
        aa = rand_str()
        ab = aa if rng.random() < 0.6 else rand_str()
        rows.append((a, b, ta, tb, aa, ab, None, None, None, None))

    got, want = _plan_vs_kernel(spark, rows)
    assert got == want
