"""Scalar string-similarity kernels.

These are the per-value kernels batched inside Arrow-vectorized pandas UDFs
(see functions/ensemble.py). Each mirrors one strategy UDF of the reference
engine (/root/reference/snowflake/11_ensemble_udfs.sql) — same algorithms,
re-implemented from their public definitions:

* Jaro-Winkler  — standard Winkler variant (boost only when jaro > 0.7,
  prefix capped at 4, p = 0.1), matching the jellyfish/DuckDB semantics the
  reference relies on (11_ensemble_udfs.sql:17-29).
* token_sort_ratio — difflib.SequenceMatcher ratio over space-sorted tokens
  (11_ensemble_udfs.sql:32-45). NOTE: SequenceMatcher.ratio() is Ratcliff/
  Obershelp, not Levenshtein ratio — semantics pinned by unit tests.
* trigram cosine (11_ensemble_udfs.sql:100-123)
* token Jaccard with address stopwords (11_ensemble_udfs.sql:130-145)
* address component / USPS-normalized / zip-blend scores
  (11_ensemble_udfs.sql:148-229)
* digit-field kernels: exact / transpose / prefix for tax-ids, e164 / last-7
  / areacode for phones, exact / prefix-5 for cms ids
  (11_ensemble_udfs.sql:236-399)
"""

from __future__ import annotations

import math
import re
from collections import Counter
from difflib import SequenceMatcher

from payor_mdm_spark.config import ABBREVS, ADDR_STOPS, STREET_NORMS
from payor_mdm_spark.functions.native_kernels import (
    native_jaro_winkler,
    native_trigram_cosine,
)

_DIGITS_RE = re.compile(r"[^0-9]")


def digits_only(s: str | None) -> str:
    return _DIGITS_RE.sub("", s) if s else ""


# ---------------------------------------------------------------------------
# Jaro / Jaro-Winkler
# ---------------------------------------------------------------------------

def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    search = max(la, lb) // 2 - 1
    if search < 0:
        search = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - search)
        hi = min(i + search + 1, lb)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                a_flags[i] = b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: compare matched characters in order
    t = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / la + matches / lb + (matches - t) / matches) / 3.0


def jaro_winkler(a: str | None, b: str | None) -> float | None:
    """Winkler prefix boost applied only when jaro > 0.7 (jellyfish
    semantics; verified against DuckDB's jaro_winkler_similarity).

    Dispatches to the self-compiled C kernel for ASCII inputs (bit-identical
    by construction and by property test); pure Python otherwise."""
    if a is None or b is None:
        return None

    n = native_jaro_winkler(a, b)
    if n is not None:
        return n
    j = jaro(a, b)
    if j > 0.7:
        prefix = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca != cb:
                break
            prefix += 1
        j += prefix * 0.1 * (1.0 - j)
    return j


# ---------------------------------------------------------------------------
# Name strategies
# ---------------------------------------------------------------------------

def name_jw(a: str, b: str) -> float:
    return round(jaro_winkler(a, b), 4)


def _token_sorted(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(a: str, b: str) -> float:
    return round(
        SequenceMatcher(None, _token_sorted(a), _token_sorted(b)).ratio(), 4
    )


def expand_abbrevs(name: str, abbrevs: dict[str, str] | None = None) -> str:
    """Expand abbreviation tokens against an explicit table
    (ABBREVIATION_DICT-as-data, 12_abbreviation_dict.sql:49-75 — stewards
    extend the dict without a code change). None -> config.ABBREVS."""
    table = ABBREVS if abbrevs is None else abbrevs
    return " ".join(table.get(t, t) for t in name.split())


def name_abr(a: str, b: str, abbrevs: dict[str, str] | None = None) -> float:
    return round(
        jaro_winkler(expand_abbrevs(a, abbrevs), expand_abbrevs(b, abbrevs)),
        4,
    )


def _ngrams(s: str, n: int = 3) -> list[str]:
    return [s[i : i + n] for i in range(len(s) - n + 1)] if len(s) >= n else [s]


def _trigram_profile(s: str) -> tuple[Counter, float]:
    c = Counter(_ngrams(s))
    return c, math.sqrt(sum(v * v for v in c.values()))


def trigram_cosine(a: str, b: str) -> float:
    n = native_trigram_cosine(a, b)
    if n is not None:
        return round(n, 4)
    ga, ma = _trigram_profile(a)
    gb, mb = _trigram_profile(b)
    if len(gb) < len(ga):
        ga, gb = gb, ga
    dot = sum(v * gb[g] for g, v in ga.items() if g in gb)
    return round(dot / (ma * mb), 4) if ma and mb else 0.0


# ---------------------------------------------------------------------------
# Address strategies
# ---------------------------------------------------------------------------

def _addr_tokens(a: str) -> set[str]:
    return {t.rstrip(".,") for t in a.split()} - ADDR_STOPS


def addr_jaccard(a: str, b: str) -> float:
    ta, tb = _addr_tokens(a), _addr_tokens(b)
    u = ta | tb
    return round(len(ta & tb) / len(u), 4) if u else 0.0


def _addr_parse(addr: str) -> dict[str, str]:
    tok = addr.split()
    r: dict[str, str] = {}
    if tok and tok[0].replace("-", "").isdigit():
        r["num"] = tok[0]
        tok = tok[1:]
    r["name"] = " ".join(t for t in tok[:3] if t not in ADDR_STOPS)
    return r


def addr_component(
    a: str, b: str,
    jw_num: float | None = None, jw_name: float | None = None,
    ca: dict[str, str] | None = None, cb: dict[str, str] | None = None,
) -> float:
    """``jw_num``/``jw_name`` are optional RAW Jaro-Winkler scores for the
    parsed (num, name) component pairs, precomputed by the batched C
    kernel (functions/ensemble.py) — bit-identical to calling
    jaro_winkler here. ``ca``/``cb``: optional pre-parsed components (the
    batch kernel parses each distinct address STRING once)."""
    if ca is None:
        ca = _addr_parse(a)
    if cb is None:
        cb = _addr_parse(b)
    tw, sc = 0.0, 0.0
    for comp, w, pre in (("num", 0.3, jw_num), ("name", 0.3, jw_name)):
        va, vb = ca.get(comp, ""), cb.get(comp, "")
        if va and vb:
            tw += w
            if va == vb:
                sc += w
            else:
                sc += w * (pre if pre is not None else jaro_winkler(va, vb))
    return round(sc / tw, 4) if tw > 0 else 0.0


def usps_normalize(addr: str) -> str:
    return " ".join(STREET_NORMS.get(t, t) for t in addr.split())


def addr_normalized(a: str, b: str, jw: float | None = None,
                    na: str | None = None, nb: str | None = None) -> float:
    """``na``/``nb``: optional pre-normalized strings (computed once per
    distinct address string by the batch kernel)."""
    if na is None:
        na = usps_normalize(a)
    if nb is None:
        nb = usps_normalize(b)
    if na == nb:
        return 1.0
    return round(jw if jw is not None else jaro_winkler(na, nb), 4)


def addr_zip_blend(addr_a: str | None, addr_b: str | None,
                   zip_a: str | None, zip_b: str | None) -> float | None:
    """ADDR_ZIP strategy (11_ensemble_udfs.sql:183-203): defined by the
    reference but not routed by the ensemble; kept for surface parity."""
    if not zip_a or not zip_b:
        return None
    zip_score = 1.0 if zip_a == zip_b else (0.5 if zip_a[:3] == zip_b[:3] else 0.0)
    jac = addr_jaccard(addr_a.upper(), addr_b.upper()) if addr_a and addr_b else 0.0
    return zip_score * 0.5 + jac * 0.5


# ---------------------------------------------------------------------------
# Digit-field strategies (tax-id / phone / cms analogs)
# ---------------------------------------------------------------------------

def taxid_exact(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    return 1.0 if da and db and da == db else 0.0


def taxid_transpose(a: str | None, b: str | None) -> float | None:
    """Positional digit-diff score: <=1 diff -> 0.9, ==2 -> 0.7
    (11_ensemble_udfs.sql:276-300)."""
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    if not da or not db:
        return None
    if da == db:
        return 1.0
    if len(da) != len(db):
        return 0.0
    diffs = sum(1 for x, y in zip(da, db) if x != y)
    if diffs <= 1:
        return 0.9
    if diffs == 2:
        return 0.7
    return 0.0


def taxid_prefix(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    if not da or not db or len(da) < 5 or len(db) < 5:
        return None
    if da[:2] != db[:2]:
        return 0.0
    matching = sum(1 for x, y in zip(da[2:], db[2:]) if x == y)
    return 0.6 if matching >= 5 else 0.3


def phone_e164(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    if len(da) >= 10 and len(db) >= 10:
        return 1.0 if da[-10:] == db[-10:] else 0.0
    if len(da) >= 7 and len(db) >= 7:
        return 1.0 if da[-7:] == db[-7:] else 0.0
    return 0.0


def phone_last7(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    if len(da) >= 7 and len(db) >= 7:
        return 1.0 if da[-7:] == db[-7:] else 0.0
    return 0.0


def phone_areacode(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    da, db = digits_only(a), digits_only(b)
    if len(da) >= 10 and len(db) >= 10:
        ac = da[-10:-7] == db[-10:-7]
        last4 = da[-4:] == db[-4:]
        if ac and last4:
            return 0.8
        if ac:
            return 0.3
    return 0.0


def cms_exact(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    return 1.0 if a.strip().upper() == b.strip().upper() else 0.0


def cms_prefix(a: str | None, b: str | None) -> float | None:
    if not a or not b:
        return None
    ca, cb = a.strip().upper(), b.strip().upper()
    if len(ca) >= 5 and len(cb) >= 5 and ca[:5] == cb[:5]:
        return 0.85
    return 0.0
