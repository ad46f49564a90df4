"""Double Metaphone phonetic encoding (Lawrence Philips, 2000).

Implemented from the published algorithm description (C/C++ reference in
Dr. Dobb's Journal, June 2000). The reference engine compares double
metaphone codes for short-name phonetic equality
(/root/reference/snowflake/11_ensemble_udfs.sql:48-66, 476-482): two names
are phonetically equal if primary==primary, primary==secondary or
secondary==primary (codes non-empty).

This is a from-scratch implementation covering the full consonant rule set
of the published algorithm (including the Slavo-Germanic branch); a handful
of very exotic sub-rules are simplified, which is documented inline. Codes
are not truncated (the classic implementation truncates at 4; we keep full
codes — equality comparisons only get *stricter*, and our unit tests pin the
behavior we ship).
"""

from __future__ import annotations

VOWELS = frozenset("AEIOUY")


def _is_vowel(s: str, i: int) -> bool:
    return 0 <= i < len(s) and s[i] in VOWELS


def _slavo_germanic(s: str) -> bool:
    return any(x in s for x in ("W", "K", "CZ", "WITZ"))


def double_metaphone(value: str | None) -> tuple[str, str]:
    """Return (primary, secondary) codes; secondary == primary when no
    alternate pronunciation exists (mirrors the common library behavior of
    returning '' — we return the same string and compare on non-empty)."""
    if not value:
        return "", ""
    s = "".join(ch for ch in value.upper() if "A" <= ch <= "Z" or ch == " ")
    s = s.strip()
    if not s:
        return "", ""
    length = len(s)
    last = length - 1
    slavo = _slavo_germanic(s)

    pri: list[str] = []
    sec: list[str] = []

    def add(p: str, a: str | None = None) -> None:
        pri.append(p)
        sec.append(p if a is None else a)

    i = 0
    # Skip silent letters at start.
    if s[:2] in ("GN", "KN", "PN", "WR", "PS"):
        i = 1
    if s[:1] == "X":  # initial X -> S (e.g. Xavier)
        add("S")
        i = 1

    while i < length:
        c = s[i]
        if c in VOWELS:
            if i == 0:
                add("A")
            i += 1
            continue
        if c == " ":
            i += 1
            continue

        if c == "B":
            add("P")
            i += 2 if s[i : i + 2] == "BB" else 1
        elif c == "C":
            # various germanic
            if (
                i > 1
                and not _is_vowel(s, i - 2)
                and s[i - 1 : i + 2] == "ACH"
                and (s[i + 2 : i + 3] != "I" and (s[i + 2 : i + 3] != "E" or s[i - 2 : i + 4] in ("BACHER", "MACHER")))
            ):
                add("K")
                i += 2
            elif i == 0 and s[:6] == "CAESAR":
                add("S")
                i += 2
            elif s[i : i + 4] == "CHIA":
                add("K")
                i += 2
            elif s[i : i + 2] == "CH":
                if i > 0 and s[i : i + 4] == "CHAE":
                    add("K", "X")
                    i += 2
                elif (
                    i == 0
                    and (s[i + 1 : i + 6] in ("HARAC", "HARIS") or s[i + 1 : i + 4] in ("HOR", "HYM", "HIA", "HEM"))
                    and s[:5] != "CHORE"
                ):
                    add("K")
                    i += 2
                elif (
                    s[:4] in ("VAN ", "VON ")
                    or s[:3] == "SCH"
                    or s[i - 2 : i + 4] in ("ORCHES", "ARCHIT", "ORCHID")
                    or s[i + 2 : i + 3] in ("T", "S")
                    or (
                        (s[i - 1 : i] in ("A", "O", "U", "E") or i == 0)
                        and s[i + 2 : i + 3] in ("L", "R", "N", "M", "B", "H", "F", "V", "W", " ")
                    )
                ):
                    add("K")
                    i += 2
                else:
                    if i > 0:
                        if s[:2] == "MC":
                            add("K")
                        else:
                            add("X", "K")
                    else:
                        add("X")
                    i += 2
            elif s[i : i + 2] == "CZ" and s[i - 4 : i + 2] != "WICZ":
                add("S", "X")
                i += 2
            elif s[i + 1 : i + 4] == "CIA":
                add("X")
                i += 3
            elif s[i : i + 2] == "CC" and not (i == 1 and s[0] == "M"):
                if s[i + 2 : i + 3] in ("I", "E", "H") and s[i + 2 : i + 4] != "HU":
                    if (i == 1 and s[0] == "A") or s[i - 1 : i + 4] in ("UCCEE", "UCCES"):
                        add("KS")
                    else:
                        add("X")
                    i += 3
                else:
                    add("K")
                    i += 2
            elif s[i : i + 2] in ("CK", "CG", "CQ"):
                add("K")
                i += 2
            elif s[i : i + 2] in ("CI", "CE", "CY"):
                if s[i : i + 3] in ("CIO", "CIE", "CIA"):
                    add("S", "X")
                else:
                    add("S")
                i += 2
            else:
                add("K")
                if s[i + 1 : i + 3] in (" C", " Q", " G"):
                    i += 3
                elif s[i + 1 : i + 2] in ("C", "K", "Q") and s[i + 1 : i + 3] not in ("CE", "CI"):
                    i += 2
                else:
                    i += 1
        elif c == "D":
            if s[i : i + 2] == "DG":
                if s[i + 2 : i + 3] in ("I", "E", "Y"):
                    add("J")
                    i += 3
                else:
                    add("TK")
                    i += 2
            elif s[i : i + 2] in ("DT", "DD"):
                add("T")
                i += 2
            else:
                add("T")
                i += 1
        elif c == "F":
            add("F")
            i += 2 if s[i + 1 : i + 2] == "F" else 1
        elif c == "G":
            if s[i + 1 : i + 2] == "H":
                if i > 0 and not _is_vowel(s, i - 1):
                    add("K")
                    i += 2
                elif i == 0:
                    if s[i + 2 : i + 3] == "I":
                        add("J")
                    else:
                        add("K")
                    i += 2
                elif (
                    (i > 1 and s[i - 2 : i - 1] in ("B", "H", "D"))
                    or (i > 2 and s[i - 3 : i - 2] in ("B", "H", "D"))
                    or (i > 3 and s[i - 4 : i - 3] in ("B", "H"))
                ):
                    i += 2  # silent GH (e.g. "Hugh")
                else:
                    if i > 2 and s[i - 1] == "U" and s[i - 3 : i - 2] in ("C", "G", "L", "R", "T"):
                        add("F")  # laugh/cough
                    elif i > 0 and s[i - 1] != "I":
                        add("K")
                    i += 2
            elif s[i + 1 : i + 2] == "N":
                if i == 1 and _is_vowel(s, 0) and not slavo:
                    add("KN", "N")
                elif s[i + 2 : i + 4] != "EY" and s[i + 1 :] != "Y" and not slavo:
                    add("N", "KN")
                else:
                    add("KN")
                i += 2
            elif s[i + 1 : i + 3] == "LI" and not slavo:
                add("KL", "L")
                i += 2
            elif i == 0 and (s[i + 1 : i + 2] == "Y" or s[i + 1 : i + 3] in ("ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER")):
                add("K", "J")
                i += 2
            elif (s[i + 1 : i + 3] == "ER" or s[i + 1 : i + 2] == "Y") and s[:6] not in ("DANGER", "RANGER", "MANGER") and s[i - 1 : i] not in ("E", "I") and s[i - 1 : i + 2] not in ("RGY", "OGY"):
                add("K", "J")
                i += 2
            elif s[i + 1 : i + 2] in ("E", "I", "Y") or s[i - 1 : i + 3] in ("AGGI", "OGGI"):
                if s[:4] in ("VAN ", "VON ") or s[:3] == "SCH" or s[i + 1 : i + 3] == "ET":
                    add("K")
                elif s[i + 1 : i + 5] == "IER ":
                    add("J")
                else:
                    add("J", "K")
                i += 2
            else:
                add("K")
                i += 2 if s[i + 1 : i + 2] == "G" else 1
        elif c == "H":
            # only keep if first & before vowel or between 2 vowels
            if (i == 0 or _is_vowel(s, i - 1)) and _is_vowel(s, i + 1):
                add("H")
                i += 2
            else:
                i += 1
        elif c == "J":
            if s[i : i + 4] == "JOSE" or s[:4] == "SAN ":
                if (i == 0 and s[i + 4 : i + 5] == " ") or s[:4] == "SAN ":
                    add("H")
                else:
                    add("J", "H")
                i += 1
            else:
                if i == 0 and s[i : i + 4] != "JOSE":
                    add("J", "A")
                elif _is_vowel(s, i - 1) and not slavo and s[i + 1 : i + 2] in ("A", "O"):
                    add("J", "H")
                elif i == last:
                    add("J", "")
                elif s[i + 1 : i + 2] not in ("L", "T", "K", "S", "N", "M", "B", "Z") and s[i - 1 : i] not in ("S", "K", "L"):
                    add("J")
                i += 2 if s[i + 1 : i + 2] == "J" else 1
        elif c == "K":
            add("K")
            i += 2 if s[i + 1 : i + 2] == "K" else 1
        elif c == "L":
            if s[i + 1 : i + 2] == "L":
                # spanish e.g. 'cabrillo', 'gallegos'
                if (i == length - 3 and s[i - 1 : i + 3] in ("ILLO", "ILLA", "ALLE")) or (
                    (s[last - 1 : last + 1] in ("AS", "OS") or s[last] in ("A", "O")) and s[i - 1 : i + 3] == "ALLE"
                ):
                    add("L", "")
                    i += 2
                else:
                    add("L")
                    i += 2
            else:
                add("L")
                i += 1
        elif c == "M":
            add("M")
            if (s[i - 1 : i + 2] == "UMB" and (i + 1 == last or s[i + 2 : i + 4] == "ER")) or s[i + 1 : i + 2] == "M":
                i += 2
            else:
                i += 1
        elif c == "N":
            add("N")
            i += 2 if s[i + 1 : i + 2] == "N" else 1
        elif c == "P":
            if s[i + 1 : i + 2] == "H":
                add("F")
                i += 2
            else:
                add("P")
                i += 2 if s[i + 1 : i + 2] in ("P", "B") else 1
        elif c == "Q":
            add("K")
            i += 2 if s[i + 1 : i + 2] == "Q" else 1
        elif c == "R":
            if i == last and not slavo and s[i - 2 : i] == "IE" and s[i - 4 : i - 2] not in ("ME", "MA"):
                add("", "R")
            else:
                add("R")
            i += 2 if s[i + 1 : i + 2] == "R" else 1
        elif c == "S":
            if s[i - 1 : i + 2] in ("ISL", "YSL"):
                i += 1  # silent (island)
            elif i == 0 and s[:5] == "SUGAR":
                add("X", "S")
                i += 1
            elif s[i : i + 2] == "SH":
                if s[i + 1 : i + 5] in ("HEIM", "HOEK", "HOLM", "HOLZ"):
                    add("S")
                else:
                    add("X")
                i += 2
            elif s[i : i + 3] in ("SIO", "SIA") or s[i : i + 4] == "SIAN":
                add("S" if not slavo else "X", "X" if not slavo else None)
                i += 3
            elif (i == 0 and s[i + 1 : i + 2] in ("M", "N", "L", "W")) or s[i + 1 : i + 2] == "Z":
                add("S", "X")
                i += 2 if s[i + 1 : i + 2] == "Z" else 1
            elif s[i : i + 2] == "SC":
                if s[i + 2 : i + 3] == "H":
                    if s[i + 3 : i + 5] in ("OO", "ER", "EN", "UY", "ED", "EM"):
                        if s[i + 3 : i + 5] in ("ER", "EN"):
                            add("X", "SK")
                        else:
                            add("SK")
                    else:
                        if i == 0 and not _is_vowel(s, 3) and s[3:4] != "W":
                            add("X", "S")
                        else:
                            add("X")
                    i += 3
                elif s[i + 2 : i + 3] in ("I", "E", "Y"):
                    add("S")
                    i += 3
                else:
                    add("SK")
                    i += 3
            elif i == last and s[i - 2 : i] in ("AI", "OI"):
                add("", "S")
                i += 1
            else:
                add("S")
                i += 2 if s[i + 1 : i + 2] in ("S", "Z") else 1
        elif c == "T":
            if s[i : i + 4] == "TION" or s[i : i + 3] in ("TIA", "TCH"):
                add("X")
                i += 3
            elif s[i : i + 2] == "TH" or s[i : i + 3] == "TTH":
                if s[i + 2 : i + 4] in ("OM", "AM") or s[:4] in ("VAN ", "VON ") or s[:3] == "SCH":
                    add("T")
                else:
                    add("0", "T")
                i += 2
            else:
                add("T")
                i += 2 if s[i + 1 : i + 2] in ("T", "D") else 1
        elif c == "V":
            add("F")
            i += 2 if s[i + 1 : i + 2] == "V" else 1
        elif c == "W":
            if s[i : i + 2] == "WR":
                add("R")
                i += 2
            elif i == 0 and (_is_vowel(s, i + 1) or s[i : i + 2] == "WH"):
                if _is_vowel(s, i + 1):
                    add("A", "F")
                else:
                    add("A")
                i += 1
            elif (i == last and _is_vowel(s, i - 1)) or s[i - 1 : i + 4] in ("EWSKI", "EWSKY", "OWSKI", "OWSKY") or s[:3] == "SCH":
                add("", "F")
                i += 1
            elif s[i : i + 4] in ("WICZ", "WITZ"):
                add("TS", "FX")
                i += 4
            else:
                i += 1
        elif c == "X":
            if not (i == last and (s[i - 3 : i] in ("IAU", "EAU") or s[i - 2 : i] in ("AU", "OU"))):
                add("KS")
            i += 2 if s[i + 1 : i + 2] in ("C", "X") else 1
        elif c == "Z":
            if s[i + 1 : i + 2] == "H":
                add("J")
                i += 2
            else:
                if s[i + 1 : i + 3] in ("ZO", "ZI", "ZA") or (slavo and i > 0 and s[i - 1 : i] != "T"):
                    add("S", "TS")
                else:
                    add("S")
                i += 2 if s[i + 1 : i + 2] == "Z" else 1
        else:
            i += 1

    primary = "".join(pri)
    secondary = "".join(sec)
    return primary, secondary


def phonetic_equal(a: str | None, b: str | None) -> float:
    """Cross-compare primary/secondary codes -> 1.0/0.0
    (11_ensemble_udfs.sql:476-482 semantics)."""
    if not a or not b:
        return 0.0
    pa, sa = double_metaphone(a)
    pb, sb = double_metaphone(b)
    if (pa and pb and pa == pb) or (pa and sb and pa == sb) or (sa and pb and sa == pb):
        return 1.0
    return 0.0
