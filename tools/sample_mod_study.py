"""Empirical study of duplicate_span_signals' shuffle-thinning knobs.

VERDICT r04 item 7: the ``anchor="token"`` + ``sample_mod=p`` corpus-scale
mode is oracled for correctness, but no measurement showed (a) the actual
shuffle-row reduction each knob buys, or (b) the empirical miss rate of
the 1/p hash sampling against its analytical bound (a duplicated region
containing m anchored windows is missed with probability (1 - 1/p)^m).

This tool builds a seeded corpus with PLANTED duplicated passages of
varied lengths, then for p in {1, 4, 16} measures on the operator's own
code path (_dup_span_windows — the exploded frame whose row count IS the
shuffle volume):

  * exploded window rows (char-anchor baseline vs token anchor vs each p)
  * detected planted duplicates: a plant is "detected" when BOTH docs
    carrying the passage report n_dup_spans > 0 from it — measured on a
    corpus whose background text is globally unique so every detection is
    attributable to a plant
  * the analytical miss bound for each plant length, next to the observed
    outcome
  * wall time per configuration

Writes BENCH/sample_mod_study.json and prints the summary line.

Usage: python tools/sample_mod_study.py [n_docs] [n_plants]
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()

SPAN_LEN = 20


def build_corpus(n_docs: int, n_plants: int, seed: int = 42):
    """n_docs docs of globally-unique filler (every word carries the doc id
    and position, so no accidental cross-doc window repeats); n_plants
    passages, each planted into exactly TWO docs at different, arbitrary
    offsets (the offset-shift case the content-defined anchor must survive).
    Each doc carries AT MOST ONE plant so a detection is attributable to
    exactly that plant. Plant lengths cycle through short/medium/long so
    the (1-1/p)^m bound is exercised where it is weakest (few windows) and
    strongest (many)."""
    assert n_docs >= 2 * n_plants, "need two dedicated docs per plant"
    rng = random.Random(seed)
    plant_words = {}
    for k in range(n_plants):
        n_w = (6, 18, 60)[k % 3]  # ~45 / ~130 / ~430 chars
        plant_words[k] = [
            f"{rng.choice(WORDS)}{k}p{j}" for j in range(n_w)
        ]
    docs = []
    plant_docs = {}
    for i in range(n_docs):
        body = [f"{rng.choice(WORDS)}d{i}w{j}" for j in range(120)]
        docs.append((i, body))
    pool = list(range(n_docs))
    rng.shuffle(pool)
    for k in range(n_plants):
        a, b = pool.pop(), pool.pop()
        for d in (a, b):
            pos = rng.randrange(10, 100)
            docs[d] = (docs[d][0], docs[d][1][:pos] + plant_words[k] + docs[d][1][pos:])
        plant_docs[k] = (a, b)
    rows = [(i, " ".join(body)) for i, body in docs]
    plant_text = {k: " ".join(w) for k, w in plant_words.items()}
    return rows, plant_docs, plant_text


def m_anchored_windows(words: list[str], span_len: int) -> int:
    """Token-anchored windows fully inside the plant: every plant word
    starts at a space-preceded offset in the final doc, so each word-start
    offset c with c + span_len <= len(plant) yields one window whose
    content is identical in both copies (conservative: windows reaching
    into the shared trailing space are ignored)."""
    text_len = len(" ".join(words))
    offs, c = [], 0
    for w in words:
        offs.append(c)
        c += len(w) + 1
    return sum(1 for o in offs if o + span_len <= text_len)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_plants = int(sys.argv[2]) if len(sys.argv) > 2 else 300

    from payor_mdm_spark.operators.text_analysis import (
        _dup_span_windows,
        duplicate_span_signals,
    )
    from payor_mdm_spark.session import get_spark

    spark = get_spark(
        app_name="sample-mod-study", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows, plant_docs, plant_text = build_corpus(n_docs, n_plants)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs = docs.repartition(8).cache()
    docs.count()

    m_windows = {
        k: m_anchored_windows(plant_text[k].split(" "), SPAN_LEN)
        for k in plant_text
    }

    configs = [("char", 1), ("token", 1), ("token", 4), ("token", 16)]
    results = []
    for anchor, p in configs:
        t0 = time.time()
        n_rows = _dup_span_windows(
            docs, SPAN_LEN, "doc_id", "text", anchor, p
        ).count()
        t_rows = time.time() - t0
        t0 = time.time()
        sig = {
            r.doc_id: r.n_dup_spans
            for r in duplicate_span_signals(
                docs, span_len=SPAN_LEN, anchor=anchor, sample_mod=p
            ).collect()
        }
        t_sig = time.time() - t0
        detected = missed = 0
        missed_by_len: dict[int, int] = {}
        total_by_len: dict[int, int] = {}
        for k, (a, b) in plant_docs.items():
            m = m_windows[k]
            total_by_len[m] = total_by_len.get(m, 0) + 1
            if sig.get(a, 0) > 0 and sig.get(b, 0) > 0:
                detected += 1
            else:
                missed += 1
                missed_by_len[m] = missed_by_len.get(m, 0) + 1
        bound = {
            str(m): round((1 - 1 / p) ** m, 6) if p > 1 else 0.0
            for m in sorted(total_by_len)
        }
        results.append(
            {
                "anchor": anchor,
                "sample_mod": p,
                "exploded_rows": n_rows,
                "rows_vs_char_baseline": None,
                "wall_rows_sec": round(t_rows, 2),
                "wall_signals_sec": round(t_sig, 2),
                "plants_total": n_plants,
                "plants_detected": detected,
                "plants_missed": missed,
                "missed_by_m_windows": {
                    str(m): missed_by_len.get(m, 0) for m in sorted(total_by_len)
                },
                "analytical_miss_bound_by_m": bound,
            }
        )
        print(results[-1], file=sys.stderr)

    base = results[0]["exploded_rows"]
    for r in results:
        r["rows_vs_char_baseline"] = round(r["exploded_rows"] / base, 4)

    out = {
        "n_docs": n_docs,
        "n_plants": n_plants,
        "span_len": SPAN_LEN,
        "plants_per_m": {
            str(m): sum(1 for k in m_windows if m_windows[k] == m)
            for m in sorted(set(m_windows.values()))
        },
        "configs": results,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "sample_mod_study.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
