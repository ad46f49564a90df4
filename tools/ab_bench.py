"""Interleaved A/B benchmark: two checkouts, one host session.

VERDICT r04 item 2: every shared bench query slowed ~20-40% between the
round-3 and round-4 snapshots with no hot-path plan change; the builder's
evidence (disk throttling, 2-3x run-to-run variance) pointed at the host,
but "probably host noise" is not evidence. This tool runs the SAME bench
harness (HEAD's bench.py, tmpfs I/O) against checkout A and checkout B
alternately — A,B,B,A,A,B... — within one host session, so any host-level
drift hits both arms equally, and reports the per-query median delta next
to the within-arm spread. If |median delta| <= the within-arm spread, the
regression was host noise; otherwise the culprit is in the code diff.

The harness confound is removed by running HEAD's bench.py in BOTH
checkouts (each importing its own payor_mdm_spark); queries only one side
has are guarded out, and I/O is tmpfs in both arms.

Usage: python tools/ab_bench.py <checkoutA> [checkoutB=this checkout] [reps=3]
Writes BENCH/ab_r3_r4.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HEAD_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Output path is overridable so a new round's A/B never clobbers a prior
# round's committed evidence (BENCH/ab_r3_r4.json is round-4 record).
OUT = os.environ.get(
    "AB_BENCH_OUT", os.path.join(HEAD_REPO, "BENCH", "ab_r3_r4.json")
)

# HEAD bench.py times this r4-only query unconditionally; guard it so the
# same harness file runs in a checkout whose registry predates it.
UNGUARDED = '''    t0 = time.time()
    Q["dup_span_signals_token"](spark, sf_dir).count()
    query_secs["dup_span_signals_token"] = round(time.time() - t0, 3)'''
GUARDED = '''    if "dup_span_signals_token" in Q:
        t0 = time.time()
        Q["dup_span_signals_token"](spark, sf_dir).count()
        query_secs["dup_span_signals_token"] = round(time.time() - t0, 3)'''


def patched_harness() -> str:
    src = open(os.path.join(HEAD_REPO, "bench.py")).read()
    assert UNGUARDED in src, "bench.py drifted; update ab_bench.py guard"
    return src.replace(UNGUARDED, GUARDED)


def run_once(checkout: str, harness_path: str, sf_dir: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS", "32")
    out = subprocess.run(
        [sys.executable, harness_path],
        cwd=checkout, env=env, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0:
        print(out.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"bench failed in {checkout}")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    checkout_a = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ab_r3"
    checkout_b = sys.argv[2] if len(sys.argv) > 2 else HEAD_REPO
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # one harness file, two checkouts: HEAD's bench.py with the r4-only
    # query guarded; written into A so __file__-relative sys.path puts A's
    # package first there, while B runs its own committed copy verbatim
    # (the guard is the only diff and B's registry has the query).
    harness_a = os.path.join(checkout_a, "bench_ab.py")
    with open(harness_a, "w") as f:
        f.write(patched_harness())
    harness_b = os.path.join(checkout_b, "bench.py")

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    # ABBA ordering cancels linear host drift within each round-trip pair
    order = ["A", "B", "B", "A"] * ((2 * reps + 3) // 4)
    taken = {"A": 0, "B": 0}
    for arm in order:
        if taken[arm] >= reps:
            continue
        taken[arm] += 1
        t0 = time.time()
        r = run_once(
            checkout_a if arm == "A" else checkout_b,
            harness_a if arm == "A" else harness_b,
            sf_dir,
        )
        r["_wall"] = round(time.time() - t0, 1)
        r["_ts"] = round(time.time(), 1)
        runs[arm].append(r)
        print(
            f"{arm}#{taken[arm]}: value={r['value']} "
            f"er={r['queries']['er_pipeline']}",
            file=sys.stderr,
        )

    shared = sorted(
        set(runs["A"][0]["queries"]) & set(runs["B"][0]["queries"])
    )
    per_query = {}
    for q in shared:
        a = sorted(r["queries"][q] for r in runs["A"])
        b = sorted(r["queries"][q] for r in runs["B"])
        med_a, med_b = statistics.median(a), statistics.median(b)
        spread = max(max(a) - min(a), max(b) - min(b))
        per_query[q] = {
            "A_samples": a, "B_samples": b,
            "A_median": round(med_a, 3), "B_median": round(med_b, 3),
            "delta_pct": round(100 * (med_b - med_a) / med_a, 1),
            "within_arm_spread": round(spread, 3),
            "delta_within_noise": abs(med_b - med_a) <= spread,
        }
    sum_a = statistics.median(
        [sum(r["queries"][q] for q in shared) for r in runs["A"]]
    )
    sum_b = statistics.median(
        [sum(r["queries"][q] for q in shared) for r in runs["B"]]
    )
    summary = {
        "checkout_a": checkout_a,
        "checkout_b": checkout_b,
        "rev_a": subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=checkout_a,
            capture_output=True, text=True,
        ).stdout.strip(),
        "rev_b": subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=checkout_b,
            capture_output=True, text=True,
        ).stdout.strip(),
        "sf_dir": sf_dir,
        "reps": reps,
        "shared_query_sum_A_median": round(sum_a, 2),
        "shared_query_sum_B_median": round(sum_b, 2),
        "shared_sum_delta_pct": round(100 * (sum_b - sum_a) / sum_a, 1),
        "per_query": per_query,
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "per_query"}))
    print(f"wrote {OUT}", file=sys.stderr)


if __name__ == "__main__":
    main()
