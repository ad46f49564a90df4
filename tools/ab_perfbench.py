"""Interleaved A/B of the benchmark of record (perfbench) between two checkouts.

    python3 tools/ab_perfbench.py PARENT CHANGE --workload docs_corpus \\
        --seeds 51-60 [--out ab.json]

Before the first pair it makes one untimed warm-up run in each checkout
(the first seed), reported apart and left out of the summary: the first
``er_delta`` run in a checkout also builds its cached base, and the first
run after a while reads a cold file cache. Then for each seed it runs
``perfbench/run.py --workload W --seed S --seconds N --trace 0`` once in
each checkout (cwd = the checkout, so each imports its own engine and
benchmark), alternating which side runs first from pair to pair, so slow
drift on the host hits both arms alike. N is the
``run_seconds`` of the parent's ``BENCHMARK.json``, the same for both arms,
which also gives each metric's direction. Every result line is
kept. For each end-to-end metric, plus ``error_rate`` (failed / attempted),
it prints each arm's median and quartiles, how many pairs the change won
(ties count for neither side), the relative median gap, and whether that gap
exceeds the parent's interquartile range: the rule for claiming a gain from
about ten pairs on a small, noisy host.

It writes nothing unless ``--out`` is given; perfbench itself keeps its
scratch under each checkout's ``.perfbench/``. ``tools/ab_bench.py`` is the
A/B of the legacy ``bench.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ARMS = ("parent", "change")


def parse_seeds(specs: list[str]) -> list[int]:
    """'51-60' and '3' style specs -> a list of seeds, in order."""
    seeds = []
    for spec in specs:
        for part in spec.split(","):
            lo, _, hi = part.partition("-")
            seeds.extend(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise ValueError("no seeds given")
    return seeds


def benchmark_spec(checkout: str) -> tuple[dict[str, str], int]:
    """(metric -> "lower" or "higher", run_seconds), from the checkout's
    BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    better["error_rate"] = "lower"
    return better, spec["run_seconds"]


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One perfbench run; its result line plus the arm's wall time, or the
    failure with the tail of stderr."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    rec = {"seed": seed, "returncode": proc.returncode,
           "wall_s": round(time.time() - t0, 2)}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    result = json.loads(lines[-1])
    rec["result"] = result
    values = {k: v["value"] for k, v in result["metrics"].items()}
    attempted = result.get("attempted") or 0
    values["error_rate"] = result.get("failed", 0) / attempted if attempted else 1.0
    rec["values"] = values
    return rec


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """Per metric: each arm's quartiles, the change's wins, the median gap
    and whether it exceeds the parent's IQR."""
    ok = [p for p in pairs if all("values" in p[a] for a in ARMS)]
    out = {}
    for metric, direction in better.items():
        got = [(p["parent"]["values"].get(metric), p["change"]["values"].get(metric))
               for p in ok]
        got = [(a, b) for a, b in got if a is not None and b is not None]
        if not got:
            continue
        par, chg = [a for a, _ in got], [b for _, b in got]
        pq, cq = quartiles(par), quartiles(chg)
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for a, b in got if sign * (b - a) > 0)
        losses = sum(1 for a, b in got if sign * (b - a) < 0)
        gap = cq[1] - pq[1]
        out[metric] = {
            "better": direction, "pairs": len(got),
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2], "runs": par},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2], "runs": chg},
            "change_wins": wins, "change_losses": losses,
            "median_gap": gap,
            "median_gap_rel": gap / pq[1] if pq[1] else None,
            "gap_exceeds_parent_iqr": abs(gap) > pq[2] - pq[0],
        }
    return out


def report(summary: dict, failed: list[dict]) -> str:
    def arm(a: dict) -> str:
        return f"{a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}]"

    rows = [f"{'metric':<14} {'parent median [Q1, Q3]':>28} "
            f"{'change median [Q1, Q3]':>28} {'wins':>6} {'gap':>8} {'>IQR':>5}"]
    for metric, s in summary.items():
        rel = s["median_gap_rel"]
        rows.append(
            f"{metric:<14} {arm(s['parent']):>28} {arm(s['change']):>28} "
            f"{s['change_wins']:>3}/{s['pairs']:<2} "
            f"{'n/a' if rel is None else format(rel, '+.1%'):>8} "
            f"{'yes' if s['gap_exceeds_parent_iqr'] else 'no':>5}"
        )
    for rec in failed:
        rows.append(f"FAILED {rec['arm']} seed {rec['seed']} "
                    f"(exit {rec['returncode']}): {rec.get('stderr_tail', '')[-300:]}")
    return "\n".join(rows)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True, choices=("er_delta", "docs_corpus"))
    ap.add_argument("--seeds", required=True, nargs="+",
                    help="seeds, e.g. 51-60 or 3,7,9")
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args(argv)
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    for arm, path in checkouts.items():
        if not os.path.isfile(os.path.join(path, "perfbench", "run.py")):
            ap.error(f"{arm} checkout {path} has no perfbench/run.py")
    seeds = parse_seeds(args.seeds)
    better, seconds = benchmark_spec(checkouts["parent"])

    warmup, failed = {}, []
    for arm in ARMS:
        rec = run_once(checkouts[arm], args.workload, seeds[0], seconds)
        warmup[arm] = rec
        if "values" not in rec:
            failed.append({"arm": f"{arm} warm-up", **rec})
        print(f"warm-up {arm}: {rec['wall_s']} s wall, "
              f"{'ok' if 'values' in rec else 'FAILED'}",
              file=sys.stderr, flush=True)

    pairs = []
    for i, seed in enumerate(seeds):
        order = ARMS if i % 2 == 0 else ARMS[::-1]
        pair = {"seed": seed, "first": order[0]}
        for arm in order:
            rec = run_once(checkouts[arm], args.workload, seed, seconds)
            pair[arm] = rec
            if "values" not in rec:
                failed.append({"arm": arm, **rec})
            shown = {k: round(v, 4) for k, v in rec.get("values", {}).items()
                     if k in better}
            print(f"pair {i + 1}/{len(seeds)} seed {seed} {arm}: {shown or 'FAILED'}",
                  file=sys.stderr, flush=True)
        pairs.append(pair)

    summary = summarize(pairs, better)
    print(f"{args.workload}: {len(pairs)} pairs, seeds {seeds}; untimed warm-up "
          + ", ".join(f"{a} {warmup[a]['wall_s']} s" for a in ARMS))
    print(report(summary, failed))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seeds": seeds,
                       "checkouts": checkouts, "seconds": seconds,
                       "warmup": warmup, "pairs": pairs,
                       "summary": summary}, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
