"""Benchmark of record for payor_mdm_spark.

    python3 perfbench/run.py --workload er_delta --seed 1 --seconds 2 --trace 0

Run from the repository root. Each invocation runs one workload, closed
loop with one client, on Spark `local[N]` with N the usable cores. Inputs
come only from `--seed`. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Any failed
correctness check makes the exit code 1. Scratch files live under
``.perfbench/`` in the repository root; the traced run leaves its spans
and parsed event log there as ``trace-<workload>-seed<seed>.json``, and
``.perfbench/cache/`` keeps the committed base run of ``er_delta``.

Each run times one cold batch operation, the first pipeline pass in a fresh
session, then runs point reads closed loop for ``--seconds``. Workloads
(see perfbench/README.md for why each exists):

* ``er_delta``: `run_incremental` of a ~2% conversation delta against a
  committed base run, then a steward session of `operators.serving`
  lookups on the result.
* ``docs_corpus``: `run_docs_pipeline` over a generated corpus with
  injected exact and near-duplicate copies, then point reads of the
  committed corpus tables.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes. A cold pipeline pass costs about the same on a 4-core host at
# any input size up to ~1k entities or documents (JIT, Python worker start
# and per-job scheduling dominate), so larger inputs would add time without
# changing what is measured.
ER_WORLD_SEED = 42
ER_ENTITIES = 100
# a fixed-size delta: 6 new conversations (~2% of the ~280), 2 edited
HELD_CONVS = 6
EDITED_CONVS = 2
DOCS = 1000
COPY_SHARE = 0.05
# Lookups cycle over the lookup types for `--seconds`, after WARM_ROUNDS
# untimed rounds that compile their plans and code. The types differ in
# cost, so the median of all samples would fall between them; each type's
# median is taken instead.
WARM_ROUNDS = 2
MIN_LOOKUPS = 3
MIN_F1 = {"er_delta": 0.9, "docs_corpus": 0.95}
DRIVER_MEM = "2g"
# Options for every JVM a run starts (perfbench/README.md, "Noise").
# C1-only JIT: with C2, the compiler threads of a cold JVM keep about 3 of 4
# cores busy through the whole timed pass; C1-only halves the pass's CPU
# time and shortens it by about a fifth, which keeps the runs of a
# comparison well inside its hour. The parallel collector with a fixed young
# generation: G1 sizes its young generation from pause-time predictions, so
# the JVM's peak RSS moved by up to 40% between runs of the same inputs;
# with a fixed young generation it stays within a few percent.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC -Xmn512m"

END_TO_END = {
    "setup_s": "s", "run_s": "s", "records_per_s": "records/s",
    "pairwise_f1": "ratio", "stored_mb": "MB", "peak_rss_mb": "MB",
}
ER_STAGE_NAMES = (
    "staged", "blocking_pairs", "scored_pairs", "match_candidates",
    "match_groups", "survived", "golden", "xref", "hierarchy",
)
DOC_STAGE_NAMES = (
    "doc_stats", "doc_filtered", "doc_exact", "doc_clusters", "doc_keepers",
    "doc_splits", "doc_packed",
)
ER_LOOKUPS = ("review_queue", "golden_browse", "golden_detail", "explain_pair")
DOC_LOOKUPS = ("doc_cluster", "source_page")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    units: dict[str, str] = {}
    for st in ER_STAGE_NAMES + DOC_STAGE_NAMES + ("run_metrics",):
        units[f"stage.{st}.s"] = "s"
        units[f"stage.{st}.rows"] = "count"
    for st in ER_STAGE_NAMES + DOC_STAGE_NAMES:
        units.update({f"spark.{st}.jobs": "count", f"spark.{st}.task_s": "s",
                      f"spark.{st}.shuffle_mb": "MB", f"spark.{st}.skew": "ratio"})
    units.update({
        "spark.cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
        "scoring.python_s": "s", "scoring.arrow_mb": "MB", "scoring.us_per_pair": "us",
        "blocking.pairs_per_record": "ratio", "blocking.max_block": "count",
        "blocking.match_yield": "ratio",
        "candidates.auto_match_pairs": "count", "candidates.review_pairs": "count",
        "clustering.jobs": "count",
        "text_analysis.python_s": "s", "dedup.python_s": "s", "dedup.removed_docs": "count",
        "delta.rescored_pairs": "count", "delta.rescore_ratio": "ratio",
        "catalog.write_s": "s", "catalog.read_s": "s", "catalog.commit_stats_s": "s",
        "catalog.files": "count", "catalog.mb_written": "MB",
    })
    for op in ER_LOOKUPS:
        units[f"serving.{op}.ms"] = "ms"
    for op in DOC_LOOKUPS:
        units[f"docs_lookup.{op}.ms"] = "ms"
    units["trace.overhead"] = "ratio"
    units["trace.coverage"] = "ratio"
    return units


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def phase(name: str) -> None:
    log(f"perfbench: {time.perf_counter() - T_START:7.2f}s {name}")


class Bench:
    """State of one invocation: session, work dir, checks and counts."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed + 1)
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.steal_share = 0.0
        self.cpu_s = 0.0
        self.jobs = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks[name] = bool(ok)
        if not ok:
            log(f"CHECK FAILED: {name} {detail}")

    # -- session -------------------------------------------------------------
    def start_spark(self):
        from payor_mdm_spark.session import get_spark

        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_confs=confs,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    # -- timing --------------------------------------------------------------
    def timed(self, store, op) -> tuple[float, object]:
        """Wall time and result of one `op()`, the batch operation a run
        times. A TracingStore's stage spans cover exactly that interval."""
        from perfbench.measure import cpu_ticks, tree_cpu_seconds
        from perfbench.tracing import TracingStore

        tracing = isinstance(store, TracingStore)
        self.attempted += 1
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "timed")
        stolen0, total0 = cpu_ticks()
        cpu0 = tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        if tracing:
            store.begin()
        result = op()
        if tracing:
            store.finish()
        dt = time.perf_counter() - t0
        self.cpu_s = tree_cpu_seconds(os.getpid()) - cpu0
        stolen1, total1 = cpu_ticks()
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.jobs = len(sc.statusTracker().getJobIdsForGroup("timed"))
        # how slow the host was: the share of CPU time other guests took
        self.steal_share = (stolen1 - stolen0) / max(total1 - total0, 1)
        return dt, result

    def lookups(self, ops: dict) -> dict[str, list[float]]:
        """Closed-loop point reads for `--seconds`, cycling over `ops`, at
        least MIN_LOOKUPS of each, after WARM_ROUNDS untimed reads of each
        that compile their plans; each op is a zero-arg callable that
        returns whether its result is well formed."""
        names = list(ops)
        for _ in range(WARM_ROUNDS):
            for name in names:
                self.lookup(name, ops[name])
        times: dict[str, list[float]] = {n: [] for n in names}
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i < MIN_LOOKUPS * len(names) or time.perf_counter() < t_end:
            name = names[i % len(names)]
            i += 1
            ms = self.lookup(name, ops[name])
            if ms is not None:
                times[name].append(ms)
        self.describe(None)
        return times

    def lookup(self, name: str, op) -> float | None:
        """Milliseconds one lookup took, or None if it raised."""
        self.describe(f"lookup:{name}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = op()
        except Exception as exc:  # noqa: BLE001 — counted as a failed lookup
            self.failed += 1
            log(f"lookup {name} failed: {exc!r}")
            return None
        ms = (time.perf_counter() - t0) * 1000
        if not ok:
            self.failed += 1
            log(f"lookup {name} returned a malformed result")
        return ms


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def warm_native_kernels() -> bool:
    """Build (on a checkout's first run) and load the C kernels, so no run
    pays the build inside the timed region."""
    from payor_mdm_spark.functions import native_kernels

    return native_kernels.get_lib() is not None


def er_lookup_ops(bench: Bench, store) -> dict:
    from payor_mdm_spark.operators import serving

    t = {n: store.read(n) for n in ("golden", "xref", "staged", "hierarchy",
                                     "match_candidates", "scored_pairs")}
    rng = bench.rng
    ids = [r[0] for r in t["golden"].select("master_entity_id").collect()]
    names = [r[0] for r in t["golden"].select("name_raw").collect() if r[0]]
    pairs = [tuple(r) for r in t["scored_pairs"]
             .select("source_record_id_a", "source_record_id_b").collect()]

    def detail():
        frames = serving.golden_detail(t["golden"], t["xref"], t["staged"],
                                       t["hierarchy"], rng.choice(ids))
        rows = {k: df.collect() for k, df in frames.items()}
        return len(rows["golden"]) == 1 and len(rows["sources"]) >= 1

    return {
        "review_queue": lambda: len(serving.review_queue(t["match_candidates"]).collect()) <= 50,
        "golden_browse": lambda: len(serving.golden_browse(
            t["golden"], t["xref"], search=rng.choice(names)[:2],
            offset=rng.randrange(3)).collect()) <= 50,
        "golden_detail": detail,
        # one row per scored field
        "explain_pair": lambda: len(serving.explain_pair(
            t["scored_pairs"], *rng.choice(pairs)).collect()) == 5,
    }


def docs_lookup_ops(bench: Bench, store) -> dict:
    from pyspark.sql import functions as F

    clusters = store.read("doc_clusters")
    splits = store.read("doc_splits")
    rng = bench.rng
    ids = [r[0] for r in clusters.select("doc_id").collect()]
    sources = sorted({r[0] for r in splits.select("source").distinct().collect()})
    return {
        # a document's cluster: itself plus every member sharing its root
        "doc_cluster": lambda: len(
            clusters.filter(F.col("doc_id") == rng.choice(ids))
            .join(clusters.select("cluster_root", F.col("doc_id").alias("member")),
                  "cluster_root").collect()) >= 1,
        "source_page": lambda: 1 <= len(
            splits.filter(F.col("source") == rng.choice(sources))
            .orderBy("doc_id").limit(20).collect()) <= 20,
    }


def er_base(work: str, base_path: str) -> str:
    """The committed base run that every seed's delta is applied to.

    All seeds share the base corpus, so its `run_pipeline` commit is built
    once per source digest, by `perfbench/base.py` in a process of its own,
    and kept under `.perfbench/cache/`: the measured session then starts
    equally cold whether or not its run built the base."""
    cache = os.path.join(ROOT, ".perfbench", "cache", f"er-base-{source_digest()}")
    if os.path.isdir(cache):
        return cache
    build = os.path.join(work, "base")
    subprocess.run(
        [sys.executable, "-m", "perfbench.base", base_path, build,
         os.path.join(work, "base-work")],
        cwd=ROOT, stdout=sys.stderr, check=True, timeout=600,
    )
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    try:
        os.rename(build, cache)
    except OSError:  # a concurrent run committed the same base first
        pass
    phase("base run built")
    return cache


def run_er_delta(bench: Bench) -> dict:
    from payor_mdm_spark.plans.pipeline import STAGES, run_incremental, run_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore
    from perfbench import inputs, measure
    from perfbench.tracing import TracingStore

    native = warm_native_kernels()
    inp = inputs.er_inputs(ER_WORLD_SEED, bench.args.seed, ER_ENTITIES, HELD_CONVS,
                           EDITED_CONVS, bench.work)
    root = os.path.join(bench.work, "store")
    shutil.copytree(er_base(bench.work, inp.base_path), root)
    spark = bench.start_spark()
    phase("spark started")
    store = TracingStore(spark, root, STAGES) if bench.trace else CheckpointStore(spark, root)
    delta = spark.read.parquet(inp.delta_path)

    setup_s = time.perf_counter() - T_START
    phase("timed region starts")
    run_s, result = bench.timed(store, lambda: run_incremental(spark, delta, store))
    lookups = bench.lookups(er_lookup_ops(bench, CheckpointStore(spark, root)))
    phase("timed region and lookups done")

    plain = CheckpointStore(spark, root)
    xref_rows = sum(n for _, n in plain.commit_stats("xref"))
    bench.check("xref_covers_corpus", xref_rows == inp.n_convs,
                f"{xref_rows} xref rows for {inp.n_convs} conversations")
    if bench.trace:
        # a full rebuild of the upserted corpus, which the incremental
        # result must equal
        ref_root = os.path.join(bench.work, "rebuild")
        bench.describe("rebuild")
        run_pipeline(spark, spark.read.parquet(inp.upserted_path),
                     CheckpointStore(spark, ref_root))
        bench.describe(None)
        want = {n: measure.table_digest(ref_root, n) for n in ("golden", "xref", "match_groups")}
        got = {n: measure.table_digest(root, n) for n in want}
        bench.check("incremental_equals_rebuild", got == want,
                    str(sorted(n for n in got if got[n] != want[n])))
    f1 = measure.pairwise_f1(
        f"select conv_id, entity_id from read_parquet('{inp.truth_path}')",
        "select source_id, master_entity_id from "
        f"read_parquet('{os.path.join(root, 'xref', '**', '*.parquet')}')",
    )
    bench.check("pairwise_f1", f1 >= MIN_F1["er_delta"], f"f1={f1}")

    layers = er_layers(bench, plain, result) if bench.trace else None
    provenance = {"world_seed": ER_WORLD_SEED, "entities": ER_ENTITIES,
                  "convs": inp.n_convs, "delta_convs": inp.n_delta_convs,
                  "native_kernels": native}
    return finish(bench, "er_delta", run_s, setup_s, inp.n_delta_convs, lookups, f1,
                  root, store, layers, provenance)


def run_docs_corpus(bench: Bench) -> dict:
    from payor_mdm_spark.plans.docs_pipeline import DOC_STAGES, run_docs_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore
    from perfbench import inputs, measure
    from perfbench.tracing import TracingStore

    native = warm_native_kernels()
    inp = inputs.docs_inputs(bench.args.seed, DOCS, COPY_SHARE, bench.work)
    spark = bench.start_spark()
    phase("spark started")
    root = os.path.join(bench.work, "store")
    store = TracingStore(spark, root, DOC_STAGES) if bench.trace else CheckpointStore(spark, root)
    docs = spark.read.parquet(inp.docs_path)

    setup_s = time.perf_counter() - T_START
    phase("timed region starts")
    run_s, _result = bench.timed(store, lambda: run_docs_pipeline(spark, docs, store))
    lookups = bench.lookups(docs_lookup_ops(bench, CheckpointStore(spark, root)))
    phase("timed region and lookups done")

    plain = CheckpointStore(spark, root)
    stats_rows = sum(n for _, n in plain.commit_stats("doc_stats"))
    bench.check("doc_stats_covers_corpus", stats_rows == inp.n_docs,
                f"{stats_rows} doc_stats rows for {inp.n_docs} documents")
    if bench.trace:
        # a second, untraced build of the same corpus must commit the same rows
        again = os.path.join(bench.work, "again")
        bench.describe("rebuild")
        run_docs_pipeline(spark, docs, CheckpointStore(spark, again))
        bench.describe(None)
        want = {n: measure.table_digest(root, n) for n in DOC_STAGES}
        got = {n: measure.table_digest(again, n) for n in DOC_STAGES}
        bench.check("docs_digest_stable", got == want,
                    str(sorted(n for n in got if got[n] != want[n])))
    f1 = measure.pairwise_f1(
        f"select doc_id as conv_id, origin as entity_id from read_parquet('{inp.truth_path}')",
        "select doc_id as source_id, cluster_root as master_entity_id from "
        f"read_parquet('{os.path.join(root, 'doc_clusters', '**', '*.parquet')}')",
    )
    bench.check("pairwise_f1", f1 >= MIN_F1["docs_corpus"], f"f1={f1}")

    layers = docs_layers(plain) if bench.trace else None
    provenance = {"docs": inp.n_docs, "exact_copies": inp.n_exact_copies,
                  "near_copies": inp.n_near_copies, "native_kernels": native}
    return finish(bench, "docs_corpus", run_s, setup_s, inp.n_docs, lookups, f1,
                  root, store, layers, provenance)


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def er_layers(bench: Bench, store, result) -> dict:
    """ER counters that need Spark; read after the timed region."""
    from pyspark.sql import functions as F

    from payor_mdm_spark.config import MAX_BLOCK_SIZE
    from payor_mdm_spark.operators import telemetry

    bench.describe("telemetry")
    staged = store.read("staged")
    cands = store.read("match_candidates")
    funnel = {r["auto_decision"]: r["pairs"] for r in
              telemetry.decision_funnel(cands).groupBy("auto_decision")
              .agg(F.sum("pairs").alias("pairs")).collect()}
    max_block = telemetry.block_size_stats(staged, MAX_BLOCK_SIZE) \
        .agg(F.max("max_block_size")).first()[0]
    matched = cands.filter(F.col("final_decision") == "match").count()
    bench.describe(None)
    rows = {m["stage"]: m["rows"] for m in result.metrics}
    proposed = rows.get("blocking_pairs", 0)
    rescored = rows.get("incremental_rescored_pairs", 0)
    return {
        "blocking.pairs_per_record": proposed / max(rows.get("staged", 0), 1),
        "blocking.max_block": max_block or 0,
        "blocking.match_yield": matched / max(proposed, 1),
        "candidates.auto_match_pairs": funnel.get("auto_match", 0),
        "candidates.review_pairs": funnel.get("review", 0),
        "delta.rescored_pairs": rescored,
        "delta.rescore_ratio": rescored / max(rows.get("scored_pairs", 0), 1),
    }


def docs_layers(store) -> dict:
    n = {t: sum(r for _, r in store.commit_stats(t)) for t in ("doc_filtered", "doc_keepers")}
    return {"dedup.removed_docs": n["doc_filtered"] - n["doc_keepers"]}


def layer_metrics(ev: dict, run_s: float, store, root: str, rows: dict, lookups: dict,
                  extra: dict) -> dict:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    from perfbench.tracing import STAGE_PREFIX, parquet_files

    by = ev["by_desc"]
    stage_s = store.stage_seconds()
    vals = dict.fromkeys(per_layer_units(), 0.0)
    for st in ER_STAGE_NAMES + DOC_STAGE_NAMES + ("run_metrics",):
        vals[f"stage.{st}.s"] = stage_s.get(st, 0.0)
        vals[f"stage.{st}.rows"] = rows.get(st, 0)
    for st in ER_STAGE_NAMES + DOC_STAGE_NAMES:
        d = by.get(STAGE_PREFIX + st, {})
        vals[f"spark.{st}.jobs"] = d.get("jobs", 0)
        vals[f"spark.{st}.task_s"] = d.get("task_s", 0.0)
        vals[f"spark.{st}.shuffle_mb"] = d.get("shuffle_mb", 0.0)
        vals[f"spark.{st}.skew"] = d.get("skew", 1.0) if d else 0.0
    tot = ev["totals"]
    vals["spark.cpu_s"] = tot.get("cpu_s", 0.0)
    vals["spark.gc_s"] = tot.get("gc_s", 0.0)
    vals["spark.spill_mb"] = tot.get("spill_mb", 0.0)
    sc = by.get(STAGE_PREFIX + "scored_pairs", {})
    vals["scoring.python_s"] = sc.get("python_s", 0.0)
    vals["scoring.arrow_mb"] = sc.get("arrow_mb", 0.0)
    # the incremental run scores only the rescored pairs
    pairs = extra.get("delta.rescored_pairs", 0)
    vals["scoring.us_per_pair"] = vals["scoring.python_s"] * 1e6 / pairs if pairs else 0.0
    vals["clustering.jobs"] = vals["spark.match_groups.jobs"] + vals["spark.doc_clusters.jobs"]
    vals["text_analysis.python_s"] = sum(
        by.get(STAGE_PREFIX + st, {}).get("python_s", 0.0)
        for st in DOC_STAGE_NAMES if st != "doc_clusters")
    vals["dedup.python_s"] = by.get(STAGE_PREFIX + "doc_clusters", {}).get("python_s", 0.0)
    cat = store.catalog_seconds()
    vals["catalog.write_s"] = cat.get("write", 0.0)
    vals["catalog.read_s"] = cat.get("read", 0.0)
    vals["catalog.commit_stats_s"] = cat.get("commit_stats", 0.0)
    vals["catalog.files"] = parquet_files(root)
    vals["catalog.mb_written"] = store.bytes_written / (1024 * 1024)
    for op, times in lookups.items():
        prefix = "serving" if op in ER_LOOKUPS else "docs_lookup"
        vals[f"{prefix}.{op}.ms"] = statistics.median(times) if times else 0.0
    vals["trace.overhead"] = run_s / (run_s - store.overhead_s)
    vals["trace.coverage"] = sum(stage_s.values()) / run_s
    vals.update(extra)
    return vals


def finish(bench: Bench, workload: str, run_s: float, setup_s: float, records: int,
           lookups: dict, f1: float, root: str, store, layers, provenance: dict) -> dict:
    import pyspark

    from payor_mdm_spark.sources.catalog import CheckpointStore
    from perfbench import measure
    from perfbench.tracing import tree_bytes

    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "records_per_s": records / run_s,
        "pairwise_f1": f1,
        "stored_mb": tree_bytes(root) / measure.MB,
        "peak_rss_mb": measure.tree_peak_rss_bytes(os.getpid()) / measure.MB,
    }
    rows = {}
    if bench.trace:
        plain = CheckpointStore(bench.spark, root)
        rows = {
            t: sum(r for _, r in plain.commit_stats(t))
            for t in ER_STAGE_NAMES + DOC_STAGE_NAMES + ("run_metrics", "docs_run_metrics")
            if plain.exists(t)
        }
        if "docs_run_metrics" in rows:
            rows["run_metrics"] = rows.pop("docs_run_metrics")
    # the event log is complete once the session has stopped
    bench.stop_spark()
    prov = {
        "workload": workload, "seed": bench.args.seed, "seconds": bench.args.seconds,
        "trace": bench.trace, "git_rev": git_rev(), "nproc": bench.cores,
        "master": f"local[{bench.cores}]", "shuffle_partitions": bench.cores,
        "driver_memory": DRIVER_MEM, "pyspark": pyspark.__version__,
        "steal_share": bench.steal_share, "cpu_s": bench.cpu_s, "jobs": bench.jobs,
        "lookups": sum(len(v) for v in lookups.values()),
        "lookup_ms_by_type": {k: statistics.median(v) for k, v in lookups.items()},
        **provenance,
    }
    if not bench.trace:
        return {"provenance": prov, "metrics": e2e}
    from perfbench.tracing import parse_event_log

    ev = parse_event_log(bench.event_dir)
    vals = layer_metrics(ev, run_s, store, root, rows, lookups, layers or {})
    bench.check("trace_coverage", vals["trace.coverage"] >= 0.9,
                f"coverage={vals['trace.coverage']}")
    trace_path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{bench.args.seed}.json")
    with open(trace_path, "w") as f:
        json.dump({"provenance": prov, "end_to_end": e2e, "spans": store.to_json(),
                   "event_log": ev}, f, indent=1)
    return {"provenance": prov, "metrics": vals}


def source_digest() -> str:
    """sha256 over the engine's and the benchmark's source files."""
    digest = hashlib.sha256()
    for top in ("payor_mdm_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*"), recursive=True)):
            if path.endswith((".py", ".c")):
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    digest.update(f.read())
    return digest.hexdigest()[:16]


def git_rev() -> str:
    """The checkout's git commit or, in a checkout that is not a git
    repository, its source digest."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + source_digest()


WORKLOADS = {"er_delta": run_er_delta, "docs_corpus": run_docs_corpus}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> dict:
    """The last stdout line, the one a comparison of runs reads."""
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # everything the run writes stays under the checkout
    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's shuffle and block files; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too: temp files in the work dir,
    # and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData {JVM_OPTS}"
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    try:
        import payor_mdm_spark.plans.pipeline  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: the engine is not importable from {ROOT}: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        return 2

    bench = Bench(args, work)
    try:
        out = WORKLOADS[args.workload](bench)
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    log(json.dumps({"provenance": out["provenance"], "checks": bench.checks}))
    units = END_TO_END if not bench.trace else per_layer_units()
    for name, value in out["metrics"].items():
        log(f"  {name:<32} {value:>14.6g} {units[name]}")
    log(f"  error_rate {bench.failed / bench.attempted:.6g} "
        f"({bench.failed} failed of {bench.attempted} attempted)")
    correct = bench.failed == 0
    line = result_line(correct, bench.attempted, bench.failed, out["metrics"], units)
    print(json.dumps(line), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
