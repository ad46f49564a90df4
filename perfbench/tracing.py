"""Stage attribution for the traced run, measured from outside the engine.

`TracingStore` is handed to the pipelines through their `store` parameter.
It records a span around every catalog call and keeps Spark's job
description set to ``stage:<name>`` for the pipeline stage that is running,
so each Spark job in the event log can be charged to a stage.
`parse_event_log` then groups the log's task metrics by that description.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from payor_mdm_spark.sources.catalog import CheckpointStore

# metric tables the pipelines write after their last stage
METRIC_TABLES = ("run_metrics", "partition_metrics", "docs_run_metrics")
STAGE_PREFIX = "stage:"


class TracingStore(CheckpointStore):
    """A parquet `CheckpointStore` that records spans in memory.

    The stage cursor only moves forward through ``stages`` (then
    ``run_metrics``). It moves to a stage when a write or commit_stats of
    that stage starts, and to the *next* stage when one ends: eager jobs a
    stage runs while building its table, before its own `write` (label
    propagation's per-round checkpoints and counts, the incremental run's
    changed-id checkpoint and rescore count), are then charged to the stage
    that needs them instead of the one before it.
    """

    def __init__(self, spark, root: str, stages: tuple[str, ...]):
        super().__init__(spark, root)
        self.order = tuple(stages) + ("run_metrics",)
        self.catalog_spans: list[tuple[str, str, float, float]] = []
        self.stage_spans: list[tuple[str, float, float]] = []
        self.bytes_written = 0
        # time spent in this wrapper's own bookkeeping, not in the catalog
        self.overhead_s = 0.0
        self._pos = -1
        self._since = 0.0

    # -- stage cursor ------------------------------------------------------
    def _index(self, name: str) -> int:
        if name in METRIC_TABLES:
            return len(self.order) - 1
        return self.order.index(name) if name in self.order else -1

    def _move(self, pos: int) -> None:
        if pos <= self._pos or pos >= len(self.order):
            return
        now = time.perf_counter()
        if self._pos >= 0:
            self.stage_spans.append((self.order[self._pos], self._since, now))
        self._pos, self._since = pos, now
        self.spark.sparkContext.setJobDescription(STAGE_PREFIX + self.order[pos])

    def begin(self) -> None:
        self._move(0)

    def finish(self) -> None:
        if self._pos >= 0:
            self.stage_spans.append((self.order[self._pos], self._since,
                                     time.perf_counter()))
        self._pos = len(self.order)
        self.spark.sparkContext.setJobDescription(None)

    def _span(self, op: str, name: str, fn, *args, **kwargs):
        t_in = time.perf_counter()
        i = self._index(name)
        moves = op in ("write", "commit_stats") and i >= 0
        if moves:
            self._move(i)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        t1 = time.perf_counter()
        self.catalog_spans.append((op, name, t0, t1))
        if moves:
            self._move(i + 1)
        self.overhead_s += time.perf_counter() - t_in - (t1 - t0)
        return out

    def _table_bytes(self, name: str) -> int:
        t0 = time.perf_counter()
        n = tree_bytes(self._path(name))
        self.overhead_s += time.perf_counter() - t0
        return n

    # -- traced catalog calls ---------------------------------------------
    def write(self, name, df, partition_by=None, bucket_by=None) -> None:
        self._span("write", name, super().write, name, df,
                   partition_by=partition_by, bucket_by=bucket_by)
        self.bytes_written += self._table_bytes(name)

    def append(self, name, df) -> None:
        before = self._table_bytes(name)
        self._span("append", name, super().append, name, df)
        self.bytes_written += self._table_bytes(name) - before

    def read(self, name):
        return self._span("read", name, super().read, name)

    def commit_stats(self, name):
        return self._span("commit_stats", name, super().commit_stats, name)

    def stage_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for stage, t0, t1 in self.stage_spans:
            out[stage] += t1 - t0
        return dict(out)

    def catalog_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for op, _name, t0, t1 in self.catalog_spans:
            out["write" if op == "append" else op] += t1 - t0
        return dict(out)

    def to_json(self) -> dict:
        return {
            "stage_spans": [list(s) for s in self.stage_spans],
            "catalog_spans": [list(s) for s in self.catalog_spans],
        }


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def parquet_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _d, _s, files in os.walk(path) for f in files
    )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
MB = 1024 * 1024


def _events(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(log_dir: str) -> dict:
    """Per-description Spark totals from an uncompressed v2 event log.

    Returns ``{"by_desc": {description: {...}}, "totals": {...}}`` where
    totals cover only jobs whose description starts with ``stage:``.
    Task time is executor run time; skew is the max/median task run time
    of each Spark stage with 2+ tasks, averaged with task-time weights.
    """
    stage_desc: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[float]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            jobs[desc] += 1
            for sid in ev["Stage IDs"]:
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev["Stage ID"], "")
            m = ev.get("Task Metrics") or {}
            a = acc[desc]
            run_s = m.get("Executor Run Time", 0) / 1000
            tasks[ev["Stage ID"]].append(run_s)
            a["task_s"] += run_s
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            ) / MB
            for u in (ev.get("Task Info") or {}).get("Accumulables") or []:
                name = u.get("Name")
                if name == PY_RUN:
                    a["python_s"] += float(u.get("Update") or 0) / 1000
                elif name in (PY_SENT, PY_RETURNED):
                    a["arrow_mb"] += float(u.get("Update") or 0) / MB

    skew_num: dict[str, float] = defaultdict(float)
    skew_den: dict[str, float] = defaultdict(float)
    for sid, times in tasks.items():
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            desc = stage_desc.get(sid, "")
            skew_num[desc] += sum(times) * max(times) / med
            skew_den[desc] += sum(times)
    by_desc = {}
    for desc in set(jobs) | set(acc):
        d = {"jobs": jobs.get(desc, 0), **acc.get(desc, {})}
        d["skew"] = skew_num[desc] / skew_den[desc] if skew_den.get(desc) else 1.0
        by_desc[desc] = d
    totals: dict[str, float] = defaultdict(float)
    for desc, d in by_desc.items():
        if desc.startswith(STAGE_PREFIX):
            for k in ("jobs", "task_s", "cpu_s", "gc_s", "spill_mb", "shuffle_mb"):
                totals[k] += d.get(k, 0.0)
    return {"by_desc": by_desc, "totals": dict(totals)}
