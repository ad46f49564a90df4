"""Measurements taken beside the engine: memory, digests, F1."""

from __future__ import annotations

import os

import duckdb

MB = 1024 * 1024


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may contain spaces: fields follow the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[int]:
    """`root` and all its descendants (the driver, its JVM and the JVM's
    Python workers)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    `root` and all its descendants, from /proc. The kernel does not charge
    the time the hypervisor gives to other guests to any process."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_bytes(root: int) -> int:
    """Peak resident bytes (VmHWM) of `root` and all its descendants (the
    driver, its JVM and the JVM's Python workers), summed, from /proc."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(line for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total += int(hwm.split()[1]) * 1024
    return total


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of all CPUs since boot, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def table_digest(store_root: str, name: str) -> str:
    """Order-independent md5 of a committed parquet table's rows."""
    glob = os.path.join(store_root, name, "**", "*.parquet")
    con = duckdb.connect()
    try:
        return con.execute(
            "select md5(string_agg(r, chr(10) order by r)) from "
            f"(select cast(t as varchar) as r from read_parquet('{glob}') t)"
        ).fetchone()[0]
    finally:
        con.close()


def pairwise_f1(truth_sql: str, pred_sql: str) -> float:
    """Closed-form pairwise F1 (tools/eval_f1.PAIR_METRICS_SQL).

    `truth_sql` yields (conv_id, entity_id) and `pred_sql` yields
    (source_id, master_entity_id): the item, its true group and its
    predicted group.
    """
    from tools.eval_f1 import PAIR_METRICS_SQL

    con = duckdb.connect()
    try:
        con.execute(f"create view truth as {truth_sql}")
        con.execute(f"create view xref as {pred_sql}")
        tp, fp, fn = (float(v or 0) for v in con.execute(PAIR_METRICS_SQL).fetchone())
    finally:
        con.close()
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0

