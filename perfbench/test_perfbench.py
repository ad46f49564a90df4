"""Tests of the benchmark itself: result schema, inputs, tracing.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metrics_the_command_prints():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def test_result_line_schema():
    line = run.result_line(True, 3, 0, {"run_s": 1.5, "setup_s": 2.25}, run.END_TO_END)
    out = json.loads(json.dumps(line))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["run_s"] == {"value": 1.5, "unit": "s"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1


def test_fails_without_printing_a_result_when_the_engine_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_delta", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_inputs_depend_only_on_the_seed(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import inputs

    tables = []
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        d = tmp_path / sub
        d.mkdir()
        er = inputs.er_inputs(7, seed, 30, 8, 2, str(d))
        docs = inputs.docs_inputs(seed, 60, 0.1, str(d))
        tables.append([pq.read_table(p) for p in
                       (er.base_path, er.delta_path, er.upserted_path, docs.docs_path)])
        # the upsert replaces edited conversations instead of duplicating them
        upserted = pq.read_table(er.upserted_path).column("conv_id").to_pylist()
        n_turns = pq.read_table(er.base_path).num_rows + pq.read_table(er.delta_path).num_rows
        assert len(upserted) < n_turns
        assert len(set(upserted)) == er.n_convs
    assert all(a.equals(b) for a, b in zip(tables[0], tables[1]))
    assert not all(a.equals(c) for a, c in zip(tables[0], tables[2]))
    # every seed applies its delta to the same base, whose commit is reused
    assert tables[0][0].equals(tables[2][0])


def _write_log(path, events):
    d = path / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    with open(d / "events_1_local-1", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage_id, run_ms, python_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 0, "Disk Bytes Spilled": 0,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                  "Local Bytes Read": 1024 * 1024},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}},
        "Task Info": {"Accumulables": [{"Name": "time to run Python workers",
                                        "Update": str(python_ms)}]},
    }


def test_event_log_groups_task_metrics_by_job_description(tmp_path):
    from perfbench.tracing import parse_event_log

    _write_log(tmp_path, [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.job.description": "stage:scored_pairs"}},
        _task(0, 100, python_ms=40), _task(0, 100, python_ms=40), _task(0, 400, python_ms=40),
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {}},
        _task(1, 1000),
    ])
    ev = parse_event_log(str(tmp_path))
    scored = ev["by_desc"]["stage:scored_pairs"]
    assert scored["jobs"] == 1
    assert scored["task_s"] == pytest.approx(0.6)
    assert scored["python_s"] == pytest.approx(0.12)
    assert scored["shuffle_mb"] == pytest.approx(3.0)
    assert scored["skew"] == pytest.approx(4.0)  # max 400 ms / median 100 ms
    # jobs outside the traced stages stay out of the totals
    assert ev["totals"]["task_s"] == pytest.approx(0.6)


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from payor_mdm_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                      extra_confs={"spark.eventLog.enabled": "true",
                                   "spark.eventLog.dir": log_dir,
                                   "spark.eventLog.compress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, log_dir


def test_tracing_store_charges_cc_jobs_to_match_groups(traced_spark, tmp_path, monkeypatch):
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world
    from payor_mdm_spark.operators import clustering
    from payor_mdm_spark.plans.pipeline import STAGES, run_pipeline
    from perfbench.tracing import TracingStore, parse_event_log

    spark, log_dir = traced_spark
    seen = []
    real = clustering.propagate_labels

    def spy(*args, **kwargs):
        seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return real(*args, **kwargs)

    monkeypatch.setattr(clustering, "propagate_labels", spy)
    turns_path, _ = write_world(generate_world(seed=42, n_entities=20), str(tmp_path))
    store = TracingStore(spark, str(tmp_path / "ckpt"), STAGES)
    store.begin()
    run_pipeline(spark, spark.read.parquet(turns_path), store)
    store.finish()

    # label propagation runs eager jobs before store.write("match_groups")
    assert seen == ["stage:match_groups"]
    assert [s for s, _, _ in store.stage_spans] == list(STAGES) + ["run_metrics"]
    by = parse_event_log(log_dir)["by_desc"]
    assert by["stage:match_groups"]["jobs"] > by["stage:golden"]["jobs"]
    assert all(f"stage:{s}" in by for s in STAGES)
    assert store.overhead_s < sum(t1 - t0 for _, t0, t1 in store.stage_spans)
