import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from payor_mdm_spark.session import get_spark

    s = get_spark(app_name="payor-mdm-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def world(tmp_path_factory):
    """Seed-42 65-entity world written to parquet once per test session."""
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world

    d = str(tmp_path_factory.mktemp("world"))
    w = generate_world(seed=42, n_entities=65)
    turns_path, truth_path = write_world(w, d)
    return {"world": w, "turns_path": turns_path, "truth_path": truth_path, "dir": d}


@pytest.fixture(scope="session")
def pipeline_run(spark, world, tmp_path_factory):
    """Full pipeline run on the session world; reused by contract tests."""
    from payor_mdm_spark.plans.pipeline import run_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore

    turns = spark.read.parquet(world["turns_path"])
    store = CheckpointStore(spark, str(tmp_path_factory.mktemp("ckpt")))
    res = run_pipeline(spark, turns, store, collect_metrics=False)
    return {"res": res, "store": store}


@pytest.fixture(scope="session")
def check_committed_reads(spark):
    """Assert that reading each committed table of a parquet-dialect store
    starts no Spark job and gives the schema that inference gives."""
    tracker = spark.sparkContext.statusTracker()

    def check(store):
        names = sorted(n for n in os.listdir(store.root) if store.exists(n))
        assert names
        for name in names:
            before = set(tracker.getJobIdsForGroup(None))
            got = store.read(name).schema
            assert set(tracker.getJobIdsForGroup(None)) == before, name
            inferred = spark.read.parquet(os.path.join(store.root, name)).schema
            assert got.json() == inferred.json(), name

    return check
