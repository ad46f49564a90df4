"""Iceberg-dialect contract tests (VERDICT r01 item 2 fallback).

The sandbox has no network (`curl https://repo1.maven.org` fails DNS), so
iceberg-spark-runtime cannot be fetched and the Iceberg branch cannot
execute against a real catalog — see ICEBERG.md for the recorded attempt.
These tests pin the branch's CONTRACT instead: the exact MERGE statements,
writeTo/createOrReplace calls, bucket partition transforms, and metadata
reads the code issues, via recording fakes. When a runtime jar is
available, setting CheckpointStore(mode="iceberg") makes the real pipeline
tests exercise the same code paths.
"""

from __future__ import annotations

import re

import pytest

from payor_mdm_spark.sources.catalog import CheckpointStore


class RecordingCatalog:
    def __init__(self, existing):
        self.existing = existing

    def tableExists(self, name):
        return name in self.existing


class RecordingReader:
    def __init__(self, log, result=None):
        self.log = log
        self.result = result

    def table(self, name):
        self.log.append(("read.table", name))
        return self.result


class RecordingSpark:
    """Quacks like SparkSession for the iceberg branch of CheckpointStore
    and the steward seeds: records every SQL text and table read."""

    def __init__(self, existing=(), read_result=None):
        self.sqls: list[str] = []
        self.log: list = []
        self.catalog = RecordingCatalog(set(existing))
        self.read = RecordingReader(self.log, read_result)

    def sql(self, q):
        self.sqls.append(q)


class RecordingWriter:
    def __init__(self, log, table):
        self.log = log
        self.table = table

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", self.table, tuple(str(c) for c in cols)))
        return self

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table))


class RecordingDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, table):
        return RecordingWriter(self.log, table)

    def __getitem__(self, c):
        return c


def _iceberg_store(existing=(), read_result=None):
    store = CheckpointStore(
        RecordingSpark(existing, read_result), root="/unused",
        mode="iceberg", iceberg_namespace="mdm.master",
    )
    return store


def test_exists_and_drop_contract():
    store = _iceberg_store(existing=["mdm.master.golden"])
    assert store.exists("golden") is True
    assert store.exists("nope") is False
    store.drop("golden")
    assert store.spark.sqls == ["DROP TABLE IF EXISTS mdm.master.golden"]


def test_write_is_create_or_replace():
    store = _iceberg_store()
    log = []
    store.write("golden", RecordingDF(log))
    assert log == [("createOrReplace", "mdm.master.golden")]


def test_write_bucket_transform_for_conv_id():
    """The 10^12-turn layout: bucket(n, conv_id) partition transform so
    rollup/blocking equi-joins on conv_id are co-located and manifests
    prune (north_rule's Iceberg design point). Needs a live session only
    to build the Column expression."""
    import tests.conftest  # noqa: F401  (session fixture machinery)
    from payor_mdm_spark.session import get_spark

    get_spark(app_name="iceberg-contract", master="local[2]", shuffle_partitions=2)
    store = _iceberg_store()
    log = []
    store.write("conv_turns", RecordingDF(log), bucket_by=(64, ["conv_id"]))
    kind, table, cols = log[0]
    assert kind == "partitionedBy" and table == "mdm.master.conv_turns"
    assert len(cols) == 1 and re.search(r"bucket\(64, conv_id\)", cols[0])
    assert log[1] == ("createOrReplace", "mdm.master.conv_turns")


def test_commit_stats_reads_files_metadata_table():
    """Lineage in iceberg mode comes from the .files metadata table
    (manifest stats), never a data scan."""

    class FakeFilesDF:
        def select(self, col):
            assert col == "record_count"
            return self

        def collect(self):
            class R(dict):
                def __getitem__(self, k):
                    return {"record_count": 41}[k]

            return [R(), R()]

    store = _iceberg_store(read_result=FakeFilesDF())
    stats = store.commit_stats("golden")
    assert stats == [(0, 41), (1, 41)]
    assert ("read.table", "mdm.master.golden.files") in store.spark.log


def test_survivorship_seed_merge_sql(spark):
    """seed_survivorship_config in iceberg mode must issue a MERGE keyed on
    field_name with matched-update + not-matched-insert
    (07_seed_survivorship_config.sql:84-100 analog)."""
    from payor_mdm_spark.sources.steward import seed_survivorship_config

    store = _iceberg_store(existing=["mdm.master.survivorship_config"])
    seed_survivorship_config(spark, store)
    assert len(store.spark.sqls) == 1
    q = store.spark.sqls[0]
    assert "MERGE INTO mdm.master.survivorship_config" in q
    assert "ON t.field_name = s.field_name" in q
    assert "WHEN MATCHED THEN UPDATE SET t.rule = s.rule" in q
    assert "WHEN NOT MATCHED THEN INSERT *" in q


def test_abbreviation_seed_merge_sql(spark):
    from payor_mdm_spark.sources.steward import seed_abbreviation_dict

    store = _iceberg_store(existing=["mdm.master.abbreviation_dict"])
    seed_abbreviation_dict(spark, store)
    q = store.spark.sqls[0]
    assert "MERGE INTO mdm.master.abbreviation_dict" in q
    assert "ON t.abbreviation = s.abbreviation" in q
    assert "WHEN MATCHED THEN UPDATE SET t.expansion = s.expansion" in q


def test_parquet_dialect_bucket_by_colocates(spark, tmp_path):
    """The parquet approximation of bucket_by: n hash-partitioned files."""
    store = CheckpointStore(spark, str(tmp_path / "b"))
    df = spark.range(1000).selectExpr("cast(id % 37 as string) as conv_id", "id")
    store.write("turns", df, bucket_by=(8, ["conv_id"]))
    stats = store.commit_stats("turns")
    assert len(stats) == 8
    # same conv_id never straddles two files (co-located layout)
    from pyspark.sql import functions as F

    back = store.read("turns").withColumn("_f", F.input_file_name())
    straddlers = (
        back.groupBy("conv_id")
        .agg(F.countDistinct("_f").alias("nf"))
        .filter("nf > 1")
        .count()
    )
    assert straddlers == 0


def test_append_contract():
    """Streaming landing appends: first write creates, later ones append()
    snapshots — never a table rewrite."""

    class AppendRecordingWriter(RecordingWriter):
        def append(self):
            self.log.append(("append", self.table))

    class AppendRecordingDF(RecordingDF):
        def writeTo(self, table):
            return AppendRecordingWriter(self.log, table)

    log = []
    s2 = _iceberg_store(existing=["mdm.master.turns_raw"])
    s2.append("turns_raw", AppendRecordingDF(log))
    assert log == [("append", "mdm.master.turns_raw")]
    log2 = []
    s3 = _iceberg_store()  # table absent -> createOrReplace bootstrap
    s3.append("turns_raw", AppendRecordingDF(log2))
    assert log2 == [("createOrReplace", "mdm.master.turns_raw")]


def test_parquet_dialect_reads_committed_schema(spark, tmp_path,
                                                check_committed_reads):
    """A read right after write() starts no schema-inference job and gives
    the inferred schema; append() and drop() forget the schema, and a
    partitioned table keeps inference (its column order)."""
    tracker = spark.sparkContext.statusTracker()

    def read_jobs(store, name):
        before = set(tracker.getJobIdsForGroup(None))
        store.read(name)
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    store = CheckpointStore(spark, str(tmp_path / "s"))
    df = spark.range(10).selectExpr(
        "id", "cast(id % 3 as string) as k", "array(id) as a",
        "named_struct('x', id, 'y', cast(null as double)) as st",
    )
    store.write("t", df)
    check_committed_reads(store)
    assert store.read("t").count() == 10

    store.append("t", df)
    assert read_jobs(store, "t") == 1
    assert store.read("t").count() == 20
    store.write("t", df)
    store.drop("t")
    CheckpointStore(spark, store.root).write("t", df.select("k"))
    assert store.read("t").columns == ["k"]

    store.write("p", df.select("id", "k"), partition_by=["k"])
    assert read_jobs(store, "p") == 1
    assert store.read("p").columns == ["id", "k"]
