"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling on,
Arrow exchange for pandas UDFs) but parameterized so tests run on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# AQE + skew handling are explicitly required by the design target
# (BASELINE.json north_rule: "partitioning / shuffle / skew handled
# explicitly"). Arrow is mandatory: all Python kernels are pandas UDFs.
_DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's runtime broadcast decision uses ACTUAL shuffle sizes, not the
    # planner's estimates, so a larger threshold here is safe at any scale:
    # a dimension side that really is <= 64 MB (staged-record projections,
    # signature tables) broadcasts instead of shuffling the fact side; a
    # genuinely large side never does. 64 MB is modest for executors sized
    # per guide §9 (the compile-time autoBroadcastJoinThreshold stays at
    # its conservative default because IT acts on estimates).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # larger Arrow batches amortize per-batch Python/pandas overhead for the
    # narrow string rows the scoring kernel sees (guide §4.2: raise for
    # narrow data) and widen the per-batch memo hit window; Spark 4's
    # maxBytesPerBatch (64 MB default) still caps a batch by BYTES, so
    # wide/binary rows (multimodal blobs) cannot blow up a batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
    "spark.sql.session.timeZone": "UTC",
    # With ICU case mappings on (Spark 4.1's default), the first lower()/
    # upper() in a JVM builds CollationAwareUTF8String's title-case table by
    # calling ICU toTitleCase on all 1,114,112 code points: 1.44 s under a
    # C1-only JIT, paid inside every cold run even when all input is ASCII.
    # Off, lower()/upper() keep the same ASCII fast path and otherwise use
    # the JVM's String.toLowerCase()/toUpperCase(). The two settings differ
    # only where a code point is newer than the JVM's Unicode tables
    # (tests/test_case_mapping.py); only initcap() differs more widely, and
    # the engine never calls it.
    "spark.sql.icu.caseMappings.enabled": "false",
    # Tame noisy event logs in the sandbox; harmless on a real cluster.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "payor-mdm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_DEFAULT_CONFS)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra_confs or {})
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
