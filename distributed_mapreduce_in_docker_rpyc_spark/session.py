"""SparkSession factory with scale-aware defaults.

Local test posture: ``local[$SPARK_GRAFT_CPUS]`` (default all cores), shuffle
partitions ≈ cores.  Cluster posture (100 TB): the same confs apply — AQE
re-plans shuffle fan-out at runtime, skew-join splits hot partitions, and
32 MB–128 MB input splits keep scan tasks balanced (the reference hand-rolled
exactly this with its 32 MB line-aligned chunks,
reference coordinator/coordinator.py:57-89 — Spark's
``spark.sql.files.maxPartitionBytes`` subsumes it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference's two physical-planning knobs (SURVEY.md §4) are reduce fan-out
# (NUM_REDUCERS, coordinator/coordinator.py:11) and map split size (32 MB,
# coordinator/coordinator.py:57); neither affects results.  Here they are fixed
# session defaults: fan-out is ``get_spark(shuffle_partitions=...)``, and the
# reference's 32 MB splits are ``ingest.read_lines(split_bytes=SPLIT_BYTES)``.
DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_MAX_PARTITION_BYTES = str(128 * 1024 * 1024)


def get_spark(app_name: str = "distributed_mapreduce_in_docker_rpyc_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    UTC session timezone is load-bearing: the DuckDB oracle compares timestamp
    values and DuckDB timestamps are UTC-naive.

    ``SPARK_GRAFT_EXTRA_CONFS`` (``key=value;key=value``) appends arbitrary
    build-time confs — measurement harnesses (event log), cluster posture
    overrides.  Applied last, so it can override any default here.
    Limitations (r11, ADVICE r10): ``;`` cannot appear inside a value (it is
    the entry separator), and an entry without ``=`` raises instead of
    silently setting the key to an empty string.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", DEFAULT_MAX_PARTITION_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sg-warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert at load (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for kv in filter(None, extra.split(";")):
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONFS entry {kv!r} is not key=value"
            )
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
