"""Driver contract of the engine (PySpark target).

``entry(spark)`` is a smoke check.  Each ``queries()[name]`` builds a
DataFrame that must match the DuckDB result of ``oracle_sql()[name]``
(row count + schema + order-insensitive value hash);
``scripts/verify_driver.py`` runs that comparison.

All real logic lives in ``distributed_mapreduce_in_docker_rpyc_spark/``; this module only adapts the
registry (distributed_mapreduce_in_docker_rpyc_spark/registry.py) to the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_in_docker_rpyc_spark import registry
from distributed_mapreduce_in_docker_rpyc_spark.operators.wordcount import run_flagship

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return run_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    return dict(registry.ORACLES)
