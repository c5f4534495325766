"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash); ``tools/diffcheck.py`` runs the same
differential locally with exact value equality.

The actual implementations live in the package; this file is a thin
adapter over openaq_data_pipeline_engineering_spark.plans.registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from openaq_data_pipeline_engineering_spark.plans.registry import get_queries

    return get_queries()["flagship_daily_topk"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from openaq_data_pipeline_engineering_spark.plans.registry import get_queries

    return get_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each query (same column names)."""
    from openaq_data_pipeline_engineering_spark.plans.registry import get_oracles

    return get_oracles()
