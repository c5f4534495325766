"""Declared-query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator claimed as implemented (SURVEY.md §2) registers here with
BOTH a DataFrame-API Spark form and an ANSI-SQL oracle the driver runs on
DuckDB over the same parquet tables. Column names are aliased identically
on both sides (the driver sorts columns by name before value-hashing).

Determinism rules enforced across the registry:
- LIMIT only ever follows a TOTAL order (unique tiebreaker columns).
- No wall-clock / random / partition-id dependence anywhere.

Floating-point policy (Spark round() is decimal-repr HALF_UP while
DuckDB round() is binary-nearest — they DISAGREE on boundary values like
563.81/8, so rounding is not a safe equalizer for arbitrary doubles):
- Per-row arithmetic over the same inputs is bit-identical across
  engines (IEEE ops are correctly rounded) → emit RAW, never round.
- Cross-row sums of d-decimal data: round(sum, d..d+2) — the true value
  sits ON the rounding grid, a half-ULP boundary can't occur.
- Averages: round(sum, d) / count — the division of bit-identical
  inputs is bit-identical; never round(avg(...)).
- Folds over float lists (cosine/norm): round to 6; the two engines'
  fold order may differ internally (residual risk ~1e-7, accepted).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    doc: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check


QUERIES: dict[str, Query] = {}


def query(name: str, doc: str, oracle: str | None = None):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn):
        QUERIES[name] = Query(name=name, doc=doc, fn=fn, oracle=oracle)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effects: modules register their queries on import,
    # and this import order is the order get_queries() returns.
    from openaq_data_pipeline_engineering_spark.plans import queries_sinks  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_core  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_mart  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_text  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_similarity  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_ext  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_advanced  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_corpus  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_warehouse  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_llm  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_tpch2  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_llm2  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_funcs  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_sql4  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_geo  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_index  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round4  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round5  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round6  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round7  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round8  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round9  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round10  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round11  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round12  # noqa: F401


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: q.fn for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle}
