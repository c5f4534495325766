"""Datetime parsing and partition-column derivation.

Reference semantics:
- P1: ISO-8601 (+offset) string → UTC timestamp
  (glue_jobs/process_openaq_raw.py:118-121).
- P2: year / zero-padded month & day partition columns
  (glue_jobs/process_openaq_raw.py:124-127).
- P5: drop rows whose datetime fails to parse
  (etls/openaq_etl.py:293-297 — pandas ``errors='coerce'`` + dropna).

All pure column expressions → whole-stage codegen, pushdown-friendly.
This module owns their SQL text; ``plans/mart.build_mart`` builds from
it (the parse operators, and :func:`partition_columns_sql` after its
aggregate). Text costs one Py4J round trip per ``selectExpr``; the same expressions
composed from ``Column`` calls cost several per call (PySpark 4
call-site capture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_literal(value: str) -> str:
    """``value`` as an escaped single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def partition_columns_sql(ts_col: str) -> dict[str, str]:
    """``year`` (string) and zero-padded ``month``/``day`` strings of the
    timestamp column ``ts_col``, by output name."""
    t = quote(ts_col)
    return {
        "year": f"CAST(year({t}) AS STRING)",
        "month": f"lpad(CAST(month({t}) AS STRING), 2, '0')",
        "day": f"lpad(CAST(dayofmonth({t}) AS STRING), 2, '0')",
    }


def with_sql_columns(df: DataFrame, derived: dict[str, str]) -> DataFrame:
    """``df`` with each ``derived`` column (name → SQL text) replacing
    the column of that name in place, or appended, like ``withColumn``,
    in one ``selectExpr``."""
    cols = df.columns
    return df.selectExpr(
        *[f"{derived[c]} AS {quote(c)}" if c in derived else quote(c) for c in cols],
        *[f"{sql} AS {quote(c)}" for c, sql in derived.items() if c not in cols],
    )


def parse_datetime(df: DataFrame, col: str = "datetime", output_col: str | None = None) -> DataFrame:
    """Cast an ISO-8601 string column (with tz offsets) to a UTC timestamp.

    ``try_cast`` handles ``+07:00`` offsets and ``Z`` natively and yields
    NULL on unparseable input — exactly the pandas
    ``to_datetime(errors='coerce')`` contract the reference relies on.
    (Plain ``cast`` would throw under Spark 4's default ANSI mode.)
    """
    parsed = f"try_cast({quote(col)} AS TIMESTAMP)"
    return with_sql_columns(df, {output_col or col: parsed})


def drop_invalid_datetime(df: DataFrame, col: str = "datetime") -> DataFrame:
    """Drop rows with NULL (unparseable) datetime — reference P5."""
    return df.where(f"{quote(col)} IS NOT NULL")


def with_partition_columns(df: DataFrame, ts_col: str = "datetime") -> DataFrame:
    """Add ``year`` (string), ``month``/``day`` (zero-padded strings).

    Matches the reference's Hive-partition layout (``year=/month=/day=``)
    byte-for-byte: month/day are lpad'ed 2-char strings
    (process_openaq_raw.py:124-127). Deriving them from the timestamp (not
    carrying them separately) guarantees the partition⇔datetime consistency
    invariant the reference tests assert
    (tests/test_glue_transformation.py:260-296).
    """
    return with_sql_columns(df, partition_columns_sql(ts_col))
