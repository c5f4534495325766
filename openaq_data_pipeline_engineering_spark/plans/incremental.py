"""Incremental mart maintenance: idempotent merge of re-delivered data.

The reference's daily job blind-appends each 24h-lookback pull into the
mart (process_openaq_raw.py:253-255); overlapping lookback windows thus
re-deliver rows and duplicate them — its tests *expect* ~5% dup shrink
only within a batch, not across runs (SURVEY §2.9). "Job bookmarks" are
a listed future item (doc/architecture.md:697).

Spark-native replacement, no table format required:

1. cache the batch and run its plan once, observing on the way the
   (year, month, day) values it touches (a handful of rows, on the
   driver); then read only those partitions of the existing mart, by a
   static partition filter: the scan prunes them at plan time and
   opens no file of any other partition;
2. union existing + the cached batch, hash them on the partition
   columns, and window-dedup with the batch's tiebreaker so a
   re-delivered or corrected row wins deterministically — the dedup's
   window and the write share that one exchange;
3. swap the merged partitions in (operators/compact.replace_partitions)
   — only the touched ones, each fully old or fully new after a crash;
   a crashed earlier swap is healed BEFORE step 1 reads the mart.

Cost at 100 TB: proportional to the touched partitions (a day or two),
never the whole table. Step 1 costs one run of the batch plan. Its
cache is proportional to the batch and is a Spark cache (memory and
disk): a large batch spills to disk, and a lost block is recomputed
from the batch's lineage. With Delta/Iceberg the same logic is a MERGE;
the operator keeps that seam (`merge_into_mart` is the single entry
point).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.compact import (
    _recover_interrupted_partition_rewrite,
    replace_partitions,
)
from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first
from openaq_data_pipeline_engineering_spark.operators.parse import quote, string_literal

PARTITION_COLS = ["year", "month", "day"]


def merged_partitions(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    keys: list[str],
    tiebreaker: list,
    touched: list[tuple],
) -> DataFrame:
    """The rows :func:`merge_into_mart` writes: the ``touched``
    (year, month, day) partitions of the mart at ``mart_path`` with
    ``batch`` merged in, hash-partitioned on :data:`PARTITION_COLS`
    (the other arguments as there). ``touched`` must list every
    partition ``batch`` has rows in."""
    keys = list(keys) + [c for c in PARTITION_COLS if c not in keys]
    merged = batch
    try:
        # Explicit schema (the batch's) on the read: without it Spark
        # type-INFERS partition values, turning the zero-padded string
        # partitions ("01") into ints (1); the rewrite would then land
        # in different directories (month=1 next to month=01) and the
        # old files would survive — silent duplication.
        existing = spark.read.schema(batch.schema).parquet(mart_path)
    except AnalysisException as e:
        # the first merge creates the mart; any other read failure
        # must not pass for an empty mart, whose touched partitions
        # the write below would then replace with the batch alone
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
    else:
        merged = existing.where(_partition_filter(touched)).unionByName(batch)
    return dedup_first(
        merged.repartition(*PARTITION_COLS), keys=keys, tiebreaker=tiebreaker
    )


def _partition_filter(touched: list[tuple]) -> str:
    """SQL text true on the rows of the ``touched`` partitions: a static
    filter on the partition columns, which the scan prunes at plan time."""

    def value(v) -> str:
        # a string literal: Spark casts it to the partition column's type
        return "NULL" if v is None else string_literal(str(v))

    parts = [
        " AND ".join(f"{quote(c)} <=> {value(v)}" for c, v in zip(PARTITION_COLS, p))
        for p in touched
    ]
    return " OR ".join(f"({p})" for p in parts) or "false"


def merge_into_mart(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    keys: list[str],
    tiebreaker: list,
) -> None:
    """Idempotently merge ``batch`` (already in mart schema, partition
    columns included) into the partitioned mart at ``mart_path``.

    ``keys``: logical row identity (e.g. location_id, datetime) WITHIN
    a partition — the operator appends :data:`PARTITION_COLS` to the
    key set itself (ADVICE r12 #4): the merge only ever reads the
    batch's touched partitions, so a same-key row in an untouched
    partition always survived regardless of ``keys``; cross-partition
    identity is unenforceable under the partition-pruned read, and a
    partition-less key with a non-total tiebreaker would silently make
    the surviving row partition-layout-dependent (the r12
    ``incremental_mart_merge`` determinism bug). So a correction that
    moves a row to another partition (e.g. a fixed timestamp that
    shifts its day) leaves the stale row in the old partition: the
    caller must delete it explicitly.
    ``tiebreaker``: ordering; the FIRST row per key under this order
    survives — include a batch/extraction timestamp descending to make
    re-delivered corrections win.

    Raises whatever reading the mart raises, except that a mart that
    does not exist yet is created from the batch.
    """
    # heal BEFORE the read: a partition a crash left parked is not
    # listed, and its swap would replace it with batch-only rows
    _recover_interrupted_partition_rewrite(mart_path)
    seen = Observation()
    touched_set = F.collect_set(F.struct(*PARTITION_COLS)).alias("touched")
    cached = batch.observe(seen, touched_set).persist()
    try:
        # One action fills the cache and the observation. Under AQE a
        # fresh cache is filled by a job of its own, and a noop write
        # adds one job after it where count() adds two.
        cached.write.format("noop").mode("overwrite").save()
        touched = [tuple(p) for p in seen.get["touched"]]
        replace_partitions(
            merged_partitions(spark, mart_path, cached, keys, tiebreaker, touched),
            mart_path,
            PARTITION_COLS,
        )
    finally:
        cached.unpersist()
