"""Small-file compaction for partitioned Parquet tables.

Streaming/incremental writers accumulate many small files per Hive
partition (the reference's own docs flag 50-200 KB files vs a 128-256 MB
target, doc/GLUE_JOBS_GUIDE.md:309-311,399-407). Compaction rewrites
each partition's files into ~target-sized ones — the OPTIMIZE of table
formats, done directly on the directory layout.

Every rewrite of a plain (non-versioned) table — compaction, the
ZORDER rewrites, the mart write, the re-delivery merge — goes through
:func:`replace_partitions`. Work is proportional to the partitions
selected, not the table.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def read_preserving_partitions(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> DataFrame:
    """Read a Hive-partitioned table so a rewrite lands in the SAME
    partition directories it came from.

    A plain ``spark.read.parquet`` type-INFERS partition values from the
    directory names, so a zero-padded string partition (``month=01`` —
    the mart's own layout) reads back as int 1; rewriting it then
    creates ``month=1`` NEXT TO the live ``month=01``, whose old files
    survive — every row silently duplicated (the hazard
    plans/incremental.py already guards with an explicit schema).
    Pinning the partition columns to STRING reads the raw directory
    value verbatim, and ``partitionBy`` writes it back verbatim, so the
    read→rewrite round trip is layout-preserving for every value
    spelling (``m=1`` stays ``m=1``, ``m=01`` stays ``m=01``). Data
    columns keep their footer types unchanged."""
    from pyspark.sql.types import StringType, StructField, StructType

    inferred = spark.read.parquet(path).schema
    pinned = StructType(
        [
            StructField(f.name, StringType(), True)
            if f.name in partition_cols
            else f
            for f in inferred
        ]
    )
    return spark.read.schema(pinned).parquet(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_filter: str | None = None,
) -> None:
    """Rewrite (optionally filtered) partitions into ~target-sized files.

    Task count = ceil(table_bytes / target); data is read with the
    table's schema and swapped back in by :func:`replace_partitions`,
    so untouched partitions are left alone.

    ``partition_filter`` SELECTS PARTITIONS, never rows: the predicate
    is evaluated only to find the distinct partition tuples it touches,
    and every selected partition is rewritten WHOLE (a compaction must
    be row-preserving — filtering rows under a partition replace would
    silently delete the non-matching rows of each touched partition).
    A predicate on non-partition columns is therefore safe too: it
    widens to the partitions containing any matching row. Requires a
    partitioned table.

    PARTITION-COLUMN COMPARISON SEMANTICS: partition columns are read
    as STRING holding the raw directory spelling (see
    :func:`read_preserving_partitions` — inference would re-spell
    zero-padded values and duplicate the table on rewrite), so a
    QUOTED filter literal must match that raw spelling exactly:
    ``month = '1'`` does NOT select directory ``month=01``. UNQUOTED
    numeric literals still work for any spelling (``month = 1``
    implicit-casts the string side to int), and quoted literals work
    when spelled verbatim (``month = '01'``). Filters on data columns
    keep their footer types and are unaffected.
    """
    from pyspark.sql import functions as F

    _recover_interrupted_partition_rewrite(path)  # before the read
    # Partition columns pinned to string so the swap replaces the SAME
    # directories it read (see read_preserving_partitions — inference
    # would re-spell zero-padded values and duplicate the table).
    df = (
        read_preserving_partitions(spark, path, partition_cols)
        if partition_cols
        else spark.read.parquet(path)
    )
    if partition_filter:
        if not partition_cols:
            raise ValueError(
                "partition_filter requires a partitioned table: on an "
                "unpartitioned table the rewrite would replace the "
                "WHOLE table with only the matching rows"
            )
        parts = (
            df.filter(partition_filter).select(*partition_cols).distinct()
        )
        df = df.join(F.broadcast(parts), partition_cols, "left_semi")

    total = file_stats(path)["total_bytes"]  # cheap listing
    n_files = max(1, math.ceil(total / target_file_bytes))
    replace_partitions(
        df.repartition(n_files, *partition_cols), path, partition_cols
    )


_STAGING = ".__optimize_tmp__"
_PARKED = ".__optimize_old__"


def replace_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Make each partition ``df`` has rows for hold exactly those rows
    in the plain Parquet table at ``path``, leaving the others alone;
    with no ``partition_cols`` the table directory is the one partition.

    ``df`` is written (one Spark job) into the sibling tree
    ``<path>.__optimize_tmp__``, then each staged partition is swapped
    in by :func:`_swap_partition_dir` in sorted order: a crash leaves
    new partitions and old ones, never a partial one. (Spark's dynamic
    overwrite deletes a partition, then renames the new one in; a
    crash between the two drops it.)

    A plain table has one writer at a time; concurrent writers belong
    on a versioned root, whose manifest commit is atomic. A caller
    that reads the table to build ``df`` heals it first
    (:func:`_recover_interrupted_partition_rewrite`): the read does not
    see a parked partition, and its swap would replace the healed
    partition with ``df``'s rows alone."""
    path = path.rstrip("/")
    staging = path + _STAGING
    shutil.rmtree(staging, ignore_errors=True)
    # a plain write: an overwrite would nest Spark's dynamic commit
    # protocol inside the staging tree
    df.write.partitionBy(*partition_cols).parquet(staging)
    leaves = sorted(_partition_leaf_dirs(staging)) if partition_cols else ["."]
    for rel in leaves:
        _swap_partition_dir(path, staging, rel)
    shutil.rmtree(staging, ignore_errors=True)


def _partition_leaf_dirs(root: str) -> list[str]:
    """Relative paths of every directory under ``root`` directly
    holding parquet files (the Hive partition leaves)."""
    out: list[str] = []
    for r, _dirs, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            out.append(os.path.relpath(r, root))
    return out


def _parked_dir(live: str) -> str:
    """Where a swap parks ``live``: a dot-prefixed sibling, which
    Spark's partition discovery skips — a reader mid-swap never sees a
    partition twice or a bogus partition value."""
    head, leaf = os.path.split(live)
    return os.path.join(head, "." + leaf + _PARKED)


def _swap_partition_dir(path: str, staging: str, rel: str) -> None:
    """Swap ONE partition directory from staging into the live table:
    live → :func:`_parked_dir` → staged-in → reclaim the parked copy.
    A crash between the two renames leaves the partition parked."""
    live = os.path.normpath(os.path.join(path, rel))
    old = _parked_dir(live)
    os.makedirs(os.path.dirname(live), exist_ok=True)
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(os.path.normpath(os.path.join(staging, rel)), live)
    shutil.rmtree(old, ignore_errors=True)


def _recover_interrupted_partition_rewrite(path: str) -> None:
    """Heal a :func:`replace_partitions` that crashed mid-swap. A
    parked directory (in the table, or beside an unpartitioned one)
    whose live directory is absent is renamed back — the crash hit
    between the two renames; one whose live directory exists is a
    completed swap's leftover and is removed. Parked names without the
    leading dot, left by older releases, heal the same way. The staging
    tree is then removed: every partition not yet swapped still has its
    old data live."""
    path = path.rstrip("/")
    parked = [_parked_dir(path), path + _PARKED]
    for r, dirs, _files in os.walk(path):
        parked += [os.path.join(r, d) for d in dirs if d.endswith(_PARKED)]
    for old in parked:
        if not os.path.isdir(old):
            continue
        head, name = os.path.split(old)
        live = os.path.join(head, name[: -len(_PARKED)].removeprefix("."))
        if os.path.isdir(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    shutil.rmtree(path + _STAGING, ignore_errors=True)


def iter_data_parquet_files(path: str):
    """Yield the parquet DATA file paths under ``path`` — skipping
    underscore/dot-prefixed directories and files (``_changes`` CDF
    sidecars, ``_SUCCESS`` markers, hidden temp files), exactly the
    paths a Spark read of the directory ignores. Every footer-level
    statistic must iterate through this, or a CDF-enabled version
    directory double-counts its change rows into the data metrics."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def file_stats(path: str) -> dict:
    """(n_files, total_bytes, avg_bytes) for the table's parquet files."""
    n, total = 0, 0
    for p in iter_data_parquet_files(path):
        n += 1
        total += os.path.getsize(p)
    return {"n_files": n, "total_bytes": total, "avg_bytes": total // max(n, 1)}
