"""File-level min/max statistics manifest — Delta-style data skipping
built from the `_metadata` hidden column.

At 100 TB a query with a selective key predicate should not open every
file: engines keep a manifest of per-file [min, max] ranges and prune
files whose range cannot contain the predicate value (Delta/Iceberg
data skipping; Parquet row-group stats do the same one level down).
This operator builds that manifest as a DataFrame over a file scan
and prunes a read through it; nothing persists it. Copy-on-write DML
discovery (operators/cow.py) does not use it: its exact scan lets the
Parquet reader skip row groups on the pushed predicate instead.

Spark-first shape: the stats pass is one aggregation keyed by
`_metadata.file_name` — shuffle bounded by |files|, map-side combined.
Pruning is a filter on the (tiny) manifest plus a file-list-constrained
re-read; no driver-side file walking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def file_stats(
    df: DataFrame, key_cols: list[str], use_path: bool = False
) -> DataFrame:
    """Per-file manifest: file_name, n_rows, {col}_min / {col}_max.

    ``df`` must be a file-source DataFrame (parquet/orc/json scan) so
    the `_metadata` struct is available. ``use_path=True`` keys the
    manifest on the FULL file path instead of the base name — required
    for Hive-PARTITIONED tables, where one write job's range task can
    emit identically-named part files into two partition directories
    (same task number + job UUID); name-keyed stats would union their
    bounds and under-prune. The manifest column is still called
    ``file_name`` so the pruning helpers compose unchanged — pass the
    same ``use_path`` to them.
    """
    src = "_metadata.file_path" if use_path else "_metadata.file_name"
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in key_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        df.select(F.col(src).alias("file_name"), *key_cols)
        .groupBy("file_name")
        .agg(*aggs)
    )


def candidate_files(
    stats: DataFrame, key_col: str, value
) -> DataFrame:
    """Files whose [min, max] range may contain ``value`` (single-column
    point predicate). Everything else is provably skippable."""
    return stats.filter(
        (F.col(f"{key_col}_min") <= F.lit(value))
        & (F.col(f"{key_col}_max") >= F.lit(value))
    ).select("file_name")


def pruned_read(
    df: DataFrame, stats: DataFrame, key_col: str, value
) -> DataFrame:
    """Equality read through the manifest: constrain the scan to
    candidate files, then apply the exact predicate.

    The file-list constraint is a join on `_metadata.file_name` against
    the (broadcast) candidate set — at scale the candidate list is
    passed to the reader as a path list; the semantics here are
    identical and stay fully declarative.
    """
    cands = candidate_files(stats, key_col, value)
    return (
        df.withColumn("__file", F.col("_metadata.file_name"))
        .join(
            F.broadcast(cands.withColumnRenamed("file_name", "__file")),
            on="__file",
            how="inner",
        )
        .filter(F.col(key_col) == F.lit(value))
        .drop("__file")
    )


def candidate_files_box(
    stats: DataFrame, preds: dict[str, tuple]
) -> DataFrame:
    """Files whose per-column [min, max] ranges may intersect the box
    ``{col: (lo, hi)}`` — the multi-column range form of
    :func:`candidate_files`. A file survives only if EVERY predicate
    column's range overlaps its bounds, so selectivity multiplies
    across dimensions — the property a Z-ORDER clustered layout
    (functions/zorder.morton_code) exists to exploit: interleaved-bit
    clustering gives every file a tight bounding box in ALL clustered
    dimensions, where single-key clustering bounds only the sort key.
    """
    if not preds:
        raise ValueError("candidate_files_box needs at least one predicate")
    cond = None
    for c, (lo, hi) in preds.items():
        this = (F.col(f"{c}_min") <= F.lit(hi)) & (
            F.col(f"{c}_max") >= F.lit(lo)
        )
        cond = this if cond is None else cond & this
    return stats.filter(cond).select("file_name")


def pruned_read_box(
    df: DataFrame,
    stats: DataFrame,
    preds: dict[str, tuple],
    use_path: bool = False,
) -> DataFrame:
    """Box-predicate read through the manifest: constrain the scan to
    files whose bounding boxes intersect the query box, then apply the
    exact per-column range predicates. Same declarative shape as
    :func:`pruned_read` (broadcast file-list semi-constraint; at scale
    the candidate list feeds the reader as a path list). Pass the
    ``use_path`` the manifest was built with (partitioned tables)."""
    src = "_metadata.file_path" if use_path else "_metadata.file_name"
    cands = candidate_files_box(stats, preds)
    out = df.withColumn("__file", F.col(src)).join(
        F.broadcast(cands.withColumnRenamed("file_name", "__file")),
        on="__file",
        how="inner",
    )
    for c, (lo, hi) in preds.items():
        out = out.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
    return out.drop("__file")
