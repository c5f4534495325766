"""Deduplication operators.

- ``dedup_first``: the reference's ranked-window dedup (W1,
  glue_jobs/process_openaq_raw.py:131-135) with a FIX: the reference
  orders by the partition key itself, making the surviving row
  nondeterministic; we require a real tiebreaker column so results are
  stable and oracle-checkable.
- ``exact_dedup``: content-hash exact dedup for document corpora (the
  LLM-pipeline extension): md5-group, keep the lowest id.

Scale: both are single hash-shuffle operators. ``dedup_first`` is a
window over (keys) — one exchange; at 100 TB prefer pre-bucketed input on
the dedup key so the exchange disappears. ``exact_dedup`` aggregates by a
64-hex hash — high cardinality, uniformly distributed, no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_first(
    df: DataFrame,
    keys: list[str],
    tiebreaker: list[str],
    keep_rank_col: bool = False,
    total_tiebreaker: bool = False,
) -> DataFrame:
    """Keep exactly one row per ``keys``, choosing the first by ``tiebreaker``.

    Equivalent to the reference's
    ``row_number() OVER (PARTITION BY location_id, datetime ORDER BY ...)``
    + ``filter(row_num == 1)`` (process_openaq_raw.py:131-135), but with a
    deterministic ORDER BY.

    ``total_tiebreaker=True`` declares that ``tiebreaker`` (all plain
    ascending column names) totally orders the rows within every key —
    e.g. it ends in a unique id. The operator then uses the r13
    struct-min rewrite (guide §2.3, same shape as the r12 ANN-argmin
    conversion): ``groupBy(keys).agg(min(struct(tiebreaker..., rest)))``
    — map-side partial aggregation collapses duplicates BEFORE the
    exchange and the reduce-side sort of every surviving row
    disappears. Value-identical by construction: with a total
    tiebreaker, the struct argmin is the window's rank-1 row, and the
    trailing non-tiebreaker fields can never break a tie. Leave it
    False when ties are possible (the window picks one arbitrarily;
    the struct-min would pick the lexicographically least FULL row —
    a different, though more deterministic, survivor) or when any
    column is unorderable (map type).
    """
    if not tiebreaker:
        raise ValueError("dedup_first requires a deterministic tiebreaker")
    if total_tiebreaker and all(isinstance(c, str) for c in tiebreaker):
        # keys are constant within a group: packing one that is also a
        # tiebreaker would select it twice
        packed = [c for c in tiebreaker if c not in keys] + [
            c for c in df.columns if c not in keys and c not in tiebreaker
        ]
        agg = df.groupBy(*keys).agg(
            F.min(F.struct(*packed)).alias("__first")
        )
        out = agg.select(
            *keys, *[F.col(f"__first.{c}").alias(c) for c in packed]
        ).select(*df.columns)
        return (
            out.withColumn("row_num", F.lit(1)) if keep_rank_col else out
        )
    order = [F.col(c).asc() if isinstance(c, str) else c for c in tiebreaker]
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df.withColumn("row_num", F.row_number().over(w)).filter(F.col("row_num") == 1)
    return out if keep_rank_col else out.drop("row_num")


def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Exact-duplicate removal by content hash; survivor = min(id).

    Returns (id, content_hash, dup_count) for each distinct content value.
    One hash-aggregate; map-side partial aggregation keeps the shuffle
    proportional to distinct-content cardinality, not row count.
    """
    c = F.col(content_col)
    if normalize:
        c = F.regexp_replace(F.lower(c), r"\s+", " ")
    return (
        df.select(F.md5(c).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )
