"""Pins for round-13 optimization internals.

Each test pins an equivalence an r13 rewrite relies on, so a later
refactor can't silently break it.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dedup_first_struct_min_equals_window_path(spark):
    """total_tiebreaker=True must return exactly the window path's rows
    (same survivors, same columns, same values) whenever the tiebreak
    is total — including NULL keys and single-row groups."""
    from openaq_data_pipeline_engineering_spark.operators.dedup import (
        dedup_first,
    )

    rows = [
        (1, "a", 10, 5.0, "x"),
        (1, "a", 3, 6.0, "y"),   # same key, smaller id -> survivor
        (1, "b", 7, 1.0, "z"),
        (2, "a", 9, 2.0, "w"),
        (None, "a", 4, 8.0, "n"),  # NULL key forms its own group
        (None, "a", 2, 9.0, "m"),
    ]
    df = spark.createDataFrame(
        rows, "k1 int, k2 string, id int, v double, tag string"
    )
    keys, tb = ["k1", "k2"], ["id"]
    fast = dedup_first(df, keys=keys, tiebreaker=tb, total_tiebreaker=True)
    slow = dedup_first(df, keys=keys, tiebreaker=tb)
    assert fast.columns == slow.columns == df.columns
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, fast.collect()), key=key) == sorted(
        map(tuple, slow.collect()), key=key
    )
    # keep_rank_col parity: the fast path materializes the constant 1
    fast_r = dedup_first(
        df, keys=keys, tiebreaker=tb, total_tiebreaker=True,
        keep_rank_col=True,
    )
    assert set(r.row_num for r in fast_r.collect()) == {1}


def test_dedup_first_struct_min_removes_window_from_plan(spark):
    from openaq_data_pipeline_engineering_spark.operators.dedup import (
        dedup_first,
    )

    df = spark.createDataFrame(
        [(1, 2, 3.0)], "k int, id int, v double"
    )
    fast = dedup_first(
        df, keys=["k"], tiebreaker=["id"], total_tiebreaker=True
    )
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_dedup_first_struct_min_key_in_tiebreaker(spark):
    """A key column that is also a tiebreaker is constant within its
    group: the struct-min path packs it once and returns the window
    path's rows, columns in input order."""
    from openaq_data_pipeline_engineering_spark.operators.dedup import (
        dedup_first,
    )

    df = spark.createDataFrame(
        [(1, 5, "x"), (1, 3, "y"), (2, 9, "z")], "k int, id int, tag string"
    )
    keys, tb = ["k"], ["k", "id"]
    fast = dedup_first(df, keys=keys, tiebreaker=tb, total_tiebreaker=True)
    slow = dedup_first(df, keys=keys, tiebreaker=tb)
    assert fast.columns == slow.columns == df.columns
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    ) == [(1, 3, "y"), (2, 9, "z")]
