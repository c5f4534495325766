"""Incremental merge: overlapping re-delivery must not duplicate, and
corrections must win; untouched partitions must survive verbatim."""

from __future__ import annotations

from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.plans.incremental import merge_into_mart

SCHEMA = (
    "location_id string, datetime timestamp, pm25 double, extracted_at string, "
    "year string, month string, day string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _row(loc, day, hour, pm25, extracted):
    import datetime as dt

    return (
        loc,
        dt.datetime(2026, 1, int(day), hour),
        pm25,
        extracted,
        "2026",
        "01",
        f"{int(day):02d}",
    )


KEYS = ["location_id", "datetime"]


def _tie():
    # built lazily: Column construction needs an active SparkContext
    return [F.desc("extracted_at")]


def test_redelivery_is_idempotent_and_corrections_win(spark, tmp_path):
    path = str(tmp_path / "mart")
    day1 = _batch(spark, [_row("a", 1, 10, 11.0, "t1"), _row("a", 1, 11, 12.0, "t1"),
                          _row("b", 1, 10, 20.0, "t1")])
    merge_into_mart(spark, path, day1, KEYS, _tie())
    assert spark.read.parquet(path).count() == 3

    # 24h-lookback re-delivery: day1 rows again (one corrected) + day2 rows
    day2 = _batch(spark, [_row("a", 1, 10, 11.0, "t2"),       # re-delivered dup
                          _row("a", 1, 11, 99.0, "t2"),       # correction
                          _row("a", 2, 10, 30.0, "t2")])      # new day
    merge_into_mart(spark, path, day2, KEYS, _tie())

    back = spark.read.parquet(path)
    assert back.count() == 4  # 3 day-1 rows + 1 day-2 row, no dups
    corrected = back.filter(
        (F.col("location_id") == "a") & (F.hour("datetime") == 11)
    ).first()
    assert corrected["pm25"] == 99.0  # latest extraction won
    # the row only in the old batch survived the partition rewrite
    assert back.filter("location_id = 'b'").count() == 1


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    path = str(tmp_path / "mart2")
    merge_into_mart(
        spark, path,
        _batch(spark, [_row("a", 1, 10, 1.0, "t1"), _row("a", 2, 10, 2.0, "t1")]),
        KEYS, _tie(),
    )
    import os

    d1 = os.path.join(path, "year=2026", "month=01", "day=01")
    mtime_before = max(os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1))

    # merge touching ONLY day 02
    merge_into_mart(
        spark, path, _batch(spark, [_row("a", 2, 11, 3.0, "t2")]), KEYS, _tie()
    )
    mtime_after = max(os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1))
    assert mtime_after == mtime_before  # day=01 files untouched
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert back.filter("day = '02'").count() == 2


def _files(path):
    import os

    return {
        os.path.join(d, f): (os.path.getsize(os.path.join(d, f)),
                             os.path.getmtime(os.path.join(d, f)))
        for d, _dirs, fs in os.walk(path)
        for f in fs
    }


def test_read_failure_raises_and_leaves_mart_unchanged(spark, tmp_path, monkeypatch):
    """Only a mart that is not there yet may be read as empty: any other
    read failure must stop the merge before it rewrites a partition with
    the batch's rows alone."""
    import pytest
    from pyspark.sql import DataFrameReader

    path = str(tmp_path / "mart3")
    merge_into_mart(
        spark, path,
        _batch(spark, [_row("a", 1, 10, 1.0, "t1"), _row("b", 1, 10, 2.0, "t1")]),
        KEYS, _tie(),
    )
    before = _files(path)
    batch = _batch(spark, [_row("a", 1, 11, 3.0, "t2")])

    def unreadable(self, *paths, **options):
        raise OSError("injected: mart unreadable")

    persisted = _persisted(spark)
    monkeypatch.setattr(DataFrameReader, "parquet", unreadable)
    with pytest.raises(OSError, match="injected"):
        merge_into_mart(spark, path, batch, KEYS, _tie())
    monkeypatch.undo()
    assert _files(path) == before
    assert spark.read.parquet(path).count() == 2
    assert _persisted(spark) == persisted  # the batch cache is released


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_merge_runs_the_batch_once_and_releases_its_cache(spark, tmp_path):
    """The batch's plan runs once: it is cached while one action
    observes the partitions it touches, and the write reads the cache.
    Into a two-day mart, with a batch hashed on its key the way
    build_mart's output is, the merge runs at most 5 Spark jobs: 2 for
    the batch plan, 1 for the action, 2 for the write. Collecting the
    touched partitions and then writing ran the batch plan twice, in
    6 jobs."""
    import os

    path = str(tmp_path / "mart4")
    merge_into_mart(
        spark, path,
        _batch(spark, [_row("a", 1, 10, 1.0, "t1"), _row("a", 2, 10, 2.0, "t1")]),
        KEYS, _tie(),
    )
    persisted = _persisted(spark)
    batch = _batch(
        spark, [_row("a", 2, 10, 5.0, "t2"), _row("b", 1, 11, 6.0, "t2")]
    ).repartition("location_id")
    sc = spark.sparkContext
    group = f"merge-job-budget-{os.getpid()}"
    sc.setJobGroup(group, "merge job budget")
    try:
        merge_into_mart(spark, path, batch, KEYS, _tie())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 5
    assert _persisted(spark) == persisted
    back = spark.read.schema(SCHEMA).parquet(path)
    assert sorted((r.location_id, r.day, r.pm25) for r in back.collect()) == [
        ("a", "01", 1.0), ("a", "02", 5.0), ("b", "01", 6.0),
    ]
