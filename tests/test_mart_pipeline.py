"""End-to-end mart pipeline tests: the reference Glue job's semantics
(SURVEY §3.2) including the partitioned-write round trip
(tests/test_glue_complete.py:326-406 equivalents)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.observability import execute_with_metrics
from openaq_data_pipeline_engineering_spark.plans.incremental import merged_partitions
from openaq_data_pipeline_engineering_spark.plans.mart import MartConfig, build_mart, write_mart


def measurements(spark):
    rows = [
        ("loc1", "2025-12-20T10:00:00+07:00", "pm25", 25.5, "Hanoi", "VN", 21.0, 105.8),
        ("loc1", "2025-12-20T10:00:00+07:00", "pm25", 25.5, "Hanoi", "VN", 21.0, 105.8),  # dup
        ("loc1", "2025-12-20T10:00:00+07:00", "pm10", 50.0, "Hanoi", "VN", 21.0, 105.8),
        ("loc1", "2025-12-20T11:00:00+07:00", "pm25", 30.0, "Hanoi", "VN", 21.0, 105.8),
        ("loc2", "2025-12-20T10:00:00+07:00", "pm25", 10.0, None, None, None, None),
        ("loc3", "bad-datetime", "pm25", 5.0, "Hue", "VN", 16.4, 107.5),
    ]
    return spark.createDataFrame(
        rows,
        ["location_id", "datetime", "parameter", "value", "city", "country", "latitude", "longitude"],
    )


def test_mart_end_to_end(spark):
    cfg = MartConfig(tiebreaker=["value"])
    mart = build_mart(measurements(spark), cfg)

    # uniqueness of (location_id, datetime) — reference invariant
    assert (
        mart.groupBy("location_id", "datetime").count().filter("count > 1").count() == 0
    )
    # invalid datetime dropped with its location
    assert mart.filter("location_id = 'loc3'").count() == 0
    # wide schema frozen: all declared pollutants present
    for p in cfg.parameters:
        assert p in mart.columns
    # pivot landed values on the right row
    row = mart.filter(
        (F.col("location_id") == "loc1") & (F.col("month") == "12") & (F.col("day") == "20")
    ).orderBy("datetime").first()
    assert row.pm25 == 25.5 and row.pm10 == 50.0
    # null metadata filled with defaults (reference P6)
    loc2 = mart.filter("location_id = 'loc2'").first()
    assert loc2.city_name == "Unknown"
    assert loc2.country_code == "VN"
    assert loc2.latitude == 0.0
    # UTC partition columns (+07:00 → 03:00 UTC same day)
    assert (loc2.year, loc2.month, loc2.day) == ("2025", "12", "20")


def test_write_mart_partitioned_roundtrip(spark, tmp_path):
    cfg = MartConfig(tiebreaker=["value"])
    mart = build_mart(measurements(spark), cfg)
    out = str(tmp_path / "mart")
    write_mart(mart, out)

    # Hive layout exists
    assert any(d.startswith("year=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == mart.count()
    # partition cols preserved through read (as partition values)
    assert {"year", "month", "day"} <= set(back.columns)

    # idempotent re-run: dynamic partition overwrite, not blind append
    write_mart(mart, out)
    assert spark.read.parquet(out).count() == mart.count()


def test_mart_aqi_extension(spark):
    from openaq_data_pipeline_engineering_spark.operators.aqi import compute_aqi

    cfg = MartConfig(tiebreaker=["value"])
    mart = compute_aqi(build_mart(measurements(spark), cfg))
    row = mart.filter("location_id = 'loc2'").first()
    assert row.aqi is not None
    assert row.dominant_pollutant == "pm25"


def test_catalog_registration_and_partition_pruning(spark, tmp_path):
    from openaq_data_pipeline_engineering_spark.sources.catalog import (
        drop_table,
        recover_partitions,
        register_partitioned_table,
    )

    cfg = MartConfig(tiebreaker=["value"])
    mart = build_mart(measurements(spark), cfg)
    out = str(tmp_path / "mart_tbl")
    write_mart(mart, out)

    register_partitioned_table(
        spark, "aq_mart_test", out, ["year", "month", "day"], sample=mart
    )
    try:
        tbl = spark.table("aq_mart_test")
        assert tbl.count() == mart.count()
        # catalog table prunes on partition predicates: the scan's
        # partition filters must include the predicate (no full scan)
        plan = (
            spark.sql(
                "SELECT * FROM aq_mart_test WHERE year='2025' AND month='12'"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan and "month" in plan.split("PartitionFilters")[1][:200]

        # new partition arrives on disk -> recover makes it queryable
        extra = mart.withColumn("year", F.lit("2031"))
        write_mart(extra, out)
        recover_partitions(spark, "aq_mart_test")
        assert spark.table("aq_mart_test").filter("year='2031'").count() == mart.count()
    finally:
        drop_table(spark, "aq_mart_test")


def test_idempotent_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    cfg = MartConfig(tiebreaker=["value"])
    mart = build_mart(measurements(spark), cfg)
    out = str(tmp_path / "mart_idem")
    write_mart(mart, out)
    before_other = spark.read.parquet(out).filter("location_id = 'loc1'").count()

    # rewrite ONE day's data with changed values (a re-run of that day)
    day_slice = mart.withColumn("pm25", F.col("pm25") + 1000.0)
    write_mart(day_slice, out)  # same partitions -> replaced, not doubled

    back = spark.read.parquet(out)
    assert back.count() == mart.count()  # no duplication from the re-run
    assert back.filter("location_id = 'loc1'").count() == before_other
    assert back.filter("pm25 > 999").count() > 0  # new values won


def test_write_mart_clusters_rows_within_files(spark, tmp_path):
    """sortWithinPartitions must produce monotone (location_id, datetime)
    inside each parquet file so row-group stats can prune lookups."""
    import glob

    cfg = MartConfig(tiebreaker=["value"])
    mart = build_mart(measurements(spark), cfg)
    out = str(tmp_path / "mart_sorted")
    write_mart(mart, out)
    files = glob.glob(os.path.join(out, "year=*", "month=*", "day=*", "*.parquet"))
    assert files
    checked = 0
    for fp in files:
        rows = [
            (r["location_id"], r["datetime"])
            for r in spark.read.parquet(fp).collect()
        ]
        assert rows == sorted(rows)
        checked += len(rows)
    assert checked == mart.count()


def test_example_pipeline_runs(tmp_path):
    """examples/run_pipeline.py is living documentation — keep it green."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "examples/run_pipeline.py", str(tmp_path / "demo")],
        capture_output=True,
        text=True,
        timeout=240,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "after merge: 5 rows" in proc.stdout


def test_example_similarity_runs(tmp_path):
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "examples/run_similarity.py", "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=240,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.count("--") >= 5


def test_build_mart_plan_is_one_scan_one_exchange(spark, tmp_path):
    """The raw input is scanned once, no dim join is planned, and the
    only exchange is the one hashed on the key (the writer adds its
    own on the partition columns)."""
    raw = str(tmp_path / "raw")
    measurements(spark).write.json(raw)
    mart = build_mart(spark.read.schema(measurements(spark).schema).json(raw),
                      MartConfig(tiebreaker=["value"]))
    names = [nm.node for nm in execute_with_metrics(mart)[1]]
    assert [n for n in names if n.startswith("Scan")] == ["Scan json "]
    assert not [n for n in names if "BroadcastHashJoin" in n]
    assert names.count("Exchange") == 1


def test_merge_reads_only_touched_partitions(spark, tmp_path):
    """The merge's Parquet scan opens the partitions the batch touches
    and no other."""
    mart = build_mart(measurements(spark), MartConfig(tiebreaker=["value"]))
    out = str(tmp_path / "mart")
    # a second day partition, which the batch below does not touch
    write_mart(mart.union(mart.withColumn("day", F.lit("21"))), out)
    assert len(os.listdir(os.path.join(out, "year=2025", "month=12"))) == 2
    batch = mart.where("location_id = 'loc1'")  # day 20 only
    touched = [("2025", "12", "20")]
    _n, nodes = execute_with_metrics(
        merged_partitions(
            spark, out, batch, ["location_id", "datetime"], ["pm25"], touched
        )
    )
    scans = [nm.metrics for nm in nodes if nm.node.startswith("Scan parquet")]
    assert [m["number of partitions read"] for m in scans] == [1]


def test_build_mart_makes_few_jvm_calls(spark):
    """Building the mart DataFrame (no action) stays within ~150 Py4J
    round trips. Composed from Column calls and withColumn it took
    ~1k, ~0.2 s per build before Spark ran anything."""
    import gc

    raw, cfg = measurements(spark), MartConfig(tiebreaker=["value"])
    build_mart(raw, cfg)  # first use imports and caches outside the count
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    gc.disable()  # no Py4J object deletes mid-count
    client.send_command = counting
    try:
        build_mart(raw, cfg)
    finally:
        del client.send_command
        gc.enable()
    assert 0 < len(calls) <= 150
