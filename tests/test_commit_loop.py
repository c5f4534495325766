"""The shared copy-on-write commit loop (operators/cow.commit_rewrite):
streaming upsert, path-target UPDATE and path-target MERGE retry the
same way on a lost race, and the upsert runs no more Spark jobs than
before the loop was shared."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators import cow, versioned
from openaq_data_pipeline_engineering_spark.operators.sqldml import (
    execute_update_statement,
)
from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
    execute_merge_statement,
)
from openaq_data_pipeline_engineering_spark.streaming.upsert import (
    upsert_batch,
)


def _base(spark, root):
    """200 keyed rows over 8 files (flat, COW-eligible)."""
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(1).cast("long").alias("ts"),
    )
    versioned.write_snapshot(df.repartition(8, "k"), root)


def _upsert(spark, root):
    batch = spark.createDataFrame([(5, "mine", 2)], "k long, v string, ts long")
    upsert_batch(batch, 0, root, ["k"], "ts")


def _update(spark, root):
    execute_update_statement(spark, f"UPDATE '{root}' SET v = 'mine' WHERE k = 5")


def _merge(spark, root):
    execute_merge_statement(
        spark,
        f"MERGE INTO '{root}' t USING (SELECT 5L AS k, 'mine' AS v, "
        "2L AS ts) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v",
    )


STATEMENTS = {"upsert": _upsert, "update": _update, "merge": _merge}


def _snapshot(spark, root):
    return {
        r["k"]: r["v"]
        for r in versioned.read_snapshot(spark, root).collect()
    }


@pytest.mark.parametrize("racer_every_attempt", [False, True])
@pytest.mark.parametrize("statement", sorted(STATEMENTS))
def test_racer_between_read_and_commit(
    spark, tmp_path, monkeypatch, statement, racer_every_attempt
):
    """A racer republishes the whole table (every file gets a new
    identity, so no logical rebase applies) after the statement read
    its base and before it commits. Once: both changes land. Before
    every attempt: the statement raises ConcurrentWriteError after
    COMMIT_ATTEMPTS tries and the table ends at the racer's last
    version, with nothing of the statement committed."""
    root = str(tmp_path / "t")
    _base(spark, root)
    real = cow.commit_file_rewrite
    racer_keys: list[int] = []

    def racing(*args, **kwargs):
        if racer_every_attempt or not racer_keys:
            k = 1000 + len(racer_keys)
            racer_keys.append(k)
            row = spark.createDataFrame(
                [(k, "racer", 1)], "k long, v string, ts long"
            )
            versioned.write_snapshot(
                versioned.read_snapshot(spark, root).unionByName(row), root
            )
        return real(*args, **kwargs)

    monkeypatch.setattr(cow, "commit_file_rewrite", racing)
    run = STATEMENTS[statement]
    if not racer_every_attempt:
        run(spark, root)
        got = _snapshot(spark, root)
        assert racer_keys == [1000]
        assert got[5] == "mine" and got[1000] == "racer" and len(got) == 201
        return
    with pytest.raises(versioned.ConcurrentWriteError):
        run(spark, root)
    assert len(racer_keys) == cow.COMMIT_ATTEMPTS
    # v=1 is the base; every later version is a racer's full republish
    assert versioned.snapshot_versions(root) == list(
        range(1, cow.COMMIT_ATTEMPTS + 2)
    )
    version_dirs = sorted(
        int(d.split("=")[1]) for d in os.listdir(root) if d.startswith("v=")
    )
    assert version_dirs == versioned.snapshot_versions(root)
    got = _snapshot(spark, root)
    assert got[5] == "v5" and len(got) == 200 + cow.COMMIT_ATTEMPTS
    assert all(got[k] == "racer" for k in racer_keys)


def test_upsert_spark_job_budget(spark, tmp_path):
    """One upsert of a 2-row batch (one existing key, one new) into the
    200-row, 8-file base runs at most 10 Spark jobs: the count measured
    with this test on the code just before the three commit loops were
    merged into cow.commit_rewrite (local[4], 4 shuffle partitions)."""
    root = str(tmp_path / "t")
    _base(spark, root)
    batch = spark.createDataFrame(
        [(5, "U", 2), (10_000, "N", 2)], "k long, v string, ts long"
    )
    sc = spark.sparkContext
    group = f"upsert-job-budget-{os.getpid()}"
    sc.setJobGroup(group, "upsert job budget")
    try:
        upsert_batch(batch, 0, root, ["k"], "ts")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    stats = cow.last_cow_stats(root)
    assert stats["files_rewritten"] < 8 and stats["version"] == 2
    assert 0 < n_jobs <= 10


@pytest.mark.parametrize("partition_by", [None, ["p"]], ids=["flat", "partitioned"])
def test_upsert_replay_runs_no_spark_job(spark, tmp_path, partition_by):
    """Replaying an already-committed micro-batch returns its version
    before discovery or the merge runs: no Spark job, no new version."""
    root = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(1).cast("long").alias("ts"),
        (F.col("id") % 4).alias("p"),
    )
    versioned.write_snapshot(df.repartition(8, "k"), root, partition_by=partition_by)
    batch = spark.createDataFrame(
        [(5, "U", 2, 1), (10_000, "N", 2, 0)], "k long, v string, ts long, p long"
    )
    upsert_batch(batch, 0, root, ["k"], "ts")
    versions = versioned.snapshot_versions(root)
    assert versions == [1, 2]
    sc = spark.sparkContext
    group = f"upsert-replay-{os.getpid()}-{tmp_path.name}"
    sc.setJobGroup(group, "upsert replay")
    try:
        upsert_batch(batch, 0, root, ["k"], "ts")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert versioned.snapshot_versions(root) == versions
    got = _snapshot(spark, root)
    assert len(got) == 201 and got[5] == "U" and got[10_000] == "N"


def test_empty_upsert_batch_commits_its_txn(spark, tmp_path):
    """An upsert always commits, even a micro-batch with no rows: its
    txn entry is what turns a replay of that batch into a no-op. A
    statement without a txn (UPDATE/DELETE/MERGE) that changes nothing
    commits nothing."""
    root = str(tmp_path / "t")
    _base(spark, root)
    empty = spark.createDataFrame([], "k long, v string, ts long")
    upsert_batch(empty, 7, root, ["k"], "ts")
    assert versioned.snapshot_versions(root) == [1, 2]
    upsert_batch(empty, 7, root, ["k"], "ts")  # replay
    execute_update_statement(spark, f"UPDATE '{root}' SET v = 'x' WHERE k < 0")
    assert versioned.snapshot_versions(root) == [1, 2]
    assert len(_snapshot(spark, root)) == 200
