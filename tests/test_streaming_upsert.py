"""Streaming keyed upsert sink (streaming/upsert.py): CDC apply with
exactly-once across restarts and last-writer-wins per key."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from openaq_data_pipeline_engineering_spark.streaming.upsert import (
    read_snapshot,
    run_stream_upsert,
    upsert_batch,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)


def _write(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows))


def _stream(spark, src):
    return spark.readStream.format("json").schema(SCHEMA).load(str(src))


def _upsert_once(spark, df, target):
    """One micro-batch into a fresh target; the snapshot as {k: v}."""
    upsert_batch(df, 0, target, ["k"], "ts")
    return {r["k"]: r["v"] for r in read_snapshot(spark, target).collect()}


def test_batch_collapse_last_writer_wins(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)], SCHEMA
    )
    got = _upsert_once(spark, df, str(tmp_path / "t"))
    assert got == {1: "new", 2: "only"}


def test_batch_collapse_exact_ts_tie_is_layout_independent(spark, tmp_path):
    """Two deliveries sharing (key, ts) but differing payloads must
    collapse to the SAME winner on any partition layout — the row-hash
    tiebreak discriminates payloads (an md5 of the key columns alone is
    constant within the partition and picks an arbitrary row)."""
    rows = [(1, "alpha", 20), (1, "beta", 20), (1, "old", 10), (2, "x", 5)]
    winners = set()
    for parts in (1, 3, 7):
        df = spark.createDataFrame(rows, SCHEMA).repartition(parts)
        got = _upsert_once(spark, df, str(tmp_path / f"t{parts}"))
        assert got[2] == "x" and got[1] in ("alpha", "beta")
        winners.add(got[1])
    assert len(winners) == 1  # same winner on every layout


def test_stream_upsert_converges_and_is_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    tgt = str(tmp_path / "tgt")

    _write(src / "a.json", [
        {"k": 1, "v": "a1", "ts": 1},
        {"k": 2, "v": "a2", "ts": 1},
    ])
    run_stream_upsert(_stream(spark, src), ckpt, tgt, ["k"], "ts")
    snap1 = {r["k"]: r["v"] for r in read_snapshot(spark, tgt).collect()}
    assert snap1 == {1: "a1", 2: "a2"}

    # second wave: update k2, insert k3 twice (in-batch collapse -> ts 5)
    _write(src / "b.json", [
        {"k": 2, "v": "b2", "ts": 2},
        {"k": 3, "v": "stale", "ts": 3},
        {"k": 3, "v": "b3", "ts": 5},
    ])
    run_stream_upsert(_stream(spark, src), ckpt, tgt, ["k"], "ts")
    snap2 = {r["k"]: r["v"] for r in read_snapshot(spark, tgt).collect()}
    assert snap2 == {1: "a1", 2: "b2", 3: "b3"}

    # restart with no new files: checkpoint makes it a no-op (file a is
    # NOT re-applied; snapshot version count stays put)
    run_stream_upsert(_stream(spark, src), ckpt, tgt, ["k"], "ts")
    snap3 = {r["k"]: r["v"] for r in read_snapshot(spark, tgt).collect()}
    assert snap3 == snap2


def test_replayed_batch_is_idempotent_and_cdf_works(spark, tmp_path):
    """At-least-once contract: re-running upsert_batch with the SAME
    batch_id is a no-op (txn dedupe), and the streaming table now
    supports the versioned layer's change data feed."""
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        snapshot_changes,
        snapshot_versions,
    )
    from openaq_data_pipeline_engineering_spark.streaming.upsert import (
        upsert_batch,
    )

    tgt = str(tmp_path / "tgt")
    b0 = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0)], "k int, ts int, v double"
    )
    b1 = spark.createDataFrame(
        [(2, 20, 9.0), (3, 20, 3.0)], "k int, ts int, v double"
    )
    upsert_batch(b0, 0, tgt, ["k"], "ts")
    upsert_batch(b0, 0, tgt, ["k"], "ts")  # replay: must not add v2
    assert snapshot_versions(tgt) == [1]
    upsert_batch(b1, 1, tgt, ["k"], "ts")
    assert snapshot_versions(tgt) == [1, 2]
    feed = snapshot_changes(spark, tgt, keys=["k"], v_from=1, v_to=2)
    got = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert got == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (3, "insert"),
    }


def test_upsert_batch_survives_a_racing_writer(spark, tmp_path, monkeypatch):
    """A second writer committing between the sink's snapshot read and
    its commit must not be erased: the commit is conditional on the
    version read (expected_latest) and the batch re-merges on conflict
    — the lost-update shape the r8 advisor closed in
    checkpoint/OPTIMIZE, applied to the streaming sink."""
    from openaq_data_pipeline_engineering_spark.operators import versioned
    from openaq_data_pipeline_engineering_spark.streaming import upsert as up

    target = str(tmp_path / "t")
    versioned.write_snapshot(
        spark.createDataFrame([(1, "base", 1)], SCHEMA), target
    )
    racer = spark.createDataFrame([(7, "racer", 1)], SCHEMA)
    fired = {"done": False}
    real = up.merge_upsert

    def racing(base, delta, keys):
        if not fired["done"]:
            fired["done"] = True
            # the racer lands AFTER the sink read its base snapshot
            versioned.write_snapshot(
                versioned.read_snapshot(spark, target).unionByName(racer),
                target,
            )
        return real(base, delta, keys)

    monkeypatch.setattr(up, "merge_upsert", racing)
    batch = spark.createDataFrame([(2, "mine", 2)], SCHEMA)
    up.upsert_batch(batch, 0, target, ["k"], "ts")
    monkeypatch.undo()
    assert fired["done"]
    got = {
        r["k"]: r["v"]
        for r in versioned.read_snapshot(spark, target).collect()
    }
    # without the guard the racer's k=7 row would be silently erased
    assert got == {1: "base", 2: "mine", 7: "racer"}


def test_clone_of_the_sink_pauses_retention_without_failing(
    spark, tmp_path
):
    from openaq_data_pipeline_engineering_spark.operators import versioned
    from openaq_data_pipeline_engineering_spark.streaming.upsert import (
        upsert_batch,
    )

    target = str(tmp_path / "t")
    clone = str(tmp_path / "c")
    for i in range(3):
        upsert_batch(
            spark.createDataFrame([(i, f"v{i}", i)], SCHEMA),
            i,
            target,
            ["k"],
            "ts",
        )
    pin = versioned.snapshot_versions(target)[0]  # oldest survivor
    versioned.clone_snapshot(target, clone, version=pin)
    # further batches keep committing; vacuum refusal (the clone pins
    # that version's history) must not fail the stream
    for i in range(3, 6):
        upsert_batch(
            spark.createDataFrame([(i, f"v{i}", i)], SCHEMA),
            i,
            target,
            ["k"],
            "ts",
        )
    assert len(versioned.snapshot_versions(target)) > 2  # retention paused
    assert {
        r["k"] for r in versioned.read_snapshot(spark, target).collect()
    } == set(range(6))
    # the clone still reads its pin (version N holds keys 0..N-1:
    # one key per upserted batch)
    assert {
        r["k"] for r in versioned.read_snapshot(spark, clone).collect()
    } == set(range(pin))


def test_upsert_batches_are_file_granular(spark, tmp_path):
    """VERDICT r9 #1 applied to the streaming sink: a micro-batch
    touching one key rewrites only the file containing it; every other
    file of the base version is carried as an entry of the new
    version's fileset sidecar, naming its v=1 file — the per-batch
    write is O(touched files + batch), not O(table)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from openaq_data_pipeline_engineering_spark.operators import versioned
    from openaq_data_pipeline_engineering_spark.operators.cow import (
        last_cow_stats,
    )
    from openaq_data_pipeline_engineering_spark.streaming.upsert import (
        upsert_batch,
    )

    target = str(tmp_path / "t")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(1).cast("long").alias("ts"),
    )
    versioned.write_snapshot(base.repartition(8, "k"), target)

    v1 = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(target, "v=1", "*.parquet"))
        if not os.path.basename(p).startswith(("_", "."))
    }
    batch = spark.createDataFrame(
        [(5, "UPDATED", 2), (10_000, "NEW", 2)], "k long, v string, ts long"
    )
    upsert_batch(batch, 0, target, ["k"], "ts")
    stats = last_cow_stats(target)
    assert stats is not None and stats["version"] == 2
    assert 1 <= stats["files_carried"] <= len(v1) - 1
    # r12 fileset carry: untouched files are sidecar references to v1
    # (zero copy syscalls), not hardlinks
    from openaq_data_pipeline_engineering_spark.operators.filesets import (
        read_fileset,
    )

    fs = read_fileset(os.path.join(target, "v=2")) or {"entries": []}
    carried = {e["rel"] for e in fs["entries"] if int(e["v"]) != 2}
    assert carried <= v1 and len(carried) == stats["files_carried"]
    got = {
        r["k"]: r["v"]
        for r in versioned.read_snapshot(spark, target).collect()
    }
    assert got[5] == "UPDATED" and got[10_000] == "NEW" and len(got) == 201
    # replaying the SAME batch id is still a no-op through the COW path
    upsert_batch(batch, 0, target, ["k"], "ts")
    assert versioned.snapshot_versions(target) == [1, 2]
