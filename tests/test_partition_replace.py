"""One partition-replace protocol for plain partitioned tables
(operators/compact.replace_partitions): the mart write, the re-delivery
merge and OPTIMIZE stage the new partitions, then swap each one in with
two renames. These tests stop the swap at every point a crash can hit
and check what a reader sees, what the table holds, and that re-running
the same statement heals it to the uncrashed result."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.operators import compact
from openaq_data_pipeline_engineering_spark.plans.incremental import merge_into_mart

SCHEMA = (
    "location_id string, datetime timestamp, pm25 double, extracted_at string, "
    "year string, month string, day string"
)
KEYS = ["location_id", "datetime"]


def _row(loc, day, hour, pm25, extracted):
    return (loc, dt.datetime(2026, 1, day, hour), pm25, extracted,
            "2026", "01", f"{day:02d}")


def _tie():
    return [F.desc("extracted_at")]


def _mart(spark, path):
    """Days 01-04, two locations, three hours each (24 rows)."""
    rows = [_row(loc, d, h, 10.0 * d + h, "t1")
            for d in range(1, 5) for loc in "ab" for h in range(3)]
    merge_into_mart(spark, path, spark.createDataFrame(rows, SCHEMA), KEYS, _tie())


def _redelivery(spark):
    """Touches days 02-05: a correction in each existing day, a new
    location in day 03 and a new day 05 — four partitions to swap."""
    rows = [_row("a", d, 0, -1.0 * d, "t2") for d in (2, 3, 4)]
    rows += [_row("c", 3, 1, 7.0, "t2"), _row("a", 5, 0, 5.0, "t2")]
    return spark.createDataFrame(rows, SCHEMA)


def _days(spark, path) -> dict[str, frozenset]:
    rows = spark.read.schema(SCHEMA).parquet(path).collect()
    out: dict[str, set] = {}
    for r in rows:
        out.setdefault(r["day"], set()).add(tuple(r))
    return {d: frozenset(v) for d, v in out.items()}


def _leftovers(path) -> list[str]:
    """Staging tree or parked directories a swap left behind."""
    staging = path + ".__optimize_tmp__"
    found = [staging] if os.path.exists(staging) else []
    for r, dirs, _files in os.walk(path):
        found += [os.path.join(r, d) for d in dirs if "__optimize_" in d]
    return found


def _crash_after(monkeypatch, n: int) -> None:
    """Make the n-th partition swap of the next replace the last one."""
    real, done = compact._swap_partition_dir, []

    def swap(path, staging, rel):
        real(path, staging, rel)
        done.append(rel)
        if len(done) == n:
            raise RuntimeError("injected crash after swap")

    monkeypatch.setattr(compact, "_swap_partition_dir", swap)


def _crash_between_renames(monkeypatch, leaf: str) -> None:
    """Park ``leaf`` (first rename done) and die before the second."""
    real = compact._swap_partition_dir

    def swap(path, staging, rel):
        if os.path.basename(rel) == leaf:
            live = os.path.join(path, rel)
            os.rename(live, compact._parked_dir(live))
            raise RuntimeError("injected crash between renames")
        real(path, staging, rel)

    monkeypatch.setattr(compact, "_swap_partition_dir", swap)


class TestParkedPartitionHidden:
    """A reader mid-swap must not see the parked copy of a partition:
    no bogus partition value spelled after it, no row twice."""

    def _table(self, spark, out):
        df = spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("p")
        )
        df.repartition(2).write.partitionBy("p").parquet(out)
        return df

    @pytest.mark.parametrize("state", ["both_present", "between_renames"])
    def test_plain_read_mid_swap(self, spark, tmp_path, monkeypatch, state):
        out = str(tmp_path / "t")
        df = self._table(spark, out)
        before = {tuple(r) for r in spark.read.parquet(out).collect()}
        if state == "both_present":
            # both renames done, the parked copy not yet reclaimed
            real_rmtree = shutil.rmtree

            def rmtree(p, *a, **kw):
                if str(p).endswith(".__optimize_old__"):
                    raise RuntimeError("injected crash before reclaim")
                real_rmtree(p, *a, **kw)

            monkeypatch.setattr(compact.shutil, "rmtree", rmtree)
        else:
            real_rename = os.rename

            def rename(src, dst):
                if ".__optimize_tmp__" in str(src):
                    raise RuntimeError("injected crash between renames")
                real_rename(src, dst)

            monkeypatch.setattr(compact.os, "rename", rename)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact.replace_partitions(df.where("p = 1"), out, ["p"])
        monkeypatch.undo()

        back = spark.read.parquet(out)
        values = {r[0] for r in back.select(F.col("p").cast("string")).distinct().collect()}
        assert values <= {"0", "1", "2"}
        rows = back.select("k", "p").collect()
        assert len(rows) == len(set(rows))

        compact._recover_interrupted_partition_rewrite(out)
        assert {tuple(r) for r in spark.read.parquet(out).collect()} == before
        assert _leftovers(out) == []


class TestMergeCrashSafety:
    def _reference(self, spark, tmp_path):
        """The mart before the re-delivery and the uncrashed merge of
        it, run on a copy."""
        mart = str(tmp_path / "mart")
        _mart(spark, mart)
        ref = str(tmp_path / "ref")
        shutil.copytree(mart, ref)
        merge_into_mart(spark, ref, _redelivery(spark), KEYS, _tie())
        return mart, _days(spark, mart), _days(spark, ref)

    @pytest.mark.parametrize("n", [1, 2, 3, 4])
    def test_crash_after_each_swap(self, spark, tmp_path, monkeypatch, n):
        mart, old, new = self._reference(spark, tmp_path)
        touched = sorted(d for d in new if new[d] != old.get(d))
        assert touched == ["02", "03", "04", "05"]

        _crash_after(monkeypatch, n)
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_into_mart(spark, mart, _redelivery(spark), KEYS, _tie())
        monkeypatch.undo()

        got = _days(spark, mart)
        # swaps run in sorted order: the first n partitions are new,
        # every other one is exactly as it was
        for i, d in enumerate(touched):
            assert got.get(d) == (new[d] if i < n else old.get(d)), d
        assert got["01"] == old["01"]

        merge_into_mart(spark, mart, _redelivery(spark), KEYS, _tie())
        assert _days(spark, mart) == new
        assert _leftovers(mart) == []

    def test_next_merge_keeps_rows_of_a_parked_partition(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash parks day 02, the re-delivery's first swap; the next
        batch touches day 02 too. The merge heals before it reads the
        mart, so day 02's other rows survive instead of being replaced
        by the batch alone."""
        mart = str(tmp_path / "mart")
        _mart(spark, mart)
        old = _days(spark, mart)

        _crash_between_renames(monkeypatch, "day=02")
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_into_mart(spark, mart, _redelivery(spark), KEYS, _tie())
        monkeypatch.undo()
        assert set(_days(spark, mart)) == {"01", "03", "04"}  # 02 parked

        extra = _row("d", 2, 2, 1.0, "t3")
        merge_into_mart(
            spark, mart, spark.createDataFrame([extra], SCHEMA), KEYS, _tie()
        )
        assert _days(spark, mart) == {**old, "02": old["02"] | {extra}}
        assert _leftovers(mart) == []


class TestOptimizeCrashSafety:
    """Bare OPTIMIZE (compaction) on a partitioned table."""

    def _table(self, spark, out):
        df = spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("p")
        )
        df.repartition(6).write.partitionBy("p").parquet(out)

    def _files(self, out) -> dict[str, frozenset]:
        return {
            d: frozenset(f for f in os.listdir(os.path.join(out, d))
                         if f.endswith(".parquet"))
            for d in os.listdir(out) if d.startswith("p=")
        }

    def _content(self, spark, out) -> dict[str, frozenset]:
        rows = spark.read.parquet(out).select("k", F.col("p").cast("string")).collect()
        out_: dict[str, set] = {}
        for k, p in rows:
            out_.setdefault(p, set()).add(k)
        return {p: frozenset(v) for p, v in out_.items()}

    @pytest.mark.parametrize("n", [1, 2, 3, 4])
    def test_crash_after_each_swap(self, spark, tmp_path, monkeypatch, n):
        out = str(tmp_path / "t")
        self._table(spark, out)
        ref = str(tmp_path / "ref")
        shutil.copytree(out, ref)
        Engine(spark).sql(f"OPTIMIZE '{ref}'")
        content, old_files = self._content(spark, out), self._files(out)

        _crash_after(monkeypatch, n)
        with pytest.raises(RuntimeError, match="injected crash"):
            Engine(spark).sql(f"OPTIMIZE '{out}'")
        monkeypatch.undo()

        files = self._files(out)
        assert sorted(files) == sorted(old_files)
        for i, d in enumerate(sorted(files)):
            if i < n:  # swapped in whole: no old file left beside new ones
                assert not files[d] & old_files[d], d
            else:
                assert files[d] == old_files[d], d
        assert self._content(spark, out) == content

        m = Engine(spark).sql(f"OPTIMIZE '{out}'").first()
        assert m["n_rows"] == 400
        assert self._content(spark, out) == self._content(spark, ref)
        assert {d: len(f) for d, f in self._files(out).items()} == {
            d: len(f) for d, f in self._files(ref).items()
        }
        assert _leftovers(out) == []


def test_write_mart_replaces_only_its_partitions_on_a_static_session(
    spark, tmp_path
):
    """write_mart swaps partitions in, so a session whose overwrite
    mode is static still keeps every partition the frame lacks."""
    from openaq_data_pipeline_engineering_spark.plans.mart import write_mart

    out = str(tmp_path / "mart")
    rows = [_row(loc, d, 0, 1.0, "t1") for d in (1, 2) for loc in "ab"]
    write_mart(spark.createDataFrame(rows, SCHEMA), out)
    conf = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "static")
    try:
        write_mart(spark.createDataFrame([_row("a", 2, 0, 9.0, "t2")], SCHEMA), out)
    finally:
        spark.conf.set(conf, prior)
    got = _days(spark, out)
    assert got["01"] == {r for r in rows if r[6] == "01"}
    assert got["02"] == {_row("a", 2, 0, 9.0, "t2")}


def test_optimize_rejects_a_mixed_layout(spark, tmp_path):
    """Flat files beside key=value directories give no one layout to
    rewrite through: OPTIMIZE refuses before reading and leaves the
    table as it was."""
    from openaq_data_pipeline_engineering_spark.operators.sqlutil import (
        UtilStatementError,
    )

    out = str(tmp_path / "t")
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    df.write.partitionBy("p").parquet(out)
    df.drop("p").write.mode("append").parquet(out)
    before = sorted(os.listdir(out))
    with pytest.raises(UtilStatementError, match="mixes partition layouts"):
        Engine(spark).sql(f"OPTIMIZE '{out}'")
    assert sorted(os.listdir(out)) == before
