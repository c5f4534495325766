"""Round-12 ADVICE fixes (ADVICE r11 #1–#5).

1. An UPDATE whose predicate mixes OR and AND must rewrite every
   file holding a matching row: a sheared OR part that pruned files
   DO holding matches would be silent UPDATE/DELETE data loss.
2. ``commit_file_rewrite`` on a partitioned base where EVERY file is
   touched and the rewrite is empty must leave a servable version
   (one empty flat file), not a zero-file directory that bricks the
   table head with UNABLE_TO_INFER_SCHEMA.
3. ``purge_rows`` with a predicate using per-query-constant time
   functions (current_date() retention purges) must take the
   single-evaluation whole-version rewrite, not crash on
   ``touched is None``.
4. A numeric literal against a STRING column must match by Spark's
   numeric comparison, never by the lexicographic order of stored
   strings ('40' < '5' lexicographically).
5. ``append_rows`` must reject a batch whose partition-column TYPE
   mismatches the base's inferred type, instead of silently widening
   the whole table's partition column on the next read.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.versioned import (
    PartitionedAppendError,
    append_rows,
    read_snapshot,
    snapshot_versions,
    write_snapshot,
)


class TestConjunctsOrNotBail:
    def test_manifest_route_update_with_or_predicate_is_exact(
        self, spark, tmp_path
    ):
        # OR+AND predicate: pruning on the sheared 'c = 3' conjunct
        # would carry the a = 1 rows in other files unmodified.
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 10, 3), (2, 20, 9), (3, 30, 9), (4, 40, 3)],
            "a int, b int, c int",
        )
        write_snapshot(df.repartition(4, "a"), root)
        Engine(spark).sql(
            f"UPDATE '{root}' SET b = -1 WHERE a = 1 OR a = 2 AND c = 9"
        ).first()
        got = {
            (r["a"], r["b"]) for r in read_snapshot(spark, root).collect()
        }
        assert got == {(1, -1), (2, -1), (3, 30), (4, 40)}


class TestEmptyRewriteStaysServable:
    def test_delete_everything_partitioned_keeps_table_readable(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "k long, g int, score double",
        )
        write_snapshot(df.repartition(3, "k"), root, partition_by=["g"])
        res = Engine(spark).sql(
            f"DELETE FROM '{root}' WHERE k >= 0"
        ).first()
        assert res["n_rows"] == 0
        out = read_snapshot(spark, root)
        assert out.count() == 0
        assert set(out.columns) == {"k", "g", "score"}


class TestPurgeTimePredicateFallback:
    def test_purge_with_current_date_predicate(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            purge_rows,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3, "2000-01-0%d" % (i % 9 + 1)) for i in range(30)],
            "k long, g int, d string",
        )
        write_snapshot(df.repartition(3, "k"), root, partition_by=["g"])
        # per-query-constant time function: touched-file discovery is
        # unsafe to evaluate twice -> whole-version rewrite, not a
        # TypeError
        res = purge_rows(
            spark,
            root,
            "to_date(d) < date_sub(current_date(), 1)",
            orphan_min_age_seconds=0.0,
        )
        assert res == [(1, 30, 0)]
        assert read_snapshot(spark, root).count() == 0


class TestManifestTypeFamilyGuard:
    def test_numeric_literal_never_prunes_string_column(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        # one file holds k='5' and k='40': lexicographic min='40',
        # max='5'; pruning numeric k = 5 on that range ('40'->40 <= 5
        # = false) would unsoundly skip the file
        df = spark.createDataFrame(
            [("5", 1), ("40", 2), ("7", 3), ("9", 4)], "k string, v int"
        )
        write_snapshot(df.coalesce(1), root)
        Engine(spark).sql(
            f"UPDATE '{root}' SET v = -1 WHERE k = 5"
        ).first()
        got = {
            (r["k"], r["v"]) for r in read_snapshot(spark, root).collect()
        }
        assert got == {("5", -1), ("40", 2), ("7", 3), ("9", 4)}


class TestRecordedLayout:
    """VERDICT r11 #2: the commit manifest records each version's
    partition layout, so DML eligibility reads it instead of walking
    every data file per statement."""

    def test_layout_recorded_and_trusted_without_walk(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.operators import cow
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "k long, g int, score double",
        )
        write_snapshot(df.repartition(3, "k"), root, partition_by=["g"])
        assert _read_manifest_doc(root)["layouts"] == {1: ["g"]}
        real = cow.iter_data_parquet_files
        calls = {"n": 0}

        def counting(d):
            calls["n"] += 1
            return real(d)

        cow.iter_data_parquet_files = counting
        try:
            assert cow.cow_eligible_base(root, 1)
        finally:
            cow.iter_data_parquet_files = real
        assert calls["n"] == 0

    def test_flat_append_and_cow_record_layouts(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
        write_snapshot(df, root)
        append_rows(spark.createDataFrame([(3, 3.0)], "k long, v double"), root)
        Engine(spark).sql(f"UPDATE '{root}' SET v = 0.0 WHERE k = 1").first()
        layouts = _read_manifest_doc(root)["layouts"]
        assert layouts.get(1) == [] and layouts.get(2) == []
        # the DML's commit (possibly after a zero-copy rebase) records
        # a flat layout for every version it published
        assert all(lo == [] for lo in layouts.values())


class TestPartitionSpellingPreserved:
    """VERDICT r11 #3: a COW rewrite on a zero-padded layout must
    republish touched rows under the base's LITERAL directory
    spelling — one directory per logical partition, not month=01 and
    month=1 side by side."""

    def _zero_padded_table(self, spark, root):
        # adopt a layout written with lpad-style month spellings
        df = spark.createDataFrame(
            [(i, "%02d" % ((i % 3) + 1), float(i)) for i in range(30)],
            "k long, month string, score double",
        )
        df.repartition(3, "k").write.partitionBy("month").parquet(root)
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            versionize_table,
        )

        versionize_table(root)

    def test_update_keeps_one_directory_per_partition(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        self._zero_padded_table(spark, root)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = -1.0 WHERE k = 4"
        ).first()
        v2 = os.path.join(root, "v=2")
        # the version's LOGICAL layout: local rewritten files plus
        # fileset-carried entries, one spelling per logical partition
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            version_files_with_rels,
        )

        dirs = sorted(
            {
                r.split(os.sep)[0]
                for _p, r in version_files_with_rels(v2)
                if r.startswith("month=")
            }
        )
        # base spelling preserved, no month=1/month=2/month=3 twins
        assert dirs == ["month=01", "month=02", "month=03"], dirs
        got = {
            (r["k"], r["month"], r["score"])
            for r in read_snapshot(spark, root).collect()
        }
        # reads use Spark's ordinary partition-value inference ('02'
        # infers to int 2 — the same value every read of the base
        # produced); the preserved spelling is a DIRECTORY property
        assert (4, 2, -1.0) in got
        assert len(got) == 30

    def test_repeated_dml_never_accumulates_spellings(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        self._zero_padded_table(spark, root)
        eng = Engine(spark)
        for k in (1, 2, 5):
            eng.sql(
                f"UPDATE '{root}' SET score = {float(k)} WHERE k = {k}"
            ).first()
        latest = max(
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("v=")
        )
        vdir = os.path.join(root, f"v={latest}")
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            version_files_with_rels,
        )

        dirs = sorted(
            {
                r.split(os.sep)[0]
                for _p, r in version_files_with_rels(vdir)
                if r.startswith("month=")
            }
        )
        assert dirs == ["month=01", "month=02", "month=03"], dirs
        assert read_snapshot(spark, root).count() == 30

    def test_int_layouts_unchanged(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, (i % 3) + 1, float(i)) for i in range(30)],
            "k long, g int, score double",
        )
        write_snapshot(df.repartition(3, "k"), root, partition_by=["g"])
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = -1.0 WHERE k = 4"
        ).first()
        v2 = os.path.join(root, "v=2")
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            version_files_with_rels,
        )

        dirs = sorted(
            {
                r.split(os.sep)[0]
                for _p, r in version_files_with_rels(v2)
                if r.startswith("g=")
            }
        )
        assert dirs == ["g=1", "g=2", "g=3"]
        assert read_snapshot(spark, root).count() == 30


class TestPartitionValueManifestPruning:
    """VERDICT r11 #6: a DML predicate on a partition column rewrites
    only that partition's files and carries the rest."""

    def test_dml_on_partition_key_stays_exact(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine
        from openaq_data_pipeline_engineering_spark.operators.cow import (
            last_cow_stats,
        )

        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(80)],
            "k long, g int, score double",
        )
        write_snapshot(df.repartition(4, "k"), root, partition_by=["g"])
        Engine(spark).sql(
            f"DELETE FROM '{root}' WHERE g = 2"
        ).first()
        stats = last_cow_stats(root)
        # only g=2's files were rewritten; the other partitions carried
        assert stats is not None and stats["files_carried"] > 0
        got = read_snapshot(spark, root)
        assert got.filter("g = 2").count() == 0
        assert got.count() == 60


class TestMergeNoopParity:
    """VERDICT r11 #5: a MERGE whose ON matches nothing and whose
    NOT-MATCHED clauses insert zero rows must not publish a version
    (Delta's no-op MERGE shape) — extending the r11 UPDATE/DELETE
    no-op to MERGE."""

    def _seed(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "k long, score double"
        )
        write_snapshot(df.repartition(2, "k"), root)
        return root

    def test_zero_match_zero_insert_merge_is_noop(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = self._seed(spark, tmp_path)
        spark.createDataFrame(
            [(99, 999.0)], "k long, score double"
        ).createOrReplaceTempView("src_noop")
        res = Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING src_noop AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED AND s.score < 0 THEN INSERT (k, score) "
            "VALUES (s.k, s.score)"
        ).first()
        assert res["version"] == res["base_version"] == 1
        assert snapshot_versions(root) == [1]  # no version churn
        got = {
            (r["k"], r["score"])
            for r in read_snapshot(spark, root).collect()
        }
        assert got == {(1, 10.0), (2, 20.0)}

    def test_zero_match_with_insert_still_commits(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = self._seed(spark, tmp_path)
        spark.createDataFrame(
            [(99, 999.0)], "k long, score double"
        ).createOrReplaceTempView("src_ins")
        res = Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING src_ins AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED THEN INSERT (k, score) "
            "VALUES (s.k, s.score)"
        ).first()
        assert res["version"] == 2
        assert read_snapshot(spark, root).count() == 3


class TestAppendPartitionTypeGuard:
    def test_string_batch_onto_int_base_rejected(self, spark, tmp_path):
        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 1, 1.0), (2, 2, 2.0)], "k long, g int, score double"
        )
        write_snapshot(base, root, partition_by=["g"])
        batch = spark.createDataFrame(
            [(3, "01", 3.0)], "k long, g string, score double"
        )
        with pytest.raises(PartitionedAppendError, match="type mismatch"):
            append_rows(batch, root)
        # table unchanged
        assert snapshot_versions(root) == [1]
        assert read_snapshot(spark, root).count() == 2

    def test_integral_widths_interchangeable(self, spark, tmp_path):
        root = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 1, 1.0), (2, 2, 2.0)], "k long, g int, score double"
        )
        write_snapshot(base, root, partition_by=["g"])
        batch = spark.createDataFrame(
            [(3, 3, 3.0)], "k long, g long, score double"
        )
        append_rows(batch, root)
        out = read_snapshot(spark, root)
        assert out.count() == 3
        assert {r["g"] for r in out.select("g").collect()} == {1, 2, 3}
