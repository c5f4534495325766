"""File-granular copy-on-write on Hive-PARTITIONED versioned bases
(VERDICT r10 #1).

A partitioned root — the dominant warehouse layout at 100 TB — used to
fall back to a full-table rewrite on every UPDATE/DELETE/MERGE. Now the
carry links untouched files under their SAME ``key=value/`` subpaths
(inode-equality pinned here) and the rewrite republishes touched rows
through ``partitionBy``, so bytes written ∝ touched partition files.

Also pins: partition-moving UPDATE (SET on a partition column routes
rows to their new directory), the derived change feed on a partitioned
base, the zero-copy rebase of consistently-partitioned restore bases,
mixed-layout fallback, file-granular purge_rows on partitioned
versions, and exact spelling round-trip for string-typed partition
values.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.operators.cow import (
    cow_eligible_base,
    last_cow_stats,
    partition_layout,
)
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    enable_change_feed,
    read_snapshot,
    restore_snapshot,
    snapshot_changes,
    snapshot_versions,
    table_changes,
    versionize_table,
)


def _seed_partitioned(spark, tmp_path, name="t", month_type="int"):
    """An adopted Hive-partitioned table: 30 rows, 3 month partitions,
    3 part files per partition (k-hash), so a one-key predicate touches
    exactly one file of one partition."""
    root = str(tmp_path / name)
    if month_type == "int":
        df = spark.createDataFrame(
            [(i, (i % 3) + 1, float(i)) for i in range(30)],
            "k long, m int, score double",
        )
    else:
        df = spark.createDataFrame(
            [(i, f"m{(i % 3) + 1}", float(i)) for i in range(30)],
            "k long, m string, score double",
        )
    df.repartition(3, "k").write.partitionBy("m").parquet(root)
    versionize_table(root)
    return root


def _rel_inodes(root: str, version: int) -> dict[str, int]:
    """relative-subpath -> inode of every data file of v=<version> —
    the partition-aware twin of test_cow_dml._inodes."""
    vdir = os.path.join(root, f"v={version}")
    out = {}
    for p in glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(p, vdir)
        if not os.path.basename(p).startswith(("_", ".")) and "_changes" not in rel:
            out[rel] = os.stat(p).st_ino
    return out


def _carried_rels(root: str, version: int) -> set[str]:
    """rel paths ``version`` carries by sidecar REFERENCE (r12
    object-store-safe carry, operators/filesets.py): zero link/copy
    syscalls, the entry naming the original owner — a strictly
    stronger witness than the old hardlink inode equality."""
    from openaq_data_pipeline_engineering_spark.operators.filesets import (
        read_fileset,
    )

    fs = read_fileset(os.path.join(root, f"v={version}")) or {"entries": []}
    return {e["rel"] for e in fs["entries"] if int(e["v"]) != version}


class TestPartitionedCowUpdateDelete:
    def test_one_key_update_rewrites_only_its_partition_file(
        self, spark, tmp_path
    ):
        root = _seed_partitioned(spark, tmp_path)
        assert cow_eligible_base(root, 1)
        v1 = _rel_inodes(root, 1)
        m = Engine(spark).sql(
            f"UPDATE '{root}' SET score = score + 100 WHERE k = 7"
        ).first()
        stats = last_cow_stats(root)
        assert m["version"] == 2 and stats is not None
        # exactly one file rewritten; every carried file is a sidecar
        # REFERENCE at the SAME relative key=value/ subpath (zero
        # copy syscalls — r12 fileset carry)
        assert stats["files_rewritten"] == 1
        assert stats["files_carried"] == len(v1) - 1
        assert stats["copy_syscalls"] == 0
        carried = _carried_rels(root, 2)
        assert carried <= set(v1)
        assert len(carried) == stats["files_carried"]
        # carried files keep their partition DIRECTORY (values intact)
        assert all(os.sep in r and r.startswith("m=") for r in carried)
        out = read_snapshot(spark, root)
        assert out.count() == 30
        assert out.filter("k = 7").first()["score"] == 107.0
        # partition values identical to a plain read of the adopted v1
        assert sorted(
            tuple(r) for r in out.select("m", "k").collect()
        ) == sorted(
            tuple(r)
            for r in read_snapshot(spark, root, version=1)
            .select("m", "k")
            .collect()
        )

    def test_partition_pruning_bounds_discovery(self, spark, tmp_path):
        """A predicate on the PARTITION column touches only that
        partition's files; the other partitions carry by inode."""
        root = _seed_partitioned(spark, tmp_path)
        v1 = _rel_inodes(root, 1)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = 0.0 WHERE m = 2"
        ).first()
        stats = last_cow_stats(root)
        in_m2 = {r for r in v1 if r.startswith("m=2" + os.sep)}
        assert stats["files_rewritten"] >= 1
        assert stats["files_carried"] == len(v1) - len(in_m2)
        carried = _carried_rels(root, 2)
        for r in v1:
            if not r.startswith("m=2" + os.sep):
                assert r in carried  # referenced in place, not copied
        out = read_snapshot(spark, root)
        assert out.filter("m = 2").agg(F.sum("score")).first()[0] == 0.0
        assert out.count() == 30

    def test_partition_moving_update(self, spark, tmp_path):
        """SET on the partition column: updated rows land in their NEW
        key=value directory; untouched files still carry."""
        root = _seed_partitioned(spark, tmp_path)
        v1 = _rel_inodes(root, 1)
        Engine(spark).sql(
            f"UPDATE '{root}' SET m = 9 WHERE k IN (7, 8)"
        ).first()
        stats = last_cow_stats(root)
        assert stats is not None and stats["files_carried"] >= 1
        out = read_snapshot(spark, root)
        assert out.count() == 30
        assert sorted(
            r["k"] for r in out.filter("m = 9").collect()
        ) == [7, 8]
        v2_local = _rel_inodes(root, 2)  # files v2 physically wrote
        assert any(r.startswith("m=9" + os.sep) for r in v2_local)
        carried = _carried_rels(root, 2)
        assert carried <= set(v1)
        assert len(carried) == stats["files_carried"]

    def test_partitioned_delete(self, spark, tmp_path):
        root = _seed_partitioned(spark, tmp_path)
        v1 = _rel_inodes(root, 1)
        Engine(spark).sql(f"DELETE FROM '{root}' WHERE k = 3").first()
        stats = last_cow_stats(root)
        assert stats["files_rewritten"] == 1
        assert stats["files_carried"] == len(v1) - 1
        out = read_snapshot(spark, root)
        assert out.count() == 29
        assert out.filter("k = 3").count() == 0

    def test_string_partition_values_roundtrip_verbatim(
        self, spark, tmp_path
    ):
        """String-typed partition values keep their exact spelling in
        both carried AND rewritten directories (inference keeps them
        strings; partitionBy writes the string back verbatim)."""
        root = _seed_partitioned(spark, tmp_path, month_type="string")
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = -1.0 WHERE m = 'm2'"
        ).first()
        assert last_cow_stats(root) is not None
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            version_files_with_rels,
        )

        dirs = {
            r.split(os.sep)[0]
            for _p, r in version_files_with_rels(
                os.path.join(root, "v=2")
            )
        }
        assert dirs == {"m=m1", "m=m2", "m=m3"}
        out = read_snapshot(spark, root)
        assert out.filter("m = 'm2'").agg(F.sum("score")).first()[0] == -10.0
        assert out.schema["m"].dataType.simpleString() == "string"


class TestPartitionedCowMerge:
    def test_merge_cdf_derived_matches_full_diff(self, spark, tmp_path):
        """MERGE on a CDF-enabled partitioned base: the O(touched)
        derived change rows equal the full-snapshot diff row-for-row."""
        root = _seed_partitioned(spark, tmp_path)
        enable_change_feed(spark, root, ["k"])
        spark.createDataFrame(
            [(7, 99.0), (100, 1.0)], "k long, nscore double"
        ).createOrReplaceTempView("src_pcow")
        Engine(spark).sql(
            f"""
            MERGE INTO '{root}' t USING src_pcow s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET score = s.nscore
            WHEN NOT MATCHED THEN INSERT (k, m, score)
                VALUES (s.k, 5, s.nscore)
            """
        ).first()
        assert last_cow_stats(root) is not None  # took the COW path
        derived = {
            (r["k"], r["score"], r["m"], r["_change_type"])
            for r in table_changes(spark, root, 1, 2).collect()
        }
        full = {
            (r["k"], r["score"], r["m"], r["_change_type"])
            for r in snapshot_changes(spark, root, ["k"], 1, 2).collect()
        }
        assert derived == full
        assert {t[3] for t in derived} == {
            "insert",
            "update_preimage",
            "update_postimage",
        }

    def test_merge_insert_routes_to_new_partition(self, spark, tmp_path):
        root = _seed_partitioned(spark, tmp_path)
        spark.createDataFrame(
            [(200, 7, 2.5)], "k long, m int, score double"
        ).createOrReplaceTempView("src_pcow2")
        Engine(spark).sql(
            f"""
            MERGE INTO '{root}' t USING src_pcow2 s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, m, score)
                VALUES (s.k, s.m, s.score)
            """
        ).first()
        v2 = _rel_inodes(root, 2)
        assert any(r.startswith("m=7" + os.sep) for r in v2)
        assert read_snapshot(spark, root).filter("m = 7").count() == 1


class TestPartitionedRebaseAndFallback:
    def test_restore_of_partitioned_base_rebases_zero_copy(
        self, spark, tmp_path
    ):
        """RESTORE onto an adopted partitioned v1: ensure_cow_base
        zero-copy-rebases (a fileset commit referencing v1's files at
        their key=value subpaths — no data bytes, r12) and the
        subsequent UPDATE is file-granular."""
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            is_fileset_dir,
            read_fileset,
        )

        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = 0.0 WHERE k = 1"
        ).first()  # v2
        restore_snapshot(root, version=1)  # v3: restore commit
        v1 = _rel_inodes(root, 1)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = 50.0 WHERE k = 2"
        ).first()
        stats = last_cow_stats(root)
        assert stats is not None, "expected rebase + file-granular DML"
        # the rebase version (v4) references v1's files at the same
        # subpaths — no local data files of its own
        v4dir = os.path.join(root, "v=4")
        assert is_fileset_dir(v4dir)
        assert _rel_inodes(root, 4) == {}
        assert {
            e["rel"] for e in read_fileset(v4dir)["entries"]
        } == set(v1)
        assert stats["version"] == 5 and stats["files_rewritten"] == 1
        out = read_snapshot(spark, root)
        assert out.filter("k = 1").first()["score"] == 1.0  # restored
        assert out.filter("k = 2").first()["score"] == 50.0

    def test_mixed_layout_falls_back_to_full_rewrite(self, spark, tmp_path):
        """A version dir holding BOTH flat and partitioned data files
        is ineligible (partition_layout -> None): the statement still
        succeeds through the identical-result full publish."""
        root = _seed_partitioned(spark, tmp_path)
        vdir = os.path.join(root, "v=1")
        # splice a flat data file next to the partition dirs
        spark.createDataFrame(
            [(999, 1, 0.5)], "k long, m int, score double"
        ).coalesce(1).write.parquet(str(tmp_path / "flat"))
        flat = glob.glob(str(tmp_path / "flat" / "*.parquet"))[0]
        os.link(flat, os.path.join(vdir, os.path.basename(flat)))
        assert partition_layout(vdir) is None
        assert not cow_eligible_base(root, 1)

    def test_consistent_partitioned_chain_links_by_subpath(
        self, spark, tmp_path
    ):
        """_checkpoint_zero_copy rebases a restore-of-partitioned
        chain by fileset reference at relative subpaths instead of
        refusing."""
        from openaq_data_pipeline_engineering_spark.operators.filesets import (
            is_fileset_dir,
            read_fileset,
        )
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _checkpoint_zero_copy,
        )

        root = _seed_partitioned(spark, tmp_path)
        restore_snapshot(root, version=1)  # v2 restore commit
        v = _checkpoint_zero_copy(spark, root, 2, None)
        assert v == 3
        v3dir = os.path.join(root, "v=3")
        assert is_fileset_dir(v3dir)
        assert {
            e["rel"] for e in read_fileset(v3dir)["entries"]
        } == set(_rel_inodes(root, 1))
        assert read_snapshot(spark, root, version=3).count() == 30


class TestPartitionedOptimize:
    def test_optimize_preserves_layout(self, spark, tmp_path):
        """OPTIMIZE '<root>' on a one-layout partitioned base compacts
        WITHIN the layout (the new full version keeps its key=value
        directories) instead of silently flattening the partition
        columns into data columns."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            append_rows,
        )

        root = _seed_partitioned(spark, tmp_path)
        # a few auto-partitioned small-file deltas worth compacting
        for i in (100, 101, 102):
            append_rows(
                spark.createDataFrame(
                    [(i, (i % 3) + 1, float(i))],
                    "k long, m int, score double",
                ),
                root,
            )
        before = sorted(
            tuple(r) for r in read_snapshot(spark, root).collect()
        )
        Engine(spark).sql(f"OPTIMIZE '{root}'").first()
        latest = read_snapshot(spark, root)
        assert sorted(tuple(r) for r in latest.collect()) == before
        # the optimized version directory is still partitioned
        vdirs = sorted(
            d
            for d in os.listdir(root)
            if d.startswith("v=") and d[2:].isdigit()
        )
        top = os.path.join(root, vdirs[-1])
        subdirs = {
            e for e in os.listdir(top) if os.path.isdir(os.path.join(top, e))
        }
        assert any(e.startswith("m=") for e in subdirs), subdirs
        assert latest.schema["m"].dataType.simpleString() == "int"


class TestPartitionedPurge:
    def test_purge_preserves_layout_and_carries_untouched(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            purge_rows,
        )

        root = _seed_partitioned(spark, tmp_path)
        v1 = _rel_inodes(root, 1)
        purge_rows(spark, root, "k = 7")
        v1_after = _rel_inodes(root, 1)
        # layout survived: data still under m=*/ subdirs
        assert partition_layout(os.path.join(root, "v=1")) == ["m"]
        # untouched files carried in place (same inode, same subpath)
        carried = {
            r for r, ino in v1_after.items() if v1.get(r) == ino
        }
        assert len(carried) == len(v1) - 1
        out = read_snapshot(spark, root, version=1)
        assert out.count() == 29
        assert out.filter("k = 7").count() == 0
        # partition values intact for every surviving row
        assert out.filter("m NOT IN (1, 2, 3)").count() == 0

    def test_purge_across_a_version_without_data_files(self, spark, tmp_path):
        """An empty append onto a partitioned table commits a version
        directory holding no data files. The purge counts it as zero
        rows instead of failing to infer its schema."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            append_rows,
            purge_rows,
            write_snapshot,
        )

        root = str(tmp_path / "empty_append")
        df = spark.createDataFrame(
            [(i, (i % 4) + 1, float(i)) for i in range(40)],
            "k long, m int, score double",
        )
        write_snapshot(df, root, partition_by=["m"])
        append_rows(df.limit(0), root)
        purge_rows(spark, root, "k = 5", orphan_min_age_seconds=0)
        for version in (None, 1):
            out = read_snapshot(spark, root, version=version)
            assert out.count() == 39
            assert out.filter("k = 5").count() == 0


class TestNativePartitionedWrites:
    def test_write_snapshot_partition_by(self, spark, tmp_path):
        """write_snapshot(partition_by=...) creates the partitioned
        layout natively (no versionize_table adoption needed); COW DML,
        auto-partitioned appends, and time travel all compose."""
        from openaq_data_pipeline_engineering_spark.operators.cow import (
            cow_eligible_base,
            last_cow_stats,
        )
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            append_rows,
            write_snapshot,
        )

        root = str(tmp_path / "native")
        df = spark.createDataFrame(
            [(i, (i % 3) + 1, float(i)) for i in range(30)],
            "k long, m int, score double",
        )
        write_snapshot(df.repartition(3, "k"), root, partition_by=["m"])
        assert os.path.isdir(os.path.join(root, "v=1", "m=2"))
        assert cow_eligible_base(root, 1)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = 0.0 WHERE k = 7"
        ).first()
        stats = last_cow_stats(root)
        assert stats is not None and stats["files_rewritten"] == 1
        append_rows(
            spark.createDataFrame([(50, 9, 5.0)], "k long, m int, score double"),
            root,
        )
        out = read_snapshot(spark, root)
        assert out.count() == 31
        assert out.filter("m = 9").first()["k"] == 50
        assert out.filter("k = 7").first()["score"] == 0.0
        assert read_snapshot(spark, root, version=1).count() == 30


class TestPartitionedInsertStatements:
    def test_insert_into_and_overwrite_preserve_layout(
        self, spark, tmp_path
    ):
        """INSERT INTO a partitioned root publishes a partitioned delta
        (append auto-match); INSERT OVERWRITE re-publishes PARTITIONED
        like Delta keeps table partitioning on overwrite. Positional
        alignment follows the READ schema, where partition columns come
        LAST (k, score, m)."""
        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(
            f"INSERT INTO '{root}' VALUES (100, 1.5, 7)"
        ).first()
        assert os.path.isdir(os.path.join(root, "v=2", "m=7"))
        out = read_snapshot(spark, root)
        assert out.count() == 31
        assert out.filter("m = 7").first()["k"] == 100
        Engine(spark).sql(
            f"INSERT OVERWRITE '{root}' "
            f"SELECT k, score, m FROM parquet.`{root}/v=1` WHERE m = 2"
        ).first()
        vdirs = sorted(
            int(d[2:])
            for d in os.listdir(root)
            if d.startswith("v=") and d[2:].isdigit()
        )
        top = os.path.join(root, f"v={vdirs[-1]}")
        assert os.path.isdir(os.path.join(top, "m=2"))
        latest = read_snapshot(spark, root)
        assert latest.count() == 10
        assert latest.select("m").distinct().collect()[0]["m"] == 2


class TestPartitionedAppendComposes:
    def test_update_then_append_then_update(self, spark, tmp_path):
        """After partitioned DML the table stays partitioned; an append
        whose batch carries the partition column auto-publishes a
        PARTITIONED delta, a layout-incapable batch is rejected, and a
        subsequent UPDATE rebases the chain zero-copy then runs
        file-granular against the merged partitioned base."""
        import pytest

        from openaq_data_pipeline_engineering_spark.operators.cow import (
            last_cow_stats,
        )
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            PartitionedAppendError,
            append_rows,
        )

        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(f"DELETE FROM '{root}' WHERE k = 0").first()  # v2
        with pytest.raises(PartitionedAppendError, match="lacks column"):
            append_rows(
                spark.createDataFrame([(500, 0.0)], "k long, score double"),
                root,
            )
        append_rows(  # carries the partition column -> partitioned delta
            spark.createDataFrame(
                [(500, 1, 0.0)], "k long, m int, score double"
            ),
            root,
        )  # v3
        assert read_snapshot(spark, root).count() == 30
        assert snapshot_versions(root) == [1, 2, 3]
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = -1.0 WHERE k = 500"
        ).first()
        stats = last_cow_stats(root)
        assert stats is not None  # rebased (v4) then COW (v5)
        out = read_snapshot(spark, root)
        assert out.count() == 30
        assert out.filter("k = 500").first()["score"] == -1.0
        assert out.filter("k = 500").first()["m"] == 1  # partition kept


_EMPTY_APPEND_STATEMENTS = {
    "update": "UPDATE '{root}' SET v = 'z' WHERE k = 5",
    "optimize": "OPTIMIZE '{root}'",
    "insert_overwrite": (
        "INSERT OVERWRITE '{root}' SELECT k, v, m FROM empty_append_src"
    ),
}


class TestEmptyAppendKeepsLayout:
    @pytest.mark.parametrize("stmt", sorted(_EMPTY_APPEND_STATEMENTS))
    def test_statement_after_empty_append_keeps_layout(
        self, spark, tmp_path, stmt
    ):
        """An empty append onto a ``partition_by`` table writes no
        files (a partitionBy of zero rows emits nothing) but records
        the layout ["m"]. UPDATE, bare OPTIMIZE and INSERT OVERWRITE
        must keep resolving the chain as partitioned: the empty delta
        directory is not a flat one. Results equal a run without the
        empty append."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
            append_rows,
            write_snapshot,
        )

        df = spark.createDataFrame(
            [(i, f"v{i}", i % 4) for i in range(40)],
            "k long, v string, m int",
        )
        df.createOrReplaceTempView("empty_append_src")
        rows = {}
        for name, empty_append in (("plain", False), ("appended", True)):
            root = str(tmp_path / name)
            write_snapshot(df, root, partition_by=["m"])
            if empty_append:
                append_rows(df.limit(0), root)
            Engine(spark).sql(
                _EMPTY_APPEND_STATEMENTS[stmt].format(root=root)
            ).first()
            doc = _read_manifest_doc(root)
            assert doc["layouts"].get(doc["versions"][-1]) == ["m"], name
            if stmt == "update":
                stats = last_cow_stats(root)
                assert stats is not None, name
                assert stats["files_rewritten"] == 1, name
            rows[name] = sorted(
                tuple(r)
                for r in read_snapshot(spark, root)
                .select("k", "v", "m")
                .collect()
            )
        assert len(rows["plain"]) == 40
        assert rows["appended"] == rows["plain"]
        if stmt == "update":
            assert ("z", 1) in {(v, m) for k, v, m in rows["plain"] if k == 5}
