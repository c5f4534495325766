"""Manifest-referenced version file sets (operators/filesets.py —
VERDICT r11 #1, the object-store-safe COW carry).

A COW DML commit publishes its rewritten files plus a ``_fileset.json``
sidecar whose entries reference every untouched file AT ITS ORIGINAL
OWNER version — zero link/copy syscalls for the carry, on every store.
These tests pin the protocol consequences: owner propagation across
chained DML, reader resolution (latest / time travel / chains / CDF),
vacuum's owner protection and post-materialization reclamation, clone
and restore composition, and purge materialization.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.operators.cow import (
    last_cow_stats,
)
from openaq_data_pipeline_engineering_spark.operators.filesets import (
    fileset_owner_versions,
    is_fileset_dir,
    read_fileset,
    version_data_files,
    version_files_with_rels,
)
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    append_rows,
    clone_snapshot,
    enable_change_feed,
    purge_rows,
    read_snapshot,
    restore_snapshot,
    snapshot_versions,
    table_changes,
    vacuum_snapshots,
    write_snapshot,
)


def _seed_flat(spark, tmp_path, n=400, files=8, name="t"):
    root = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    write_snapshot(df.repartition(files, "k"), root)
    return root


def _seed_partitioned(spark, tmp_path, name="tp"):
    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, (i % 5), float(i)) for i in range(50)],
        "k long, g int, score double",
    )
    write_snapshot(df.repartition(2, "k"), root, partition_by=["g"])
    return root


class TestFilesetCommitShape:
    def test_update_publishes_fileset_with_zero_copy_syscalls(
        self, spark, tmp_path
    ):
        root = _seed_flat(spark, tmp_path)
        Engine(spark).sql(f"UPDATE '{root}' SET score = 1.5 WHERE k = 3")
        stats = last_cow_stats(root)
        assert stats["carry_mode"] == "fileset"
        assert stats["copy_syscalls"] == 0
        v2 = os.path.join(root, "v=2")
        assert is_fileset_dir(v2)
        fs = read_fileset(v2)
        # carried entries name v1; rewritten entries name v2 itself
        owners = {int(e["v"]) for e in fs["entries"]}
        assert owners == {1, 2}
        carried = [e for e in fs["entries"] if int(e["v"]) == 1]
        assert len(carried) == stats["files_carried"]
        # the version dir physically holds ONLY the rewritten files
        local = [
            p
            for p in os.listdir(v2)
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        ]
        assert len(local) == stats["files_rewritten"]
        # every entry resolves to a real physical file
        for p in version_data_files(v2):
            assert os.path.isfile(p)

    def test_chained_dml_references_original_owners(self, spark, tmp_path):
        """Invariant 1: a chain of K DML commits references each stable
        file ONCE, at its original owner — no reference-through-
        reference chains to walk at read time."""
        root = _seed_flat(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"UPDATE '{root}' SET score = 1.0 WHERE k = 3")   # v2
        eng.sql(f"UPDATE '{root}' SET score = 2.0 WHERE k = 100") # v3
        eng.sql(f"DELETE FROM '{root}' WHERE k = 250")            # v4
        fs4 = read_fileset(os.path.join(root, "v=4"))
        owners = {int(e["v"]) for e in fs4["entries"]}
        # every owner is a version that PHYSICALLY wrote the file —
        # entries never point at an intermediate carrier's reference
        for e in fs4["entries"]:
            d = os.path.join(root, f"v={e['v']}")
            assert os.path.isfile(os.path.join(d, e["rel"]))
        assert 1 in owners and 4 in owners
        out = read_snapshot(spark, root)
        assert out.count() == 399
        assert out.filter("k = 3").first()["score"] == 1.0
        assert out.filter("k = 100").first()["score"] == 2.0
        # full history stays time-travelable
        assert read_snapshot(spark, root, version=1).count() == 400
        assert read_snapshot(spark, root, version=3).filter(
            "k = 250"
        ).count() == 1

    def test_partitioned_update_carries_by_reference_at_subpaths(
        self, spark, tmp_path
    ):
        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(f"UPDATE '{root}' SET score = -1.0 WHERE g = 2")
        stats = last_cow_stats(root)
        assert stats["carry_mode"] == "fileset"
        assert stats["copy_syscalls"] == 0
        fs = read_fileset(os.path.join(root, "v=2"))
        carried = [e for e in fs["entries"] if int(e["v"]) == 1]
        assert carried and all(
            e["rel"].startswith("g=") and os.sep in e["rel"]
            for e in carried
        )
        assert fs["layout"] == ["g"]
        out = read_snapshot(spark, root)
        assert out.count() == 50
        assert out.filter("g = 2").agg(F.sum("score")).first()[0] == -10.0
        assert (
            out.filter("g != 2").agg(F.sum("score")).first()[0]
            == read_snapshot(spark, root, version=1)
            .filter("g != 2")
            .agg(F.sum("score"))
            .first()[0]
        )

    def test_delete_emptying_files_leaves_pure_reference_version(
        self, spark, tmp_path
    ):
        """A DELETE that empties whole files writes NO local files:
        the version is sidecar-only and must still read, time-travel,
        and serve as the next DML's base."""
        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(f"DELETE FROM '{root}' WHERE g = 4")
        v2 = os.path.join(root, "v=2")
        stats = last_cow_stats(root)
        assert stats["files_rewritten"] == 0  # whole files vanished
        assert not any(
            f.endswith(".parquet")
            for f in os.listdir(v2)
            if not f.startswith(("_", "."))
        )
        out = read_snapshot(spark, root)
        assert out.count() == 40 and out.filter("g = 4").count() == 0
        # next DML runs file-granular against the pure-reference base
        Engine(spark).sql(f"UPDATE '{root}' SET score = 9.0 WHERE k = 1")
        assert last_cow_stats(root)["carry_mode"] == "fileset"
        out = read_snapshot(spark, root)
        assert out.filter("k = 1").first()["score"] == 9.0
        assert out.count() == 40

    def test_cdf_derivation_on_fileset_base(self, spark, tmp_path):
        root = str(tmp_path / "cdf")
        df = spark.range(0, 60).select(
            F.col("id").alias("k"), F.lit(1.0).alias("score")
        )
        write_snapshot(df.repartition(4, "k"), root)
        enable_change_feed(spark, root, ["k"])
        eng = Engine(spark)
        eng.sql(f"UPDATE '{root}' SET score = 2.0 WHERE k = 5")   # v2
        eng.sql(f"UPDATE '{root}' SET score = 3.0 WHERE k = 5")   # v3 on a fileset base
        ch = table_changes(spark, root, 2, 3).filter("k = 5")
        types = {
            (r["_commit_version"], r["_change_type"]): r["score"]
            for r in ch.collect()
        }
        assert types[(3, "update_preimage")] == 2.0
        assert types[(3, "update_postimage")] == 3.0


class TestFilesetRetention:
    def test_repeated_dml_vacuum_reclaims_incrementally(
        self, spark, tmp_path
    ):
        """The 100 TB retention story: every UPDATE+vacuum cycle frees
        exactly the newly-overwritten file from the retained v1
        directory — reclamation proportional to churn, never waiting
        for a full-table OPTIMIZE."""
        import os

        from openaq_data_pipeline_engineering_spark.operators.compact import (
            iter_data_parquet_files,
        )

        root = _seed_flat(spark, tmp_path, n=400, files=4)
        eng = Engine(spark)
        v1 = os.path.join(root, "v=1")
        assert len(list(iter_data_parquet_files(v1))) == 4

        def files_left() -> int:
            return len(list(iter_data_parquet_files(v1)))

        # keys 5 / 150 / 250 / 350 land in the 4 distinct range files
        # only after repartitionByRange; with hash layout just pick
        # keys observed to hit different files via the stats sidecar
        eng.sql(f"UPDATE '{root}' SET score = 777.0 WHERE k = 5")
        vacuum_snapshots(root, keep_last=1)
        left1 = files_left()
        eng.sql(f"UPDATE '{root}' SET score = 777.0 WHERE k = 150")
        vacuum_snapshots(root, keep_last=1)
        left2 = files_left()
        eng.sql(f"UPDATE '{root}' SET score = 777.0 WHERE k = 250")
        vacuum_snapshots(root, keep_last=1)
        left3 = files_left()
        # each cycle monotonically sheds the newly-overwritten files
        assert left1 <= 3 and left2 <= left1 and left3 <= left2
        out = read_snapshot(spark, root)
        assert out.count() == 400
        assert out.filter("score = 777.0").count() == 3
        # a materializing OPTIMIZE retires everything retained
        eng.sql(f"OPTIMIZE '{root}'")
        vacuum_snapshots(root, keep_last=1)
        assert not os.path.isdir(v1)
        assert read_snapshot(spark, root).count() == 400

    def test_vacuum_expires_versions_but_retains_referenced_files(
        self, spark, tmp_path
    ):
        """File-granular vacuum (r12): versions expire by retention,
        files expire when unreferenced — Delta's shape. Dropping v1/v2
        from the manifest retains exactly the files the live fileset
        still references (reads stay green), frees the overwritten
        ones, and a later materializing OPTIMIZE retires the retained
        directories entirely."""
        import os

        root = _seed_flat(spark, tmp_path, n=100, files=4)
        eng = Engine(spark)
        eng.sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 5")   # v2
        eng.sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 50")  # v3
        # v3 references files of v1 + v2: RETAIN 1 expires both from
        # the manifest, retaining only the referenced files in place
        assert vacuum_snapshots(root, keep_last=1) == [1, 2]
        assert snapshot_versions(root) == [3]
        out = read_snapshot(spark, root)
        assert out.count() == 100
        assert out.filter("k = 5").first()["score"] == 0.0
        assert out.filter("k = 50").first()["score"] == 0.0
        # the retained dirs are manifest-tracked, partially pruned
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
        )

        assert _read_manifest_doc(root)["retained_dirs"] == [1, 2]
        assert os.path.isdir(os.path.join(root, "v=1"))
        # OPTIMIZE materializes v4 — nothing references the retained
        # dirs anymore; the next vacuum retires them and drops v3
        eng.sql(f"OPTIMIZE '{root}'")
        assert vacuum_snapshots(root, keep_last=1) == [3]
        assert snapshot_versions(root) == [4]
        assert _read_manifest_doc(root)["retained_dirs"] == []
        assert not os.path.isdir(os.path.join(root, "v=1"))
        assert not os.path.isdir(os.path.join(root, "v=2"))
        assert read_snapshot(spark, root).count() == 100

    def test_checkpoint_rebase_references_fileset_chain(
        self, spark, tmp_path
    ):
        """A delta append on a fileset base reads as a chain; the
        zero-copy rebase the NEXT DML triggers publishes a FILESET
        version referencing the chain's files at their original owners
        (r12 — zero data I/O on any store); vacuum then expires the
        old versions from the manifest while retaining exactly the
        still-referenced files."""
        root = _seed_flat(spark, tmp_path, n=100, files=4)
        eng = Engine(spark)
        eng.sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 5")  # v2 fileset
        append_rows(
            spark.createDataFrame(
                [(1000, 1.0)], "k long, score double"
            ),
            root,
        )  # v3 delta
        assert read_snapshot(spark, root).count() == 101
        eng.sql(f"DELETE FROM '{root}' WHERE k = 7")  # rebase v4 + COW v5
        assert snapshot_versions(root) == [1, 2, 3, 4, 5]
        v4 = os.path.join(root, "v=4")
        assert is_fileset_dir(v4)  # the rebase is a REFERENCE commit
        assert len(version_data_files(v4)) >= 4  # resolves the chain
        out = read_snapshot(spark, root)
        assert out.count() == 100
        assert out.filter("k = 7").count() == 0
        assert out.filter("k = 1000").count() == 1
        # vacuum expires the old versions; their referenced files are
        # retained in place so v4/v5 keep reading
        assert vacuum_snapshots(root, keep_last=2) == [1, 2, 3]
        assert read_snapshot(spark, root).count() == 100
        assert read_snapshot(spark, root, version=4).count() == 101

    def test_purge_materializes_then_erases_everywhere(self, spark, tmp_path):
        root = _seed_flat(spark, tmp_path, n=100, files=4)
        Engine(spark).sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 5")
        assert is_fileset_dir(os.path.join(root, "v=2"))
        results = purge_rows(spark, root, "k = 9", orphan_min_age_seconds=0)
        assert {(v, p) for v, p, _ in results} == {(1, 1), (2, 1)}
        # materialization dropped the sidecar; both versions self-own
        assert not is_fileset_dir(os.path.join(root, "v=2"))
        for v in (1, 2):
            got = read_snapshot(spark, root, version=v)
            assert got.count() == 99
            assert got.filter("k = 9").count() == 0


class TestFilesetConcurrency:
    def test_racing_updates_serialize_through_cas(self, spark, tmp_path):
        """Two threads UPDATE disjoint keys concurrently: the CAS
        commit serializes them (the loser's statement-level retry
        re-discovers against the winner's fileset version), and the
        final content holds BOTH updates with full history."""
        import threading

        root = _seed_flat(spark, tmp_path, n=100, files=4)
        errs: list[Exception] = []

        def run(k: int, val: float) -> None:
            try:
                Engine(spark).sql(
                    f"UPDATE '{root}' SET score = {val} WHERE k = {k}"
                ).first()
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        ts = [
            threading.Thread(target=run, args=(5, 111.0)),
            threading.Thread(target=run, args=(50, 222.0)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        versions = snapshot_versions(root)
        # three commits; numbers need not be contiguous (the race
        # loser's first CLAIM is rolled back and re-allocated)
        assert len(versions) == 3 and versions[0] == 1
        out = read_snapshot(spark, root)
        assert out.count() == 100
        assert out.filter("k = 5").first()["score"] == 111.0
        assert out.filter("k = 50").first()["score"] == 222.0
        # the final commit (whoever lost the race) is a fileset
        # referencing ORIGINAL owners — files untouched by both
        # updates still point at v1
        latest_dir = os.path.join(root, f"v={versions[-1]}")
        owners = fileset_owner_versions(latest_dir)
        assert is_fileset_dir(latest_dir)
        assert 1 in owners and owners <= set(versions)


class TestFilesetCloneRestore:
    def test_restore_to_fileset_version_reads_through_references(
        self, spark, tmp_path
    ):
        root = _seed_flat(spark, tmp_path, n=100, files=4)
        eng = Engine(spark)
        eng.sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 5")  # v2
        eng.sql(f"DELETE FROM '{root}' WHERE k < 50")            # v3
        restore_snapshot(root, version=2)                         # v4
        out = read_snapshot(spark, root)
        assert out.count() == 100
        assert out.filter("k = 5").first()["score"] == 0.0
        # vacuum keeps the restore target (v2) in the MANIFEST (chain
        # resolution walks it); v1 expires from the manifest but its
        # referenced files are retained in place (file-granular
        # vacuum), and v3 — referenced by nothing once the restore
        # rewound past it — reclaims wholesale
        assert vacuum_snapshots(root, keep_last=1) == [1, 3]
        out = read_snapshot(spark, root)
        assert out.count() == 100
        assert out.filter("k = 5").first()["score"] == 0.0

    def test_shallow_clone_of_fileset_version_resolves_owners(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            VacuumBlockedByCloneError,
        )

        src = _seed_flat(spark, tmp_path, n=100, files=4, name="src")
        Engine(spark).sql(f"UPDATE '{src}' SET score = 0.0 WHERE k = 5")
        dst = str(tmp_path / "dst")
        pinned = clone_snapshot(src, dst)
        assert pinned == 2
        got = read_snapshot(spark, dst)
        assert got.count() == 100
        assert got.filter("k = 5").first()["score"] == 0.0
        # the clone's fileset reads THROUGH the source's v1 directory:
        # source-side vacuum must refuse to reclaim it
        Engine(spark).sql(f"INSERT OVERWRITE '{src}' SELECT 1 AS k, CAST(1.0 AS DOUBLE) AS score")
        with pytest.raises(VacuumBlockedByCloneError):
            vacuum_snapshots(src, keep_last=1)
        # clone still green after the refused vacuum
        assert read_snapshot(spark, dst).count() == 100

    def test_dml_inside_clone_references_source_owners(
        self, spark, tmp_path
    ):
        """A COW commit INSIDE a shallow clone writes a fileset whose
        owner directories live in the SOURCE — resolution walks the
        clone's base_root chain."""
        src = _seed_flat(spark, tmp_path, n=100, files=4, name="src2")
        dst = str(tmp_path / "dst2")
        clone_snapshot(src, dst)
        Engine(spark).sql(f"UPDATE '{dst}' SET score = 7.0 WHERE k = 3")
        v2 = os.path.join(dst, "v=2")
        assert is_fileset_dir(v2)
        # referenced files resolve into the SOURCE root
        assert any(
            os.path.abspath(p).startswith(os.path.abspath(src) + os.sep)
            for p in version_data_files(v2)
        )
        out = read_snapshot(spark, dst)
        assert out.count() == 100
        assert out.filter("k = 3").first()["score"] == 7.0
        # the source is untouched
        assert read_snapshot(spark, src).filter("k = 3").first()[
            "score"
        ] == 3.0


class TestFilesetDiscoveryIntegration:
    def test_version_files_with_rels_is_owner_relative(
        self, spark, tmp_path
    ):
        root = _seed_partitioned(spark, tmp_path)
        Engine(spark).sql(f"UPDATE '{root}' SET score = 0.0 WHERE g = 1")
        v2 = os.path.join(root, "v=2")
        pairs = version_files_with_rels(v2)
        assert len(pairs) == len(version_data_files(v2))
        for p, rel in pairs:
            assert p.endswith(rel.split(os.sep)[-1])
            assert rel.startswith("g=")
        assert fileset_owner_versions(v2) <= {1, 2}
