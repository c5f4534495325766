"""File-granular copy-on-write DML (operators/cow.py — VERDICT r9 #1/#2).

Pins the write-amplification contract: a path-target UPDATE/DELETE/MERGE
rewrites ONLY the files containing matched rows, carries every other
base file as a FILESET SIDECAR REFERENCE to its owner version (r12 —
zero link/copy syscalls, object-store-safe; operators/filesets.py), and
on a CDF table derives the change rows from the touched files'
restricted diff instead of a full-table diff. Fallback
paths (no WHERE, delta-chain base, type-changing SET, BY SOURCE merges)
must produce the identical result through the full-snapshot publish.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.operators.cow import (
    LAST_COW_STATS,
    commit_file_rewrite,
    cow_eligible_base,
    last_cow_stats,
)
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    ConcurrentWriteError,
    ConstraintViolationError,
    add_constraint,
    append_rows,
    enable_change_feed,
    read_snapshot,
    snapshot_changes,
    snapshot_versions,
    table_changes,
    write_snapshot,
)


def _seed(spark, tmp_path, n=400, files=8, name="t"):
    """A versioned table whose v1 holds ``files`` hash-partitioned
    part files (k-partitioned, so a one-key predicate touches exactly
    one file)."""
    root = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    write_snapshot(df.repartition(files, "k"), root)
    return root


def _inodes(root: str, version: int) -> dict[str, int]:
    return {
        os.path.basename(p): os.stat(p).st_ino
        for p in glob.glob(os.path.join(root, f"v={version}", "*.parquet"))
        if not os.path.basename(p).startswith(("_", "."))
    }


def _carried_rels(root: str, version: int) -> set[str]:
    """rel paths ``version`` carries by sidecar REFERENCE to an owner
    version — the r12 object-store-safe carry (operators/filesets.py):
    zero link/copy syscalls; the entry names the file's original
    owner, so 'same rel carried' is a strictly stronger witness than
    the old hardlink inode equality."""
    from openaq_data_pipeline_engineering_spark.operators.filesets import (
        read_fileset,
    )

    fs = read_fileset(os.path.join(root, f"v={version}")) or {"entries": []}
    return {e["rel"] for e in fs["entries"] if int(e["v"]) != version}


class TestCowUpdateDelete:
    def test_one_key_update_rewrites_only_its_file(self, spark, tmp_path):
        """The directive's metrics-pinned shape: an UPDATE matching one
        key rewrites only the file containing it; every carried file is
        the SAME inode as v1's."""
        root = _seed(spark, tmp_path)
        v1 = _inodes(root, 1)
        m = Engine(spark).sql(
            f"UPDATE '{root}' SET score = score + 100.0 WHERE k = 5"
        ).first()
        assert (m["version"], m["base_version"], m["n_rows"]) == (2, 1, 400)
        stats = last_cow_stats(root)
        assert stats["files_carried"] == len(v1) - 1
        assert stats["files_rewritten"] >= 1
        assert stats["bytes_rewritten"] < sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(root, "v=1", "*.parquet"))
        )
        carried = _carried_rels(root, 2)
        assert carried <= set(v1) and len(carried) == stats["files_carried"]
        assert stats["copy_syscalls"] == 0  # reference-only carry
        # values: exactly one row changed; history intact
        latest = read_snapshot(spark, root)
        assert latest.count() == 400
        assert latest.filter("k = 5").first()["score"] == 105.0
        assert latest.filter("k != 5").agg(
            F.sum("score")
        ).first()[0] == read_snapshot(spark, root, version=1).filter(
            "k != 5"
        ).agg(F.sum("score")).first()[0]
        assert read_snapshot(spark, root, version=1).filter(
            "k = 5"
        ).first()["score"] == 5.0

    def test_delete_carries_untouched_files(self, spark, tmp_path):
        root = _seed(spark, tmp_path)
        v1 = _inodes(root, 1)
        Engine(spark).sql(f"DELETE FROM '{root}' WHERE k = 7")
        stats = last_cow_stats(root)
        assert stats["files_carried"] == len(v1) - 1
        latest = read_snapshot(spark, root)
        assert latest.count() == 399
        assert latest.filter("k = 7").count() == 0

    def test_zero_match_update_is_a_noop(self, spark, tmp_path):
        """ADVICE r10 #4 (Delta parity): a WHERE that matches NO files
        returns the current version WITHOUT committing — no version
        churn, no empty-rewrite carry, no CDF sidecar. The metrics row
        keeps its shape with version == base_version."""
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        m = Engine(spark).sql(
            f"UPDATE '{root}' SET score = 0.0 WHERE k = -1"
        ).first()
        assert m["version"] == 1 and m["base_version"] == 1
        assert m["n_rows"] == 400
        assert snapshot_versions(root) == [1]  # nothing committed
        assert last_cow_stats(root) is None
        assert read_snapshot(spark, root).agg(F.sum("score")).first()[
            0
        ] == read_snapshot(spark, root, version=1).agg(F.sum("score")).first()[0]

    def test_unfiltered_update_takes_full_path(self, spark, tmp_path):
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        Engine(spark).sql(f"UPDATE '{root}' SET score = score * 2.0")
        assert last_cow_stats(root) is None  # full-snapshot publish
        assert read_snapshot(spark, root).agg(F.sum("score")).first()[0] == (
            2.0
            * read_snapshot(spark, root, version=1)
            .agg(F.sum("score"))
            .first()[0]
        )

    def test_type_changing_update_falls_back(self, spark, tmp_path):
        """A SET whose CASE unification widens the column type (long →
        decimal here) would leave the new directory with mixed footers;
        the statement must fall back to the full rewrite — and still be
        correct. (A SET like ``score = 1`` on a double column is NOT
        type-changing: CASE coerces the literal to double, so the COW
        path legitimately applies.)"""
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        Engine(spark).sql(
            f"UPDATE '{root}' SET k = CAST(9999 AS DECIMAL(20, 0)) "
            "WHERE k = 5"
        )
        assert last_cow_stats(root) is None
        latest = read_snapshot(spark, root)
        assert latest.filter("k = 9999").count() == 1
        assert latest.filter("k = 5").count() == 0
        assert latest.count() == 400

    def test_delta_chain_base_rebases_then_cow(self, spark, tmp_path):
        """A DML statement on a table whose latest commit is an append
        DELTA first zero-copy-rebases the chain (a fileset referencing
        the chain's files — no data bytes) and then runs file-granular:
        the old behavior was a FULL table rewrite."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            snapshot_modes,
        )

        root = _seed(spark, tmp_path, n=50, files=2)
        append_rows(
            spark.range(1000, 1010).select(
                F.col("id").alias("k"), F.lit(1.0).alias("score")
            ),
            root,
        )
        assert not cow_eligible_base(root, 2)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        Engine(spark).sql(f"DELETE FROM '{root}' WHERE k = 1005")
        stats = last_cow_stats(root)
        assert stats is not None  # COW ran against the rebased base
        assert snapshot_versions(root) == [1, 2, 3, 4]
        assert snapshot_modes(root).get(3, "full") == "full"  # the rebase
        assert stats["version"] == 4 and stats["files_carried"] >= 1
        latest = read_snapshot(spark, root)
        assert latest.count() == 59
        assert latest.filter("k = 1005").count() == 0

    def test_type_changing_update_on_chain_skips_rebase(
        self, spark, tmp_path
    ):
        """ADVICE r10 #3: a type-changing SET on a delta-chain base
        must NOT commit a zero-copy rebase version first (it would
        fall back to the full rewrite anyway): the schema probe runs
        BEFORE ensure_cow_base, so the statement publishes exactly ONE
        new version."""
        root = _seed(spark, tmp_path, n=50, files=2)
        append_rows(
            spark.range(1000, 1010).select(
                F.col("id").alias("k"), F.lit(1.0).alias("score")
            ),
            root,
        )
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        Engine(spark).sql(
            f"UPDATE '{root}' SET k = CAST(9999 AS DECIMAL(20, 0)) "
            "WHERE k = 3"
        )
        assert last_cow_stats(root) is None  # full publish, no COW
        # v1 full, v2 delta, v3 THE statement — no interleaved rebase
        assert snapshot_versions(root) == [1, 2, 3]
        latest = read_snapshot(spark, root)
        assert latest.count() == 60
        assert latest.schema["k"].dataType.simpleString().startswith(
            "decimal"
        )

    def test_alias_qualified_where(self, spark, tmp_path):
        root = _seed(spark, tmp_path, n=60, files=3)
        Engine(spark).sql(
            f"UPDATE '{root}' AS x SET score = 9.0 WHERE x.k = 11"
        )
        assert last_cow_stats(root)["files_carried"] == 2
        assert read_snapshot(spark, root).filter("k = 11").first()[
            "score"
        ] == 9.0


class TestCowMerge:
    def test_merge_rewrites_only_matched_files(self, spark, tmp_path):
        root = _seed(spark, tmp_path)
        v1 = _inodes(root, 1)
        spark.createDataFrame(
            [(5, 500.0), (9999, 1.5)], "k long, score double"
        ).createOrReplaceTempView("cow_merge_src")
        m = Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_merge_src AS s "
            "ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED THEN INSERT *"
        ).first()
        assert (m["version"], m["n_rows"]) == (2, 401)
        stats = last_cow_stats(root)
        assert stats["files_carried"] == len(v1) - 1
        carried = _carried_rels(root, 2)
        assert carried <= set(v1) and len(carried) == stats["files_carried"]
        latest = read_snapshot(spark, root)
        assert latest.filter("k = 5").first()["score"] == 500.0
        assert latest.filter("k = 9999").first()["score"] == 1.5

    def test_merge_delete_clause_cow(self, spark, tmp_path):
        root = _seed(spark, tmp_path, n=100, files=4)
        spark.createDataFrame([(3,)], "k long").createOrReplaceTempView(
            "cow_del_src"
        )
        Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_del_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE"
        )
        assert last_cow_stats(root)["files_carried"] == 3
        assert read_snapshot(spark, root).count() == 99

    def test_by_source_merge_falls_back(self, spark, tmp_path):
        """WHEN NOT MATCHED BY SOURCE acts on UNmatched target rows —
        potentially every file — so the statement must take the full
        publish and still be correct."""
        root = _seed(spark, tmp_path, n=20, files=2)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        spark.createDataFrame(
            [(1, 10.0)], "k long, score double"
        ).createOrReplaceTempView("cow_bys_src")
        Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_bys_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
        assert last_cow_stats(root) is None
        latest = read_snapshot(spark, root)
        assert latest.count() == 1
        assert latest.first()["score"] == 10.0

    def test_conditioned_by_source_merge_is_file_granular(
        self, spark, tmp_path
    ):
        """VERDICT r10 #6: a by-source clause WITH an AND condition
        bounds its candidate files by the same predicate-pushed scan as
        UPDATE's WHERE — the statement rewrites only the ON-join files
        plus the condition's files and carries the rest by inode."""
        root = _seed(spark, tmp_path)  # 400 rows, 8 files
        v1 = _inodes(root, 1)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        spark.createDataFrame(
            [(5, 500.0)], "k long, score double"
        ).createOrReplaceTempView("cow_bys_cond_src")
        Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_bys_cond_src AS s "
            "ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED BY SOURCE AND t.k = 9 THEN DELETE"
        )
        stats = last_cow_stats(root)
        assert stats is not None, "conditioned by-source should COW"
        # at most 2 files touched (k=5's and k=9's), at least 6 carried
        assert stats["files_rewritten"] <= 2
        assert stats["files_carried"] >= len(v1) - 2
        carried = _carried_rels(root, stats["version"])
        assert carried <= set(v1)
        assert len(carried) == stats["files_carried"]
        latest = read_snapshot(spark, root)
        assert latest.count() == 399
        assert latest.filter("k = 9").count() == 0
        assert latest.filter("k = 5").first()["score"] == 500.0

    def test_by_source_condition_on_source_column_falls_back(
        self, spark, tmp_path
    ):
        """A by-source AND condition referencing SOURCE columns cannot
        be evaluated on a target-only scan — full publish, still
        correct. (Source columns are NULL for by-source rows, so the
        condition is never TRUE and no row is deleted.)"""
        root = _seed(spark, tmp_path, n=20, files=2)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        spark.createDataFrame(
            [(1, 10.0)], "k long, score double"
        ).createOrReplaceTempView("cow_bys_srccol")
        Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_bys_srccol AS s "
            "ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE AND s.score > 0 THEN DELETE"
        )
        assert last_cow_stats(root) is None
        assert read_snapshot(spark, root).count() == 20

    def test_strict_ambiguity_still_detected_on_subset(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
            MergeError,
        )

        root = _seed(spark, tmp_path, n=20, files=2)
        spark.createDataFrame(
            [(1, 1.0), (1, 2.0)], "k long, score double"
        ).createOrReplaceTempView("cow_dup_src")
        with pytest.raises(MergeError, match="multiple source rows"):
            Engine(spark).sql(
                f"MERGE INTO '{root}' AS t USING cow_dup_src AS s "
                "ON t.k = s.k WHEN MATCHED THEN UPDATE SET score = s.score"
            )
        assert snapshot_versions(root) == [1]  # nothing committed


class TestCowChangeFeed:
    def test_derived_changes_match_full_diff(self, spark, tmp_path):
        """VERDICT r9 #2: the COW commit derives change rows from the
        touched files' restricted diff; the result must equal the full
        snapshot diff row-for-row."""
        root = str(tmp_path / "cdf")
        enable_change_feed(spark, root, ["k"])
        df = spark.range(0, 300).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).cast("double").alias("score"),
        )
        write_snapshot(df.repartition(6, "k"), root)
        Engine(spark).sql(
            f"UPDATE '{root}' SET score = score + 50.0 WHERE k IN (2, 150)"
        )
        assert last_cow_stats(root) is not None  # took the COW path
        derived = {
            (r["k"], r["score"], r["_change_type"])
            for r in table_changes(spark, root, 1, 2).select(
                "k", "score", "_change_type"
            ).collect()
        }
        full = {
            (r["k"], r["score"], r["_change_type"])
            for r in snapshot_changes(spark, root, ["k"], 1, 2).collect()
        }
        assert derived == full
        assert derived == {
            (2, 2.0, "update_preimage"),
            (2, 52.0, "update_postimage"),
            (150, 0.0, "update_preimage"),
            (150, 50.0, "update_postimage"),
        }

    def test_derived_changes_for_delete_and_insert(self, spark, tmp_path):
        root = str(tmp_path / "cdf2")
        enable_change_feed(spark, root, ["k"])
        write_snapshot(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0), (3, 3.0)], "k long, score double"
            ).repartition(3, "k"),
            root,
        )
        spark.createDataFrame(
            [(2, 20.0), (9, 9.0)], "k long, score double"
        ).createOrReplaceTempView("cow_cdf_src")
        Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING cow_cdf_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = s.score "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = {
            (r["k"], r["score"], r["_change_type"])
            for r in table_changes(spark, root, 1, 2).select(
                "k", "score", "_change_type"
            ).collect()
        }
        assert got == {
            (2, 2.0, "update_preimage"),
            (2, 20.0, "update_postimage"),
            (9, 9.0, "insert"),
        }

    def test_zero_match_cdf_delete_skips_commit(self, spark, tmp_path):
        """ADVICE r10 #4: a zero-match DELETE on a CDF table commits
        NOTHING — no new version, no empty change sidecar (Delta's
        no-op DML behavior). table_changes over the table stays
        empty because the table is still at v1."""
        root = str(tmp_path / "cdf3")
        enable_change_feed(spark, root, ["k"])
        write_snapshot(
            spark.createDataFrame([(1, 1.0)], "k long, score double"), root
        )
        m = Engine(spark).sql(f"DELETE FROM '{root}' WHERE k = 42").first()
        assert m["version"] == 1 and m["base_version"] == 1
        assert snapshot_versions(root) == [1]
        assert table_changes(spark, root, 1).count() == 0


class TestCowDeterminismGuard:
    """ADVICE r10 #1: COW evaluates the predicate/source TWICE
    (discovery, then lowering). A non-deterministic or
    per-query-constant-time expression could match different rows in
    the two passes — the guard forces the single-evaluation full
    rewrite, which stays correct for any expression."""

    def test_plan_is_cow_safe(self, spark):
        from openaq_data_pipeline_engineering_spark.operators.cow import (
            plan_is_cow_safe,
        )

        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("v")
        )
        assert plan_is_cow_safe(df.filter("k = 5"))
        assert not plan_is_cow_safe(df.filter("rand() < 0.5"))
        assert not plan_is_cow_safe(
            df.filter(F.expr("v = cast(substring(uuid(), 1, 1) as int)"))
        )
        # deterministic per Spark's flag, but constant PER QUERY — two
        # jobs see two values
        assert not plan_is_cow_safe(
            df.filter("k = unix_timestamp(current_timestamp()) % 10")
        )
        # non-determinism hidden in a subquery
        assert not plan_is_cow_safe(
            df.filter(
                "k IN (SELECT id FROM (SELECT id, rand() r FROM range(5)) "
                "WHERE r < 2)"
            )
        )
        assert plan_is_cow_safe(df.filter("k IN (SELECT id FROM range(5))"))

    def test_rand_predicate_falls_back_to_full_rewrite(
        self, spark, tmp_path
    ):
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        m = Engine(spark).sql(
            f"UPDATE '{root}' SET score = 0.0 WHERE rand() <= 1.0"
        ).first()
        assert last_cow_stats(root) is None  # full-snapshot publish
        assert m["version"] == 2
        assert (
            read_snapshot(spark, root).agg(F.sum("score")).first()[0] == 0.0
        )

    def test_current_timestamp_delete_falls_back(self, spark, tmp_path):
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        m = Engine(spark).sql(
            f"DELETE FROM '{root}' "
            "WHERE unix_timestamp(current_timestamp()) > 0"
        ).first()
        assert last_cow_stats(root) is None
        assert m["version"] == 2 and m["n_rows"] == 0

    def test_nondeterministic_merge_source_falls_back(
        self, spark, tmp_path
    ):
        root = _seed(spark, tmp_path)
        LAST_COW_STATS.pop(os.path.abspath(root), None)
        m = Engine(spark).sql(
            f"MERGE INTO '{root}' AS t USING "
            "(SELECT 7 AS k, rand() AS r) AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET score = 0.0"
        ).first()
        assert last_cow_stats(root) is None  # full publish
        assert m["version"] == 2
        assert read_snapshot(spark, root).filter("k = 7").first()[
            "score"
        ] == 0.0


class TestCowCommitProtocol:
    def test_stale_base_raises_conflict(self, spark, tmp_path):
        root = _seed(spark, tmp_path, n=20, files=2)
        write_snapshot(
            spark.createDataFrame([(1, 1.0)], "k long, score double"), root
        )  # v2: the table advances past v1
        with pytest.raises(ConcurrentWriteError):
            commit_file_rewrite(
                spark,
                root,
                base=1,
                rewritten=read_snapshot(spark, root, version=1).limit(0),
                touched=[],
            )
        assert snapshot_versions(root) == [1, 2]  # no orphan committed

    def test_constraint_violation_rejects_rewrite(self, spark, tmp_path):
        root = _seed(spark, tmp_path, n=20, files=2)
        add_constraint(spark, root, "score_pos", "score >= 0")
        with pytest.raises(ConstraintViolationError):
            Engine(spark).sql(
                f"UPDATE '{root}' SET score = -5.0 WHERE k = 1"
            )
        assert snapshot_versions(root) == [1]
        assert read_snapshot(spark, root).filter("k = 1").first()[
            "score"
        ] == 1.0

    def test_racing_cow_updates_never_lose_either(self, spark, tmp_path):
        """Two concurrent path-target UPDATEs: losers raise
        ConcurrentWriteError (optimistic guard — never a silent lost
        update); every SUCCESSFUL statement's effect is present in the
        final table and row count is stable."""
        import threading

        root = _seed(spark, tmp_path, n=100, files=4)
        outcomes: dict[int, str] = {}
        unexpected: list[str] = []
        barrier = threading.Barrier(2)

        def run(i: int):
            barrier.wait()
            try:
                Engine(spark).sql(
                    f"UPDATE '{root}' SET score = {1000.0 + i} "
                    f"WHERE k = {i}"
                )
                outcomes[i] = "ok"
            except ConcurrentWriteError:
                outcomes[i] = "conflict"
            except BaseException as e:  # noqa: BLE001 - capture detail
                # VERDICT r11 #4 shape: a thread dying on anything else
                # (e.g. a Py4J transient under co-run load) must fail
                # the test WITH its exception chain, not silently skip
                # its outcome assertions.
                parts = [f"{type(e).__name__}: {e}"]
                jexc = getattr(e, "java_exception", None)
                while jexc is not None:
                    try:
                        parts.append(
                            f"{jexc.getClass().getName()}: "
                            f"{jexc.getMessage()}"
                        )
                        jexc = jexc.getCause()
                    except Exception:
                        parts.append("<java detail unavailable>")
                        break
                unexpected.append(" <- ".join(parts))

        ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not unexpected, unexpected
        assert "ok" in outcomes.values()  # at least one landed
        latest = read_snapshot(spark, root)
        assert latest.count() == 100
        for i, res in outcomes.items():
            got = latest.filter(f"k = {i}").first()["score"]
            if res == "ok":
                assert got == 1000.0 + i
            else:
                assert got == float(i % 7)  # untouched

    def test_touched_files_must_belong_to_base(self, spark, tmp_path):
        root = _seed(spark, tmp_path, n=10, files=1)
        with pytest.raises(ValueError, match="not data files"):
            commit_file_rewrite(
                spark,
                root,
                base=1,
                rewritten=read_snapshot(spark, root).limit(0),
                touched=[str(tmp_path / "bogus.parquet")],
            )

    def test_discovery_scan_pushes_predicate(self, spark, tmp_path):
        """The touched-file discovery must reach the parquet reader as
        a PUSHED filter (row-group stats then skip non-matching files
        at footer cost) — a coalesce-wrapped predicate would silently
        read every row group of the predicate columns."""
        root = _seed(spark, tmp_path, n=100, files=4)
        vdir = os.path.join(root, "v=1")
        plan = (
            spark.read.parquet(vdir)
            .withColumn("__cow_file", F.col("_metadata.file_path"))
            .filter(F.expr("k = 5"))
            .select("__cow_file")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [IsNotNull(k), EqualTo(k,5)]" in plan, plan

    def test_purge_rewrites_only_files_holding_matches(self, spark, tmp_path):
        """purge_rows is file-granular on flat versions: the rewrite of
        each retained version touches only the files containing
        matching rows; every other file is hardlinked into the staged
        directory (erasure I/O ∝ files the subject occupies). The
        matching inode must lose ALL names across versions."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            purge_rows,
        )

        root = _seed(spark, tmp_path)
        # v2 = one-key COW update on k=6 (a DIFFERENT file than k=5's):
        # the k=5 file is carried, so v1 and v2 SHARE its inode — the
        # purge must rewrite that shared file in BOTH versions and
        # carry the rest in both
        Engine(spark).sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 6")

        # RESOLVED per-version file->inode view (v2 is a fileset: its
        # carried files physically live in v=1 until purge_rows
        # materializes it)
        def _resolved_inodes(version: int) -> dict[str, int]:
            from openaq_data_pipeline_engineering_spark.operators.filesets import (
                version_data_files,
            )

            return {
                os.path.basename(p): os.stat(p).st_ino
                for p in version_data_files(
                    os.path.join(root, f"v={version}")
                )
            }

        v1_before, v2_before = _resolved_inodes(1), _resolved_inodes(2)
        results = purge_rows(
            spark, root, "k = 5", orphan_min_age_seconds=0
        )
        assert {(v, p) for v, p, _ in results} == {(1, 1), (2, 1)}
        for version, before in ((1, v1_before), (2, v2_before)):
            after = _inodes(root, version)
            shared = sum(
                1 for n, ino in after.items() if before.get(n) == ino
            )
            assert shared == len(before) - 1  # only the k=5 file rewrote
            df = read_snapshot(spark, root, version=version)
            assert df.filter("k = 5").count() == 0
            assert df.count() == 399

    def test_vacuum_after_cow_keeps_shared_bytes_alive(self, spark, tmp_path):
        """The fileset carry means v2 READS files v1's directory
        physically owns: the file-granular vacuum (r12) expires v1
        from the manifest while retaining exactly the referenced files
        in place — the live version keeps reading byte-identical
        content — and retires the directory entirely once a
        MATERIALIZING commit (OPTIMIZE) ends the references."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            vacuum_snapshots,
        )

        root = _seed(spark, tmp_path)
        Engine(spark).sql(f"UPDATE '{root}' SET score = 0.0 WHERE k = 5")
        total_before = read_snapshot(spark, root).agg(F.sum("score")).first()[0]
        dropped = vacuum_snapshots(root, keep_last=1)
        assert dropped == [1]  # expired; referenced files retained
        assert os.path.isdir(os.path.join(root, "v=1"))
        assert read_snapshot(spark, root).agg(F.sum("score")).first()[
            0
        ] == total_before
        Engine(spark).sql(f"OPTIMIZE '{root}'")  # materializes v3
        dropped = vacuum_snapshots(root, keep_last=1)
        assert dropped == [2]
        assert not os.path.isdir(os.path.join(root, "v=1"))  # retired
        assert read_snapshot(spark, root).agg(F.sum("score")).first()[
            0
        ] == total_before
