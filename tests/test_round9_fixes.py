"""Round-9 ADVICE fixes, pinned.

Five findings from the round-8 advisor:
1. checkpoint_appends / OPTIMIZE-versioned were read-modify-write
   without ``expected_latest`` — a concurrent append landing between
   the read and the publish was silently erased from latest.
2. Stream offsets assumed version order == commit order, but the
   protocol allowed a delta to commit BELOW an already-committed
   higher version — permanently outside every future offset range.
3. ``_chain_versions`` resolved a delta's base by version number, so
   a late full snapshot committing below a committed delta would
   retroactively change that delta's content.
4. A failed strict MERGE leaked its persisted joined relation.
5. Time-travel rewrite matched inside string literals, and its fixed
   temp-view names collided across concurrent Engine.sql calls.

(2) and (3) share one fix: the commit protocol now REJECTS the
out-of-order commits whose semantics were unsound (delta below any
committed higher version; full below a committed delta's chain span)
and the write paths auto-retry at a fresh number, so committed deltas
are totally ordered by both number and commit time.
"""

from __future__ import annotations

import os

import pytest

from openaq_data_pipeline_engineering_spark.operators import versioned
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    ConcurrentWriteError,
    _allocate_and_write,
    _commit_version,
    append_rows,
    checkpoint_appends,
    read_snapshot,
    snapshot_modes,
    snapshot_versions,
    write_snapshot,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _rows(df):
    return {tuple(r) for r in df.collect()}


class TestOutOfOrderCommitGuard:
    def test_delta_below_committed_higher_version_is_rejected(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)  # v1 full
        # writer A claims v2 (delta) but stalls before commit
        va = _allocate_and_write(_df(spark, [(2, "b")]), root)
        # writer B appends and commits v3 while A is stalled
        vb = append_rows(_df(spark, [(3, "c")]), root)
        assert (va, vb) == (2, 3)
        # A's late delta commit below v3 must be rejected — committing
        # it would retroactively splice row (2,b) into v3's chain,
        # changing v3's already-readable content.
        before = _rows(read_snapshot(spark, root, version=vb))
        with pytest.raises(ConcurrentWriteError, match="out-of-order"):
            _commit_version(root, va, mode="delta")
        assert snapshot_versions(root) == [1, 3]
        assert _rows(read_snapshot(spark, root, version=vb)) == before
        # the rejected claim is cleaned up, not left as an orphan
        assert not os.path.isdir(os.path.join(root, "v=2"))

    def test_full_below_committed_delta_chain_is_rejected(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)  # v1 full
        va = _allocate_and_write(_df(spark, [(9, "z")]), root)  # claims v2
        vb = append_rows(_df(spark, [(2, "b")]), root)  # v3 delta, base v1
        assert (va, vb) == (2, 3)
        # committing a FULL at v2 would make it v3's new chain base,
        # silently changing v3's content from {a,b} to {z,b}
        with pytest.raises(ConcurrentWriteError, match="chain base"):
            _commit_version(root, va, mode="full")
        assert snapshot_versions(root) == [1, 3]
        assert _rows(read_snapshot(spark, root, version=vb)) == {
            (1, "a"),
            (2, "b"),
        }

    def test_full_below_full_history_only_commit_still_allowed(
        self, spark, tmp_path
    ):
        # The benign interleave (two independent full publishers) must
        # keep working: the late lower-numbered full is history-only.
        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)  # v1
        va = _allocate_and_write(_df(spark, [(2, "b")]), root)  # v2
        vb = _allocate_and_write(_df(spark, [(3, "c")]), root)  # v3
        _commit_version(root, vb, mode="full")
        _commit_version(root, va, mode="full")
        assert snapshot_versions(root) == [1, 2, 3]
        assert _rows(read_snapshot(spark, root)) == {(3, "c")}
        assert _rows(read_snapshot(spark, root, version=va)) == {(2, "b")}

    def test_append_rows_auto_retries_past_racer(
        self, spark, tmp_path, monkeypatch
    ):
        """A delta that loses the number race re-allocates above the
        racer and lands — callers see success, not the internal
        rejection. The racer is injected between this append's data
        write and its commit via the constraint-validation hook."""
        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)  # v1
        real = versioned._enforce_constraints
        state = {"fired": False}

        def racing(spark_, root_, version_):
            if not state["fired"]:
                state["fired"] = True
                # racer commits a delta ABOVE this writer's claimed
                # number while the writer is mid-flight
                append_rows(_df(spark, [(99, "racer")]), root_)
            return real(spark_, root_, version_)

        monkeypatch.setattr(versioned, "_enforce_constraints", racing)
        v = append_rows(_df(spark, [(2, "b")]), root)
        # claimed v2, racer took v3, retry landed at v4
        assert v == 4
        assert snapshot_versions(root) == [1, 3, 4]
        assert _rows(read_snapshot(spark, root)) == {
            (1, "a"),
            (99, "racer"),
            (2, "b"),
        }
        # pinned racer version is exactly what its writer published
        assert _rows(read_snapshot(spark, root, version=3)) == {
            (1, "a"),
            (99, "racer"),
        }


class TestReadModifyWriteGuards:
    def test_checkpoint_appends_retries_over_concurrent_append(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE #1: a concurrent append landing between the
        checkpoint's read and its publish must NOT be erased — the
        conditional commit fails, the checkpoint re-reads, and the
        final full version contains the interloper's rows. This pins
        the REWRITE path (compact=True), whose capture point is the
        read_snapshot call the hook interleaves on; the zero-copy
        rebase's equivalent race is pinned by
        test_zero_copy_rebase.py::test_conflict_retries_against_racer."""
        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)  # v1
        append_rows(_df(spark, [(2, "b")]), root)  # v2
        real = versioned.read_snapshot
        state = {"fired": False}

        def interleaved(spark_, root_, version=None, as_of_ts=None):
            df = real(spark_, root_, version=version, as_of_ts=as_of_ts)
            if not state["fired"]:
                state["fired"] = True
                # lands AFTER the checkpoint captured its base version
                append_rows(_df(spark_, [(3, "c")]), root_)
            return df

        monkeypatch.setattr(versioned, "read_snapshot", interleaved)
        v = checkpoint_appends(spark, root, compact=True)
        monkeypatch.undo()
        assert snapshot_modes(root).get(v, "full") == "full"
        # the lost-update check: (3, "c") survived the checkpoint
        assert _rows(read_snapshot(spark, root)) == {
            (1, "a"),
            (2, "b"),
            (3, "c"),
        }

    def test_optimize_versioned_retries_over_concurrent_append(
        self, spark, tmp_path, monkeypatch
    ):
        from openaq_data_pipeline_engineering_spark.operators.sqlutil import (
            execute_optimize,
        )

        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)
        append_rows(_df(spark, [(2, "b")]), root)
        real = versioned.read_snapshot
        state = {"fired": False}

        def interleaved(spark_, root_, version=None, as_of_ts=None):
            df = real(spark_, root_, version=version, as_of_ts=as_of_ts)
            if not state["fired"]:
                state["fired"] = True
                append_rows(_df(spark_, [(3, "c")]), root_)
            return df

        monkeypatch.setattr(versioned, "read_snapshot", interleaved)
        metrics = execute_optimize(spark, f"OPTIMIZE '{root}'").collect()
        monkeypatch.undo()
        assert len(metrics) == 1
        assert _rows(read_snapshot(spark, root)) == {
            (1, "a"),
            (2, "b"),
            (3, "c"),
        }


class TestMergeCacheRelease:
    def test_failed_strict_merge_unpersists_joined_relation(self, spark):
        from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
            MergeError,
            execute_merge,
        )

        tgt = spark.createDataFrame([(1, "A")], "k int, seg string")
        dup = spark.createDataFrame(
            [(1, "X"), (1, "Y")], "k int, seg string"
        )
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        with pytest.raises(MergeError, match="ambiguous"):
            execute_merge(
                spark,
                "MERGE INTO tgt t USING src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET seg = s.seg",
                target_df=tgt,
                source_df=dup,
            )
        assert jsc.getPersistentRDDs().size() == before

    def test_successful_strict_merge_keeps_cache_until_release(self, spark):
        from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
            execute_merge,
            release_merge_cache,
        )

        tgt = spark.createDataFrame([(1, "A")], "k int, seg string")
        src = spark.createDataFrame([(1, "B")], "k int, seg string")
        out = execute_merge(
            spark,
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET seg = s.seg",
            target_df=tgt,
            source_df=src,
        )
        assert {tuple(r) for r in out.collect()} == {(1, "B")}
        assert release_merge_cache(out) is True


class TestTimeTravelLiteralMasking:
    def test_as_of_pattern_inside_string_literal_is_not_rewritten(
        self, spark
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        eng = Engine(spark)
        # Previously this spliced a temp view over read_snapshot of a
        # nonexistent path and raised FileNotFoundError.
        got = eng.sql(
            'SELECT "FROM \'/no/such/root\' VERSION AS OF 1" AS s'
        ).collect()
        assert got[0]["s"] == "FROM '/no/such/root' VERSION AS OF 1"

    def test_real_clause_still_rewrites_and_views_are_unique(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)
        write_snapshot(_df(spark, [(2, "b")]), root)
        eng = Engine(spark)
        before = Engine._tt_counter
        q = f"SELECT k FROM '{root}' VERSION AS OF 1"
        r1 = eng.sql(q).collect()
        r2 = eng.sql(f"SELECT k FROM '{root}' VERSION AS OF 2").collect()
        assert [r["k"] for r in r1] == [1]
        assert [r["k"] for r in r2] == [2]
        # each statement pinned its own view — no fixed-name collision
        assert Engine._tt_counter == before + 2

    def test_literal_and_real_clause_in_one_statement(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)
        eng = Engine(spark)
        got = eng.sql(
            "SELECT k, \"FROM 'fake' TIMESTAMP AS OF '2024-01-01'\" AS s "
            f"FROM '{root}' VERSION AS OF 1"
        ).collect()
        assert got[0]["k"] == 1
        assert got[0]["s"] == "FROM 'fake' TIMESTAMP AS OF '2024-01-01'"


class TestDeadLetterChainBound:
    def test_quality_sink_quarantine_chain_stays_bounded(
        self, spark, tmp_path
    ):
        """Long-run dead-letter stream: with quarantine_max_chain=2 the
        quarantine table's read never unions more than 3 directories,
        across many micro-batches, while quarantined content stays
        exact and the valid-side upsert is untouched."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _chain_versions,
            _read_manifest_doc,
        )
        from openaq_data_pipeline_engineering_spark.streaming.quality import (
            quality_split_batch,
        )

        valid_dir = str(tmp_path / "valid")
        dead_dir = str(tmp_path / "dead")
        rules = {"positive": "v > 0"}
        for bid in range(8):
            batch = spark.createDataFrame(
                [(bid, 10.0, bid), (bid, -1.0, bid + 100)],
                "k int, v double, ts int",
            )
            quality_split_batch(
                batch,
                bid,
                rules,
                valid_dir,
                dead_dir,
                keys=["k"],
                ts_col="ts",
                quarantine_max_chain=2,
            )
            doc = _read_manifest_doc(dead_dir)
            latest = doc["versions"][-1]
            chain = _chain_versions(doc["versions"], doc["modes"], latest)
            assert len(chain) <= 3, (bid, chain, doc["modes"])
        dead = read_snapshot(spark, dead_dir)
        assert dead.count() == 8  # one quarantined row per batch
        assert {r["batch_id"] for r in dead.collect()} == set(range(8))
        assert read_snapshot(spark, valid_dir).count() == 8


class TestPartitionedOptimizeCrashSafety:
    """VERDICT r8 #4: the partitioned ZORDER rewrite must never leave a
    partition mixing old and new clustering — staging + per-partition
    two-rename swaps, healed by _recover_interrupted_partition_rewrite."""

    def _table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        out = str(tmp_path / "part_table")
        df = spark.range(2000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") % 101).alias("a"),
            (F.col("id") % 97).alias("b"),
        )
        (
            df.repartition(4)
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(out)
        )
        return df, out

    def _content(self, spark, out):
        return {
            tuple(r)
            for r in spark.read.parquet(out)
            .select("k", "p", "a", "b")
            .collect()
        }

    def test_crash_between_partition_swaps_recovers_consistent(
        self, spark, tmp_path, monkeypatch
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine
        from openaq_data_pipeline_engineering_spark.operators import compact

        df, out = self._table(spark, tmp_path)
        before = self._content(spark, out)
        real = compact._swap_partition_dir
        state = {"swaps": 0}

        def crashing(path, staging, rel):
            if state["swaps"] >= 1:
                raise RuntimeError("injected crash between swaps")
            state["swaps"] += 1
            real(path, staging, rel)

        monkeypatch.setattr(compact, "_swap_partition_dir", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            Engine(spark).sql(f"OPTIMIZE '{out}' ZORDER BY (a, b)")
        monkeypatch.undo()
        # crash state: one partition new, the rest old, staging
        # leftover on disk — every partition is fully old or fully new,
        # so content is already exact even BEFORE healing
        assert self._content(spark, out) == before
        # the next OPTIMIZE heals the staging leftover and completes
        m = Engine(spark).sql(f"OPTIMIZE '{out}' ZORDER BY (a, b)").first()
        assert m["n_rows"] == 2000
        assert self._content(spark, out) == before
        assert not os.path.exists(out + ".__optimize_tmp__")

    def test_crash_between_the_two_renames_is_healed(
        self, spark, tmp_path
    ):
        """The worst window: live renamed away, staged dir not yet
        renamed in — that partition is missing until the healer runs."""
        from openaq_data_pipeline_engineering_spark.operators.compact import (
            _recover_interrupted_partition_rewrite,
        )

        df, out = self._table(spark, tmp_path)
        before = self._content(spark, out)
        live = os.path.join(out, "p=1")
        os.rename(live, live + ".__optimize_old__")  # simulated crash
        assert not os.path.isdir(live)
        _recover_interrupted_partition_rewrite(out)
        assert os.path.isdir(live)
        assert not os.path.isdir(live + ".__optimize_old__")
        assert self._content(spark, out) == before

    def test_completed_swap_leftover_old_dir_is_reclaimed(
        self, spark, tmp_path
    ):
        import shutil

        from openaq_data_pipeline_engineering_spark.operators.compact import (
            _recover_interrupted_partition_rewrite,
        )

        df, out = self._table(spark, tmp_path)
        before = self._content(spark, out)
        live = os.path.join(out, "p=2")
        shutil.copytree(live, live + ".__optimize_old__")  # swap done,
        # old not reclaimed (crash after the second rename)
        _recover_interrupted_partition_rewrite(out)
        assert not os.path.isdir(live + ".__optimize_old__")
        assert self._content(spark, out) == before


class TestCloneVacuumGuard:
    """VERDICT r8 #8: vacuuming a source below a cloned version used to
    break the clone loudly at read time; back-references now make the
    vacuum refuse up front, with force restoring the old behavior."""

    def _seed(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            clone_snapshot,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        for i in range(3):  # v1..v3 fulls
            write_snapshot(_df(spark, [(i, f"s{i}")]), src)
        clone_snapshot(src, dst, version=1)  # clone pins v1
        write_snapshot(_df(spark, [(9, "later")]), src)  # v4
        return src, dst

    def test_vacuum_with_live_clone_refuses_and_reclaims_nothing(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            VacuumBlockedByCloneError,
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        with pytest.raises(VacuumBlockedByCloneError, match="needs v\\[1\\]"):
            vacuum_snapshots(src, keep_last=1)
        # all-or-nothing: the refusal reclaimed NOTHING
        assert snapshot_versions(src) == [1, 2, 3, 4]
        assert _rows(read_snapshot(spark, dst)) == {(0, "s0")}

    def test_force_break_clones_reproduces_loud_break(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        dropped = vacuum_snapshots(src, keep_last=1, force_break_clones=True)
        assert 1 in dropped
        # the clone's read of its pinned version now fails LOUDLY
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            read_snapshot(spark, dst)

    def test_vacuum_keeping_cloned_versions_proceeds(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        # keep_last=4 keeps v1 (the clone's pin): no conflict, and
        # nothing eligible is clone-protected
        assert vacuum_snapshots(src, keep_last=4) == []
        assert _rows(read_snapshot(spark, dst)) == {(0, "s0")}

    def test_deleted_clone_backref_is_pruned_and_vacuum_proceeds(
        self, spark, tmp_path
    ):
        import shutil

        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        shutil.rmtree(dst)  # the clone is gone; its back-ref is stale
        dropped = vacuum_snapshots(src, keep_last=1)
        assert dropped == [1, 2, 3]
        assert _read_manifest_doc(src)["clones"] == []

    def test_materialized_clone_no_longer_blocks(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            VacuumBlockedByCloneError,
            checkpoint_appends,
        )

        # a ZERO-COPY checkpoint on the clone is a fileset commit that
        # still references the source's files (r12) — it does NOT make
        # the clone independent, and the source vacuum keeps refusing
        checkpoint_appends(spark, dst)
        vacuum_snapshots(dst, keep_last=1)
        with pytest.raises(VacuumBlockedByCloneError):
            vacuum_snapshots(src, keep_last=1)
        # true materialization is the PHYSICAL rewrite
        # (compact=True / OPTIMIZE): one full LOCAL version on the
        # clone; once the clone drops its source-referencing history,
        # the source is free
        checkpoint_appends(spark, dst, compact=True)
        vacuum_snapshots(dst, keep_last=1)
        dropped = vacuum_snapshots(src, keep_last=1)
        assert 1 in dropped
        assert _rows(read_snapshot(spark, dst)) == {(0, "s0")}

    def test_clone_of_clone_protects_transitively(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            VacuumBlockedByCloneError,
            clone_snapshot,
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        dst2 = str(tmp_path / "dst2")
        clone_snapshot(dst, dst2)  # grandchild reads through dst -> src
        import shutil

        shutil.rmtree(dst)  # middle clone vanishes; grandchild remains
        # the grandchild still needs src's v1 — discovered through the
        # (stale) middle back-ref's recorded sub-clones? The middle's
        # manifest is gone, so the grandchild is unreachable: vacuum
        # must treat the MISSING middle as stale but cannot see dst2.
        # This is the documented limit: a clone chain with a deleted
        # middle is already broken for dst2 (its base chain is gone),
        # so reclaiming is correct.
        dropped = vacuum_snapshots(src, keep_last=1)
        assert 1 in dropped
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, dst2)

    def test_intact_clone_chain_blocks_from_grandchild(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            VacuumBlockedByCloneError,
            clone_snapshot,
            vacuum_snapshots,
        )

        src, dst = self._seed(spark, tmp_path)
        dst2 = str(tmp_path / "dst2")
        clone_snapshot(dst, dst2)
        # even if the MIDDLE clone materializes and vacuums away its
        # own source references, the grandchild still reads through
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            checkpoint_appends,
        )

        checkpoint_appends(spark, dst)
        with pytest.raises(VacuumBlockedByCloneError):
            vacuum_snapshots(dst, keep_last=1)  # dst2 pins dst's v1
        with pytest.raises(VacuumBlockedByCloneError):
            vacuum_snapshots(src, keep_last=1)  # transitively protected
        assert _rows(read_snapshot(spark, dst2)) == {(0, "s0")}


class TestNamedTimeTravel:
    def test_version_and_timestamp_as_of_on_registered_name(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            snapshot_commit_times,
        )

        root = str(tmp_path / "mart")
        write_snapshot(_df(spark, [(1, "a")]), root)
        write_snapshot(_df(spark, [(2, "b")]), root)
        eng = Engine(spark)
        eng.register_versioned("mart9", root)
        got = eng.sql("SELECT k FROM mart9 VERSION AS OF 1").collect()
        assert [r["k"] for r in got] == [1]
        ts1 = snapshot_commit_times(root)[1]
        got = eng.sql(
            f"SELECT k FROM mart9 TIMESTAMP AS OF {ts1}"
        ).collect()
        assert [r["k"] for r in got] == [1]
        # the plain view registered alongside reads the latest-at-
        # registration content
        assert [r["k"] for r in eng.sql("SELECT k FROM mart9").collect()] == [2]
        # JOIN form with two pins of the same name
        both = eng.sql(
            "SELECT old.k AS ko, new.k AS kn "
            "FROM mart9 VERSION AS OF 1 old "
            "JOIN mart9 VERSION AS OF 2 new ON 1=1"
        ).collect()
        assert (both[0]["ko"], both[0]["kn"]) == (1, 2)

    def test_unregistered_name_is_loud(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        eng = Engine(spark)
        with pytest.raises(ValueError, match="not registered"):
            eng.sql("SELECT * FROM nope VERSION AS OF 1")

    def test_as_of_reads_resolve_fresh_commits_without_reregister(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.engine import Engine

        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "a")]), root)
        eng = Engine(spark)
        eng.register_versioned("t9", root)
        write_snapshot(_df(spark, [(2, "b")]), root)  # after registration
        got = eng.sql("SELECT k FROM t9 VERSION AS OF 2").collect()
        assert [r["k"] for r in got] == [2]


class TestPurgeDeferral:
    def test_busy_root_purges_committed_history_and_reports_deferral(
        self, spark, tmp_path
    ):
        """VERDICT r8 #9 polish: strict purge can never run on a busy
        multi-writer root (there is always a young claim in flight);
        defer_young_orphans purges committed history NOW and reports
        the deferred orphan explicitly instead of refusing."""
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            purge_rows,
        )

        root = str(tmp_path / "t")
        write_snapshot(_df(spark, [(1, "secret"), (2, "keep")]), root)
        # a concurrent writer's fresh in-flight claim
        _allocate_and_write(_df(spark, [(3, "secret")]), root)
        with pytest.raises(RuntimeError, match="in-flight claim"):
            purge_rows(spark, root, "v = 'secret'")
        rows = purge_rows(
            spark, root, "v = 'secret'", defer_young_orphans=True
        )
        committed = [r for r in rows if r[0] > 0]
        deferred = [r for r in rows if r[0] < 0]
        assert committed == [(1, 1, 1)]
        assert deferred == [(-2, -1, -1)]
        assert _rows(read_snapshot(spark, root)) == {(2, "keep")}
        # the young claim's data is untouched (it may be mid-write)
        assert os.path.isdir(os.path.join(root, "v=2"))
