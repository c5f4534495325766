"""Model-based property test of the versioned commit protocol.

Hypothesis drives a random sequence of lifecycle operations —
write_snapshot / append_rows / restore_snapshot / vacuum_snapshots /
purge_rows — against a pure-Python model that tracks what every
committed version's CONTENT must be. After the sequence, every version
the model says is readable must read back exactly, and vacuum must
never have reclaimed a version a kept restore/delta still needs.

This is the invariant the whole lakehouse layer stands on: no sequence
of maintenance operations may change what a pinned reader sees. The
reference repo has nothing comparable (SURVEY §5: hand-written asserts
only); Delta's equivalent guarantees come from its own protocol suite.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from openaq_data_pipeline_engineering_spark.operators.versioned import (
    append_rows,
    purge_rows,
    read_snapshot,
    restore_snapshot,
    snapshot_versions,
    vacuum_snapshots,
    write_snapshot,
)

# Each op is (kind, payload):
#   write   -> payload = frozenset of keys (the new full content)
#   append  -> payload = frozenset of keys appended
#   restore -> payload = index into committed versions so far
#   vacuum  -> payload = keep_last
#   purge   -> payload = key threshold (purge keys >= threshold)
_OP = st.one_of(
    st.tuples(
        st.just("write"),
        st.frozensets(st.integers(0, 9), min_size=1, max_size=4),
    ),
    st.tuples(
        st.just("append"),
        st.frozensets(st.integers(0, 9), min_size=1, max_size=3),
    ),
    st.tuples(st.just("restore"), st.integers(0, 5)),
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
    st.tuples(st.just("purge"), st.integers(5, 9)),
)


def _read_keys(spark, root, version=None) -> list[int]:
    return sorted(
        r["k"] for r in read_snapshot(spark, root, version=version).collect()
    )


@given(ops=st.lists(_OP, min_size=1, max_size=7))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lifecycle_sequence_matches_model(spark, ops, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vm") / "t")
    # model: version -> multiset (list) of keys that version must read as
    model: dict[int, list[int]] = {}
    order: list[int] = []  # committed versions, oldest first

    def df(keys):
        return spark.createDataFrame([(int(k),) for k in sorted(keys)], "k long")

    for kind, payload in ops:
        if kind == "write":
            v = write_snapshot(df(payload), root)
            model[v] = sorted(payload)
            order.append(v)
        elif kind == "append":
            if not order:
                continue  # append needs content to chain onto? (allowed
                # on empty too — model it the same way)
            v = append_rows(df(payload), root)
            prev = model[order[-1]] if order else []
            model[v] = sorted(prev + sorted(payload))
            order.append(v)
        elif kind == "restore":
            if not order:
                continue
            target = order[payload % len(order)]
            v = restore_snapshot(root, version=target)
            model[v] = list(model[target])
            order.append(v)
        elif kind == "vacuum":
            if not order:
                continue
            dropped = vacuum_snapshots(
                root, keep_last=payload, orphan_min_age_seconds=0.0
            )
            for d in dropped:
                model.pop(d, None)
                order.remove(d)
        elif kind == "purge":
            if not order:
                continue
            purge_rows(spark, root, f"k >= {payload}")
            for v in model:
                model[v] = [k for k in model[v] if k < payload]

    if not order:
        return
    assert snapshot_versions(root) == order
    # EVERY retained version reads back exactly what the model says —
    # restores resolve their targets, deltas their chains, purges
    # rewrote history, vacuum never broke a kept version's references.
    for v in order:
        assert _read_keys(spark, root, version=v) == model[v], (
            f"version {v} diverged after {ops}"
        )
    # latest() agrees with the newest version
    assert _read_keys(spark, root) == model[order[-1]]


def test_model_regression_restore_then_vacuum_then_purge(spark, tmp_path):
    """One deterministic walk through the trickiest interleaving, kept
    as a plain test so a failure bisects without hypothesis."""
    root = str(tmp_path / "t")

    def df(*keys):
        return spark.createDataFrame([(k,) for k in keys], "k long")

    write_snapshot(df(1, 2, 7), root)  # v1
    append_rows(df(8), root)  # v2: {1,2,7,8}
    write_snapshot(df(3, 9), root)  # v3
    restore_snapshot(root, version=2)  # v4 -> chain(v1,v2)
    vacuum_snapshots(root, keep_last=2, orphan_min_age_seconds=0.0)
    # keep v3,v4; v4 needs v1+v2 transitively -> nothing reclaimable
    assert snapshot_versions(root) == [1, 2, 3, 4]
    purge_rows(spark, root, "k >= 7")
    assert _read_keys(spark, root, version=4) == [1, 2]
    assert _read_keys(spark, root, version=3) == [3]
    assert _read_keys(spark, root) == [1, 2]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


# ---------------------------------------------------------------------------
# Change-data-feed model (round 9): on a CDF-enabled table, the
# materialized change files must stay CONSISTENT with the content
# history under every interleaving of writes, appends, purges, and
# vacuums — i.e. applying table_changes(prev, cur) to prev's content
# always yields cur's content, INCLUDING after a purge rewrote both the
# data and the change files (a purged row must vanish from pre-images
# and inserts alike, or erasure leaks through the feed).
# ---------------------------------------------------------------------------

_CDF_OP = st.one_of(
    st.tuples(
        st.just("write"),
        st.frozensets(st.integers(0, 9), min_size=0, max_size=4),
    ),
    # appends use FRESH keys only: the CDF key contract requires keys
    # unique within each snapshot, and an append duplicating a live key
    # would make the next full commit's diff many-to-many (the caller
    # modeling error the docstring rejects)
    st.tuples(st.just("append"), st.integers(1, 3)),
    st.tuples(st.just("vacuum"), st.integers(2, 4)),
    st.tuples(st.just("purge"), st.integers(5, 9)),
)


def _apply_changes(prev: set[int], rows) -> set[int]:
    cur = set(prev)
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("insert", "update_postimage"):
            cur.add(r["k"])
        elif r["_change_type"] in ("delete", "update_preimage"):
            cur.discard(r["k"])
    return cur


@given(ops=st.lists(_CDF_OP, min_size=1, max_size=6))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_change_feed_sequence_matches_model(spark, ops, tmp_path_factory):
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        enable_change_feed,
        table_changes,
    )

    root = str(tmp_path_factory.mktemp("vcdf") / "t")
    enable_change_feed(spark, root, keys=["k"])
    model: dict[int, set[int]] = {}
    order: list[int] = []
    fresh = 10  # append keys start above the write-key domain

    def df(keys):
        return spark.createDataFrame(
            [(int(k),) for k in sorted(keys)], "k long"
        )

    for kind, payload in ops:
        if kind == "write":
            v = write_snapshot(df(payload), root)
            model[v] = set(payload)
            order.append(v)
        elif kind == "append":
            if not order:
                continue
            keys = set(range(fresh, fresh + payload))
            fresh += payload
            v = append_rows(df(keys), root)
            model[v] = model[order[-1]] | keys
            order.append(v)
        elif kind == "vacuum":
            if not order:
                continue
            for d in vacuum_snapshots(
                root, keep_last=payload, orphan_min_age_seconds=0.0
            ):
                model.pop(d, None)
                order.remove(d)
        elif kind == "purge":
            if not order:
                continue
            purge_rows(
                spark, root, f"k >= {payload}", orphan_min_age_seconds=0.0
            )
            for v in model:
                model[v] = {k for k in model[v] if k < payload}

    if not order:
        return
    # content history still exact (data side)
    for v in order:
        assert set(_read_keys(spark, root, version=v)) == model[v]
    # change-feed side: every adjacent retained pair's change rows
    # transform the earlier content into the later content exactly
    for prev, cur in zip(order, order[1:]):
        rows = table_changes(spark, root, v_from=prev, v_to=cur).collect()
        assert _apply_changes(model[prev], rows) == model[cur], (
            f"feed ({prev}, {cur}] diverged after {ops}"
        )
    # and the full-range fold from the oldest retained version agrees
    if len(order) > 1:
        rows = table_changes(
            spark, root, v_from=order[0], v_to=order[-1]
        ).collect()
        assert _apply_changes(model[order[0]], rows) == model[order[-1]]


# ---------------------------------------------------------------------------
# Clone model (round 9): a shallow clone pins a version of the source;
# under any interleaving of source writes/appends/vacuums afterwards,
# (a) the clone reads exactly the content it pinned, (b) a vacuum whose
# drop set intersects versions the clone still reads through REFUSES
# and reclaims nothing, and (c) a vacuum that stays clear proceeds.
# ---------------------------------------------------------------------------

_CLONE_OP = st.one_of(
    st.tuples(
        st.just("write"),
        st.frozensets(st.integers(0, 9), min_size=1, max_size=3),
    ),
    st.tuples(
        st.just("append"),
        st.frozensets(st.integers(0, 9), min_size=1, max_size=2),
    ),
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
)


@given(
    pre_ops=st.lists(_CLONE_OP, min_size=1, max_size=3),
    post_ops=st.lists(_CLONE_OP, min_size=1, max_size=4),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_clone_pins_survive_source_lifecycle(
    spark, pre_ops, post_ops, tmp_path_factory
):
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        VacuumBlockedByCloneError,
        _collect_referenced,
        _read_manifest_doc,
        clone_snapshot,
    )

    base = tmp_path_factory.mktemp("vclone")
    src, dst = str(base / "src"), str(base / "dst")
    model: dict[int, list[int]] = {}
    order: list[int] = []

    def df(keys):
        return spark.createDataFrame(
            [(int(k),) for k in sorted(keys)], "k long"
        )

    def apply(ops, cloned: bool) -> None:
        for kind, payload in ops:
            if kind == "write":
                v = write_snapshot(df(payload), src)
                model[v] = sorted(payload)
                order.append(v)
            elif kind == "append":
                if not order:
                    continue
                v = append_rows(df(payload), src)
                model[v] = sorted(model[order[-1]] + sorted(payload))
                order.append(v)
            elif kind == "vacuum":
                if not order:
                    continue
                sdoc = _read_manifest_doc(src)
                drop_candidates = set(order[: -payload])
                needs: set[int] = set()
                if cloned:
                    cdoc = _read_manifest_doc(dst)
                    for kv in cdoc["versions"]:
                        _collect_referenced(
                            cdoc["versions"], cdoc["modes"], kv, needs
                        )
                # chain-aware retention protects kept versions' chains
                kept_needs: set[int] = set()
                for kv in order[-payload:]:
                    _collect_referenced(
                        sdoc["versions"], sdoc["modes"], kv, kept_needs
                    )
                effective_drop = drop_candidates - kept_needs
                if cloned and effective_drop & needs:
                    with pytest.raises(VacuumBlockedByCloneError):
                        vacuum_snapshots(
                            src, keep_last=payload,
                            orphan_min_age_seconds=0.0,
                        )
                else:
                    dropped = vacuum_snapshots(
                        src, keep_last=payload, orphan_min_age_seconds=0.0
                    )
                    for d in dropped:
                        model.pop(d, None)
                        order.remove(d)

    apply(pre_ops, cloned=False)
    if not order:
        return
    pinned = order[-1]
    pinned_content = list(model[pinned])
    clone_snapshot(src, dst)
    apply(post_ops, cloned=True)
    # (a) the clone still reads exactly its pinned content
    assert _read_keys(spark, dst) == pinned_content
    # (b) every surviving source version still reads per the model
    for v in order:
        assert _read_keys(spark, src, version=v) == model[v]


class TestLayoutResolver:
    """``version_layout`` / ``chain_layout``: the manifest's recorded
    layout answers first; only versions without one are walked."""

    @staticmethod
    def _frame(spark):
        return spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "k long, m int"
        )

    def test_recorded_layout_wins_for_an_empty_directory(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            chain_layout,
            partition_layout,
            version_layout,
        )

        root = str(tmp_path / "t")
        df = self._frame(spark)
        write_snapshot(df, root, partition_by=["m"])
        v2 = append_rows(df.limit(0), root)
        # a partitionBy of zero rows writes no data files
        assert partition_layout(f"{root}/v={v2}") == []
        assert version_layout(root, v2) == ["m"]
        assert chain_layout(root, v2) == ["m"]

    def test_unrecorded_manifest_falls_back_to_the_walk(
        self, spark, tmp_path
    ):
        import os

        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
            _write_manifest,
            chain_layout,
            version_layout,
        )

        root = str(tmp_path / "t")
        self._frame(spark).write.partitionBy("m").parquet(f"{root}/v=1")
        os.makedirs(f"{root}/v=2")  # an empty delta
        _write_manifest(root, [1, 2], modes={2: "delta"})
        assert _read_manifest_doc(root)["layouts"] == {}
        assert version_layout(root, 1) == ["m"]
        assert version_layout(root, 2) == []
        # an unrecorded directory with no data files constrains nothing
        assert chain_layout(root, 2) == ["m"]

    def test_unrecorded_mixed_directory_gives_none(self, spark, tmp_path):
        import shutil

        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
            chain_layout,
            version_layout,
            versionize_table,
        )

        root = str(tmp_path / "t")
        df = self._frame(spark)
        df.write.parquet(root)
        df.write.partitionBy("m").parquet(str(tmp_path / "p"))
        shutil.move(str(tmp_path / "p" / "m=1"), f"{root}/m=1")
        versionize_table(root)
        assert 1 not in _read_manifest_doc(root)["layouts"]
        assert version_layout(root, 1) is None
        assert chain_layout(root, 1) is None

    def test_clone_inherits_recorded_layouts(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            _read_manifest_doc,
            chain_layout,
            clone_snapshot,
            version_layout,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        df = self._frame(spark)
        write_snapshot(df, src, partition_by=["m"])
        v2 = append_rows(df.limit(0), src)
        clone_snapshot(src, dst)
        assert _read_manifest_doc(dst)["layouts"] == {1: ["m"], v2: ["m"]}
        assert version_layout(dst, 1) == ["m"]
        assert chain_layout(dst, v2) == ["m"]

    def test_restore_expands_to_its_targets_layout(self, spark, tmp_path):
        from openaq_data_pipeline_engineering_spark.operators.versioned import (
            chain_layout,
        )

        root = str(tmp_path / "t")
        df = self._frame(spark)
        v1 = write_snapshot(df, root, partition_by=["m"])
        v2 = write_snapshot(df, root)
        v3 = restore_snapshot(root, version=v1)
        assert chain_layout(root, v2) == []
        assert chain_layout(root, v3) == ["m"]
