"""MERGE INTO — the SQL statement form of the keyed-upsert operators.

The reference pipeline is append-only (etls/glue_etl.py writes a fresh
date partition per run) and its SQL surface (Athena,
utils/athena_utils.py) has no row-level mutation; SURVEY §2.9 maps
late-data correction to "Delta MERGE". operators/merge.py already
carries the DataFrame semantics (merge_upsert / cdc_apply / scd2);
this module adds the DECLARATIVE statement form so `Engine.sql()`
accepts the standard warehouse syntax:

    MERGE INTO target [AS] t
    USING source_view_or_(subquery) [AS] s
    ON <condition>
    [WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, ... | SET *]
    [WHEN MATCHED [AND <cond>] THEN DELETE]
    [WHEN NOT MATCHED [BY TARGET] [AND <cond>]
        THEN INSERT (cols) VALUES (exprs) | INSERT *]
    [WHEN NOT MATCHED BY SOURCE [AND <cond>]
        THEN UPDATE SET c = expr, ... | DELETE]

Lexical surface: ``--`` line comments and (nested, as Spark allows)
``/* */`` bracketed comments are stripped string-aware before parsing;
string literals may escape quotes by doubling (``''``) or by
backslash (``\'``, Spark's default parser behavior); ``CASE ... END``
expressions — nesting included — are allowed anywhere an expression
is (ON condition, clause AND-conditions, UPDATE/INSERT right-hand
sides): the parser masks CASE blocks so their inner WHEN/THEN tokens
never terminate a clause match. Qualified or compound identifiers
containing the words (``s.end``, ``case_id``) are NOT treated as
keywords; a BARE unqualified column literally named ``end`` or
``case`` must be backtick-quoted (```end```) — backtick identifier
content is masked like string literals, so quoted keywords never
terminate a CASE block or split a clause, and assignment/INSERT
targets unquote back to the plain column name.

Semantics (Delta/SQL:2003 compatible):
- Clauses are evaluated IN ORDER; the first applicable clause per row
  wins (within the row's family: MATCHED / NOT MATCHED [BY TARGET] /
  NOT MATCHED BY SOURCE).
- A target row matching NO source row passes through unchanged unless
  a WHEN NOT MATCHED BY SOURCE clause applies (the Delta form for
  "full-sync" merges: delete or flag target rows absent from the
  source); a source row matching no target row is inserted only if a
  WHEN NOT MATCHED [BY TARGET] clause applies. BY SOURCE conditions
  and UPDATE expressions may reference only target columns — source
  columns are all NULL on those rows.
- A target row matching MORE THAN ONE source row is ambiguous: with
  ``strict=True`` (default) the merge raises, like Delta's
  "multiple source rows matched" error.

Execution is Spark-first: ONE full-outer join on the ON condition
(broadcast or shuffle — Catalyst/AQE choose; the source side of a
merge is normally a small delta) followed by a CASE projection per
column and a filter dropping DELETE rows. No per-row Python, no
driver loop. The strict cardinality check is one aggregation over the
matched side, planned from the same join.

Spark's own ``MERGE INTO`` parses but requires a v2 table with
row-level-operation support (Delta/Iceberg); plain parquet tables get
``UnsupportedOperationException`` — this module is the engine's
parquet-native lowering, composed with operators/versioned.py
snapshots for atomic publication (see plans/queries_round6.py
``sql_merge_into``).
"""

from __future__ import annotations

from openaq_data_pipeline_engineering_spark.localrel import local_rows

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class MergeError(ValueError):
    """Malformed MERGE statement or ambiguous (multi-match) merge."""


@dataclass
class _MatchedClause:
    cond: str | None  # extra AND condition, None = unconditional
    assignments: dict[str, str] | None  # None = DELETE; {} = UPDATE SET *


@dataclass
class _NotMatchedClause:
    cond: str | None
    cols: list[str] | None  # None = INSERT *
    vals: list[str] | None


@dataclass
class _MergeStatement:
    target: str
    t_alias: str
    source: str  # view name or (subquery)
    s_alias: str
    on: str
    matched: list[tuple[int, _MatchedClause]]  # (clause order index, clause)
    not_matched: list[tuple[int, _NotMatchedClause]]
    # WHEN NOT MATCHED BY SOURCE: target rows with no source match;
    # UPDATE/DELETE shape, so _MatchedClause is reused.
    by_source: list[tuple[int, _MatchedClause]]


_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?"
    r"\s+USING\s+(?P<source>[\w.]+|\((?:[^()]|\([^()]*\))*\))"
    r"(?:\s+(?:AS\s+)?(?P<salias>(?!ON\b)\w+))?"
    r"\s+ON\s+(?P<on>.+?)"
    r"\s+(?P<clauses>WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CLAUSE_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>TARGET|SOURCE))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?"
    r"\s+THEN\s+(?P<action>.+?)"
    r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _strip_comments(sql: str, strict: bool = True) -> str:
    """Same-length copy of ``sql`` with ``-- line`` and (nested, as
    Spark allows) ``/* bracketed */`` comments replaced by spaces,
    quote-aware: comment markers inside single-quoted literals,
    double-quoted literals (a string in Spark's default parser), or
    backtick-quoted identifiers are content, not comments. Runs BEFORE
    the literal masker so a quote inside a comment can never flip the
    masker's in-string state; spans sliced from the stripped text hand
    clean expression text to F.expr.

    ``strict=False`` treats an unterminated ``/*`` as a
    comment-to-EOF instead of raising — used by Engine.sql for
    route-only stripping, where a malformed non-MERGE statement must
    reach Spark's own parser (and its error) rather than MergeError.
    """
    out = list(sql)
    quote = None  # None | "'" | '"' | '`' — the open quoting char
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if quote is not None:
            # Backslash escapes apply inside '...' and "..." string
            # literals (Spark default parser); backtick identifiers
            # escape only by doubling (``).
            if ch == "\\" and quote != "`" and i + 1 < n:
                i += 2
                continue
            if ch == quote:
                if i + 1 < n and sql[i + 1] == quote:  # doubled escape
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j  # the newline itself survives
            for k in range(i, j):
                out[k] = " "
            i = j
            continue
        elif ch == "/" and sql.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if sql.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif sql.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            if depth and strict:
                raise MergeError("unterminated /* comment in MERGE")
            for k in range(i, j):
                out[k] = " "
            i = j
            continue
        i += 1
    return "".join(out)


def _mask_literals(sql: str) -> str:
    """Same-length copy of ``sql`` with string-literal CONTENT replaced
    by underscores (single- and double-quoted literals, '' / "" doubling
    AND Spark's backslash escapes masked, outer quotes kept) and
    backtick-quoted identifier CONTENT masked likewise (`` doubling).
    The statement regexes run on the MASKED text so SQL keywords inside
    literals or quoted identifiers (WHERE/WHEN/THEN/ON/,) can never
    mis-split the statement; group spans are then sliced from the
    ORIGINAL (comment-stripped) text."""
    out = list(sql)
    quote = None  # None | "'" | '"' | '`'
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if quote is not None:
            if ch == "\\" and quote != "`" and i + 1 < n:
                # Spark's default parser treats \' (and \\ etc.) as an
                # escape inside literals; mask both chars so the quote
                # cannot flip the in-string state.
                out[i] = "_"
                out[i + 1] = "_"
                i += 2
                continue
            if ch == quote:
                if i + 1 < n and sql[i + 1] == quote:  # doubled escape
                    out[i] = "_"
                    out[i + 1] = "_"
                    i += 1
                else:
                    quote = None
            else:
                out[i] = "_"
        elif ch in ("'", '"', "`"):
            quote = ch
        i += 1
    return "".join(out)


def _mask_case_blocks(masked: str) -> str:
    """Mask (already literal-masked) ``CASE ... END`` blocks, nesting
    included, so the clause regexes — whose lazy ``cond`` / ``on``
    matches terminate at the next WHEN/THEN keyword — never see the
    WHEN/THEN tokens INSIDE a CASE expression. Spans are still sliced
    from the original text, so the real CASE expression reaches
    F.expr intact. Whitespace is preserved (the regexes split on it);
    every other char in the block becomes '_'."""
    out = list(masked)
    depth, start = 0, 0
    # (?<![\w.$]) / (?![\w.$]): a dotted reference (s.end, t.case) or a
    # longer identifier (end_ts, case_id) is NOT the keyword — only a
    # standalone token opens/closes a block. A BARE column named
    # end/case would still need quoting, documented in the module
    # docstring.
    for m in re.finditer(
        r"(?<![\w.$])(CASE|END)(?![\w.$])", masked, re.IGNORECASE
    ):
        if m.group().upper() == "CASE":
            if depth == 0:
                start = m.start()
            depth += 1
        elif depth:  # a bare END (e.g. a column named end) is ignored
            depth -= 1
            if depth == 0:
                for j in range(start, m.end()):
                    if not masked[j].isspace():
                        out[j] = "_"
    if depth:
        raise MergeError("unbalanced CASE/END in MERGE statement")
    return "".join(out)


def _split_top(text: str) -> list[str]:
    """Split on commas at paren depth 0, outside string literals
    (assignment / value lists — `VALUES (s.k, 'a,b')` must not split
    inside the quoted string; '' is the SQL escape for a quote)."""
    parts, depth, start = [], 0, 0
    quote = None  # None | "'" | '"' | '`'
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote is not None:
            if ch == "\\" and quote != "`" and i + 1 < n:  # escape
                i += 2
                continue
            if ch == quote:
                if i + 1 < n and text[i + 1] == quote:  # doubled quote
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
        i += 1
    tail = text[start:].strip()
    if tail:
        parts.append(tail)
    return parts


def _unqualify(col: str, aliases: tuple[str, str]) -> str:
    """Strip a `t.` / `s.` qualifier and surrounding backticks from an
    assignment-LHS / INSERT-list column. Backtick quoting makes a BARE
    column literally named ``end`` or ``case`` spellable (```end``` —
    the one spelling the CASE masker cannot otherwise distinguish from
    the keyword); a doubled ```` `` ```` inside unescapes to one."""
    name = col.strip()
    for a in aliases:
        prefix = f"{a}."
        if name.lower().startswith(prefix.lower()):
            name = name[len(prefix):].strip()
            break
    if len(name) >= 2 and name.startswith("`") and name.endswith("`"):
        name = name[1:-1].replace("``", "`")
    return name


def parse_merge(sql: str) -> _MergeStatement:
    sql = _strip_comments(sql)  # same length: spans still line up
    masked = _mask_case_blocks(_mask_literals(sql))
    m = _HEAD_RE.match(masked)
    if not m:
        raise MergeError(
            "unparseable MERGE statement; expected MERGE INTO <t> USING "
            "<s|(subquery)> ON <cond> WHEN ... THEN ..."
        )

    def orig(span_or_name) -> str:
        s, e = m.span(span_or_name)
        return sql[s:e]

    target = m.group("target")  # identifier: masked == original
    source = orig("source")  # subqueries may contain literals
    # Dotted names get their LAST segment as the implicit alias —
    # `F.col("db.tbl.c")` would parse as a 3-part reference and fail.
    t_alias = m.group("talias") or target.split(".")[-1]
    s_alias = m.group("salias") or (
        source.split(".")[-1] if not source.startswith("(") else "__src"
    )
    aliases = (t_alias, s_alias)
    matched: list[tuple[int, _MatchedClause]] = []
    not_matched: list[tuple[int, _NotMatchedClause]] = []
    by_source: list[tuple[int, _MatchedClause]] = []
    cstart, cend = m.span("clauses")
    clause_orig = sql[cstart:cend]
    clause_masked = masked[cstart:cend]
    order = 0

    def update_or_delete(
        action_orig: str, action_masked: str, family: str
    ) -> _MatchedClause:
        if re.fullmatch(r"DELETE", action_masked, re.IGNORECASE):
            return _MatchedClause(cond=None, assignments=None)
        am = re.match(
            r"UPDATE\s+SET\s+(?P<sets>.+)$",
            action_masked,
            re.IGNORECASE | re.DOTALL,
        )
        if not am:
            raise MergeError(
                f"{family} supports UPDATE SET / DELETE, got: {action_orig!r}"
            )
        sets = action_orig[am.start("sets"):am.end("sets")].strip()
        if sets == "*":
            return _MatchedClause(cond=None, assignments={})
        assignments: dict[str, str] = {}
        for part in _split_top(sets):
            if "=" not in part:
                raise MergeError(f"bad assignment: {part!r}")
            lhs, rhs = part.split("=", 1)
            assignments[_unqualify(lhs, aliases)] = rhs.strip()
        return _MatchedClause(cond=None, assignments=assignments)

    covered_to = 0
    residue: list[str] = []
    for cm in _CLAUSE_RE.finditer(clause_masked):
        residue.append(clause_masked[covered_to:cm.start()])
        covered_to = cm.end()
        action_orig = clause_orig[cm.start("action"):cm.end("action")].strip()
        action_masked = clause_masked[
            cm.start("action"):cm.end("action")
        ].strip()
        cond = (
            clause_orig[cm.start("cond"):cm.end("cond")].strip()
            if cm.group("cond")
            else None
        )
        by = (cm.group("by") or "").upper()
        if by and not cm.group("not"):
            raise MergeError(
                f"WHEN MATCHED BY {by} is not a MERGE clause (BY TARGET/"
                "BY SOURCE qualify NOT MATCHED only)"
            )
        if cm.group("not") and by == "SOURCE":
            # Target rows absent from the source: UPDATE/DELETE shape.
            # SET * is meaningless here (all source columns are NULL).
            c = update_or_delete(
                action_orig, action_masked, "WHEN NOT MATCHED BY SOURCE"
            )
            if c.assignments == {}:
                raise MergeError(
                    "WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * "
                    "(source columns are NULL on those rows)"
                )
            by_source.append(
                (order, _MatchedClause(cond=cond, assignments=c.assignments))
            )
        elif cm.group("not"):
            am = re.match(
                r"INSERT\s*(?:\*|\((?P<cols>[^)]*)\)\s*VALUES\s*"
                r"\((?P<vals>.*)\))\s*$",
                action_masked,
                re.IGNORECASE | re.DOTALL,
            )
            if not am:
                raise MergeError(
                    f"WHEN NOT MATCHED supports INSERT only, got: "
                    f"{action_orig!r}"
                )
            if am.group("cols") is None:
                nm = _NotMatchedClause(cond=None, cols=None, vals=None)
                nm.cond = cond
            else:
                cols = [
                    _unqualify(c, aliases)
                    for c in _split_top(
                        action_orig[am.start("cols"):am.end("cols")]
                    )
                ]
                vals = _split_top(
                    action_orig[am.start("vals"):am.end("vals")]
                )
                if len(cols) != len(vals):
                    raise MergeError(
                        f"INSERT column/value arity mismatch: {cols} vs "
                        f"{vals}"
                    )
                nm = _NotMatchedClause(cond=cond, cols=cols, vals=vals)
            not_matched.append((order, nm))
        else:
            c = update_or_delete(action_orig, action_masked, "WHEN MATCHED")
            matched.append(
                (order, _MatchedClause(cond=cond, assignments=c.assignments))
            )
        order += 1
    residue.append(clause_masked[covered_to:])
    leftover = "".join(residue).strip()
    if leftover:
        # A clause the grammar could not match must FAIL the whole
        # statement — silently skipping it would execute the merge
        # without that clause (e.g. a missing THEN dropping the INSERT).
        at = clause_masked.find(leftover[:20])
        raise MergeError(
            "unparseable text inside WHEN clauses near: "
            f"{clause_orig[at:at + 60]!r}"
        )
    if order == 0:
        raise MergeError("MERGE needs at least one WHEN clause")
    return _MergeStatement(
        target=target,
        t_alias=t_alias,
        source=source,
        s_alias=s_alias,
        on=orig("on").strip(),
        matched=matched,
        not_matched=not_matched,
        by_source=by_source,
    )



_T_MARK = "__merge_t_mark"
_S_MARK = "__merge_s_mark"
_ACTION = "__merge_action"


def execute_merge(
    spark: SparkSession,
    sql: str,
    target_df: DataFrame | None = None,
    source_df: DataFrame | None = None,
    strict: bool = True,
    strict_materialize: bool = True,
    evolve_schema: bool = False,
) -> DataFrame:
    """Plan a MERGE statement; returns the POST-MERGE target DataFrame.

    ``target_df`` / ``source_df`` default to the named temp views /
    tables in the statement; pass them explicitly to merge frames that
    are not registered. The caller decides how to publish the result
    (e.g. operators/versioned.write_snapshot for an atomic commit —
    plain parquet cannot be mutated in place, and that is the point:
    MERGE output is a new immutable version).

    ``strict=True`` adds Delta's ambiguity check: if any target row
    matches more than one source row, raise :class:`MergeError`. The
    check is one COUNT aggregation planned off the same join (the
    matched side only); disable for pre-deduplicated sources where the
    extra job matters.

    ``evolve_schema=True`` adds Delta's automatic schema evolution
    (``spark.databricks.delta.schema.autoMerge`` semantics): source
    columns ABSENT from the target are added to the output schema,
    null-backfilled on every pre-existing target row, and populated by
    ``UPDATE SET *`` / ``INSERT *`` / explicit assignments exactly as
    if the target had always carried them. Column identity is
    case-insensitive (matching the canonicalizer below); the target's
    columns always come first in the output schema, new columns append
    in source order. Key/ON columns are unaffected — the ON condition
    references existing columns on both sides. The statement form
    (Engine.sql) enables this via the session conf
    ``spark.openaq.merge.schemaEvolution=true``.

    ``strict_materialize`` picks the strict check's cost model:
    True (default) persists the joined relation (MEMORY_AND_DISK) so
    the dup check's count() populates the cache and the returned
    projection reuses it — the join executes once, blocks stay
    REPLAYABLE (lineage kept: an executor loss recomputes instead of
    failing the merge), and eviction under memory pressure degrades to
    recompute, never to error. The price is O(|target| + |source|)
    wide rows in executor storage until released: call
    :func:`release_merge_cache` on the returned frame after
    publishing (e.g. after ``write_snapshot``) — long-lived sessions
    running many merges otherwise accumulate cached blocks until the
    context cleaner collects them. False keeps the plan fully
    un-cached: the dup check runs on its own COLUMN-PRUNED execution
    of the join (marks + ON columns only) and the returned projection
    re-executes it — two passes, near-zero storage. Choose False when
    the target is large relative to executor storage.
    """
    st = parse_merge(sql)
    if target_df is None:
        target_df = spark.table(st.target)
    if source_df is None:
        source_df = (
            spark.sql(st.source[1:-1])
            if st.source.startswith("(")
            else spark.table(st.source)
        )
    if evolve_schema:
        # Schema evolution: extend the target with the source's new
        # columns (NULL of the source's type on pre-existing rows)
        # BEFORE planning — the projection machinery below then treats
        # them as ordinary target columns, so SET * / INSERT * and
        # explicit assignments populate them with no special cases.
        have = {c.lower() for c in target_df.columns}
        for f in source_df.schema.fields:
            if f.name.lower() not in have:
                target_df = target_df.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
    out_cols = list(target_df.columns)

    # Every assignment target / INSERT column must name a REAL target
    # column (case-insensitive, canonicalized to the schema's case) —
    # a typo'd column would otherwise be silently dropped by the
    # per-column projection, and a mis-named INSERT column would leave
    # its real column NULL while passing the arity check.
    canon = {c.lower(): c for c in out_cols}

    def canon_cols(names: list[str], where: str) -> list[str]:
        unknown = [n for n in names if n.lower() not in canon]
        if unknown:
            raise MergeError(
                f"{where} references columns not in the target schema "
                f"{out_cols}: {unknown}"
            )
        return [canon[n.lower()] for n in names]

    for _, c in [*st.matched, *st.by_source]:
        if c.assignments:
            keys = canon_cols(list(c.assignments), "UPDATE SET")
            c.assignments = dict(zip(keys, c.assignments.values()))
    for _, nm in st.not_matched:
        if nm.cols is not None:
            nm.cols = canon_cols(nm.cols, "INSERT")

    # The row id exists only to make the within-plan ambiguity check
    # exact for duplicate target rows; its values never reach output.
    t = (
        target_df.withColumn(_T_MARK, F.monotonically_increasing_id())
        .alias(st.t_alias)
    )
    s = source_df.withColumn(_S_MARK, F.lit(1)).alias(st.s_alias)
    joined = t.join(s, F.expr(st.on), "full_outer")
    is_matched = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNotNull()
    t_only = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNull()
    pinned: DataFrame | None = None

    if strict:
        # Delta's "multiple source rows matched" error: a target row
        # with >1 matched source row is ambiguous for EVERY statement
        # shape — with UPDATE/DELETE clauses the action is ill-defined,
        # and with none (insert-only / BY-SOURCE-only merges) each
        # extra joined copy would fall through to KEEP and silently
        # DUPLICATE the target row in the output. One COUNT aggregation
        # keyed by the target row id. With strict_materialize the
        # joined relation is PERSISTED (MEMORY_AND_DISK, lineage kept):
        # the dup check's count() populates the cache and the returned
        # projection reuses the blocks, so the join never executes
        # twice — and unlike a localCheckpoint the blocks are
        # replayable (executor loss → recompute) and releasable
        # (release_merge_cache). Without it the dup check runs its own
        # column-pruned pass (Catalyst prunes the wide columns away)
        # and nothing is cached. The check itself is necessarily eager
        # (MergeError must raise before the caller publishes); pass
        # strict=False for a fully-lazy plan over pre-deduplicated
        # sources.
        if strict_materialize:
            from pyspark.storagelevel import StorageLevel

            joined = joined.persist(StorageLevel.MEMORY_AND_DISK)
            pinned = joined
        dup = (
            joined.filter(is_matched)
            .groupBy(_T_MARK)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
        )
        if dup.count() > 0:
            # The persisted relation must not outlive the failed
            # statement: MergeError aborts before the caller ever sees
            # the projection, so the cache would otherwise leak
            # MEMORY_AND_DISK blocks for the session lifetime.
            if pinned is not None:
                pinned.unpersist()
            raise MergeError(
                "MERGE is ambiguous: a target row matches multiple "
                "source rows (deduplicate the source, or pass "
                "strict=False to let the first clause match win "
                "per joined row)"
            )

    # Row action: first applicable clause in statement order. The three
    # families partition the joined rows (matched / source-only /
    # target-only), so one CASE chain in global clause order implements
    # per-family first-match-wins exactly.
    chain: Column | None = None
    clauses: list[tuple[int, str, object]] = (
        [(i, "M", c) for i, c in st.matched]
        + [(i, "N", c) for i, c in st.not_matched]
        + [(i, "S", c) for i, c in st.by_source]
    )
    for i, kind, c in sorted(clauses):
        base = {
            "M": is_matched,
            "N": F.col(_T_MARK).isNull(),
            "S": t_only,
        }[kind]
        cond = base if c.cond is None else base & F.expr(c.cond)
        lit = F.lit(f"{kind}{i}")
        chain = F.when(cond, lit) if chain is None else chain.when(cond, lit)
    # target rows (matched or source-absent) with no applicable clause
    # keep the target row; source-only rows with no applicable clause
    # are dropped.
    action = chain.when(
        is_matched | t_only, F.lit("KEEP")
    ).otherwise(F.lit("DROP"))

    delete_actions = [
        f"M{i}" for i, c in st.matched if c.assignments is None
    ] + [f"S{i}" for i, c in st.by_source if c.assignments is None]
    projected = joined.withColumn(_ACTION, action).filter(
        ~F.col(_ACTION).isin(["DROP", *delete_actions])
    )

    def add_when(chain: Column | None, cond: Column, rhs: Column) -> Column:
        return F.when(cond, rhs) if chain is None else chain.when(cond, rhs)

    def col_value(cname: str) -> Column:
        expr = F.col(f"{st.t_alias}.{cname}")
        chain: Column | None = None
        for i, c in st.matched:
            if c.assignments is None:
                continue  # DELETE rows never reach the projection
            if c.assignments == {}:  # UPDATE SET *
                rhs = F.col(f"{st.s_alias}.{cname}")
            elif cname in c.assignments:
                rhs = F.expr(c.assignments[cname])
            else:
                rhs = expr
            chain = add_when(chain, F.col(_ACTION) == f"M{i}", rhs)
        for i, c in st.not_matched:
            if c.cols is None:  # INSERT *
                rhs = F.col(f"{st.s_alias}.{cname}")
            elif cname in c.cols:
                rhs = F.expr(c.vals[c.cols.index(cname)])
            else:
                rhs = F.lit(None)
            chain = add_when(chain, F.col(_ACTION) == f"N{i}", rhs)
        for i, c in st.by_source:
            if c.assignments is None:
                continue  # DELETE rows never reach the projection
            rhs = (
                F.expr(c.assignments[cname])
                if cname in c.assignments
                else expr
            )
            chain = add_when(chain, F.col(_ACTION) == f"S{i}", rhs)
        return (chain.otherwise(expr) if chain is not None else expr).alias(
            cname
        )

    result = projected.select(*[col_value(c) for c in out_cols])
    if pinned is not None:
        # Handle for release_merge_cache: the persisted joined relation
        # backing this result. Kept on the Python wrapper only — it
        # does not change the plan.
        result._merge_pinned = pinned
    return result


def release_merge_cache(df: DataFrame) -> bool:
    """Unpersist the joined relation a strict ``execute_merge`` pinned.

    Call after the merge result is PUBLISHED (e.g. after
    ``versioned.write_snapshot``): the cached wide rows are only
    useful while the result may still be recomputed, and a long-lived
    session running many merges would otherwise hold every merge's
    cache until the JVM context cleaner gets to it. Safe on any
    DataFrame — returns False when ``df`` carries no pinned cache
    (``strict=False`` / ``strict_materialize=False`` merges, or an
    already-released frame). Blocking=False semantics: the unpersist
    is asynchronous, matching ``DataFrame.unpersist()``'s default.
    """
    pinned = getattr(df, "_merge_pinned", None)
    if pinned is None:
        return False
    pinned.unpersist()
    df._merge_pinned = None
    return True


# ---------------------------------------------------------------------------
# Quoted-path targets: MERGE INTO '<versioned root>' USING ... runs the
# SAME lowering over the latest snapshot and publishes the result
# atomically as a new version with the optimistic guard pinned to the
# version it read — the MERGE twin of the path-target UPDATE/DELETE
# contract (operators/sqldml). Name targets keep the legacy contract
# (the post-merge frame is returned; the caller publishes).
# ---------------------------------------------------------------------------

_MERGE_PATH_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+'(?P<path>[^']+)'", re.IGNORECASE
)


def _touched_by_target_condition(
    spark, vdir: str, cond: str, t_alias: str
) -> list[str] | None:
    """Candidate files for a CONDITIONED ``WHEN NOT MATCHED BY SOURCE``
    clause (VERDICT r10 #6): files holding at least one row satisfying
    the clause's AND condition — the same predicate-pushed
    ``_metadata.file_path`` scan UPDATE's WHERE discovery uses. A
    SUPERSET of the affected files (the condition ignores matchedness)
    — safe: extra files rewrite to themselves. None — caller falls back
    to the full publish — when the condition references SOURCE columns
    (unresolvable on the target-only scan) or is unsafe to evaluate
    twice."""
    from openaq_data_pipeline_engineering_spark.operators.cow import (
        touched_files_by_predicate,
    )

    try:
        return touched_files_by_predicate(spark, vdir, cond, alias=t_alias)
    except Exception:
        # unresolvable against the target alone (source-column
        # reference) — the full-rewrite fallback is always correct
        return None


def execute_merge_statement(
    spark: SparkSession, sql: str, evolve_schema: bool = False
) -> DataFrame:
    """Entry used by Engine.sql.

    A quoted-PATH target reads the versioned root's LATEST snapshot,
    runs the merge lowering against it, and commits the result with
    ``expected_latest`` pinned to the version read — a concurrent
    commit landing mid-merge raises ConcurrentWriteError instead of
    being silently erased (Delta's MERGE conflict semantics). CHECK
    constraints and change-feed materialization ride the commit as for
    every write. Returns one metrics row
    ``(version, n_rows, base_version)``, the same shape as path-target
    UPDATE/DELETE; the strict-merge cache is released whether or not
    the commit succeeds."""
    # Comment-strip (same length, idempotent) then literal-mask: a
    # leading comment must not hide the path form, and a path-shaped
    # string elsewhere must not trigger it; spans index the original.
    pm = _MERGE_PATH_RE.match(_mask_literals(_strip_comments(sql)))
    if pm is None:
        return execute_merge(spark, sql, evolve_schema=evolve_schema)
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        snapshot_versions,
    )

    # pm matched the literal-MASKED text; spans are same-length
    # aligned, so slice the ORIGINAL statement for the real path.
    root = sql[pm.start("path") : pm.end("path")]
    if not snapshot_versions(root):
        raise MergeError(
            f"{root!r} has no committed versions; path-target MERGE "
            "needs an existing versioned table (INSERT OVERWRITE "
            "creates one)"
        )
    rewritten = (
        sql[: pm.start("path") - 1]
        + "__merge_target__"
        + sql[pm.end("path") + 1 :]
    )
    # FILE-GRANULAR copy-on-write (operators/cow.py): rewrite only the
    # target files holding rows the source matches on the ON condition
    # (one left-semi join projecting _metadata.file_path); carry every
    # other base file as a fileset sidecar entry. Rows in carried files
    # match no source row by construction, so the merge lowering over
    # the touched subset — NOT MATCHED inserts included — unions with
    # the carried files to exactly the full-table merge result.
    # CONDITIONED "WHEN NOT MATCHED BY SOURCE" clauses are
    # file-granular as well (VERDICT r10 #6): a by-source clause with
    # an AND condition can only affect rows where the condition is
    # TRUE, so its candidate files are discoverable by the same
    # predicate-pushed scan UPDATE's WHERE uses; the touched set is
    # the UNION of the ON-join files and each clause-condition's
    # files (a superset is always safe — extra files just rewrite to
    # themselves). Ineligible (identical-result full publish
    # instead): an UNconditioned by-source clause (acts on unmatched
    # target rows — potentially every file), a by-source condition
    # referencing SOURCE columns (not evaluable on a target-only
    # scan), schema evolution (carried files would lack the new
    # columns), or any base/lowering cow.commit_rewrite rejects. A
    # MERGE that matches no file and inserts no row commits nothing
    # (VERDICT r11 #5, Delta's no-op MERGE). On a commit CONFLICT the
    # statement first tries a LOGICAL REBASE (r12,
    # cow._try_conflict_merge — valid when the winners touched none of
    # this MERGE's files and added no row in its read set, checked by
    # an exact ON-join rescan of just the winners' delta files), else
    # re-reads the new latest and re-executes (cow.COMMIT_ATTEMPTS —
    # Delta's MERGE retry shape), then surfaces ConcurrentWriteError.
    from openaq_data_pipeline_engineering_spark.operators.cow import (
        commit_rewrite,
        touched_files_by_join,
    )

    st = parse_merge(rewritten)
    lowered: list[DataFrame] = []

    def lower(target):
        df = execute_merge(
            spark, rewritten, target_df=target, evolve_schema=evolve_schema
        )
        lowered.append(df)
        return df

    discover = rescan = None
    if not evolve_schema and all(c.cond is not None for _, c in st.by_source):
        source_df = (
            spark.sql(st.source[1:-1])
            if st.source.startswith("(")
            else spark.table(st.source)
        )

        def discover(vdir):
            # None = ON condition or source plan unsafe to evaluate
            # twice (non-deterministic subquery, ADVICE r10 #1), or a
            # by-source condition the target alone cannot resolve
            touched = touched_files_by_join(
                spark, vdir, source_df, st.on, st.t_alias, st.s_alias
            )
            for _, c in st.by_source:
                if touched is None:
                    break
                extra = _touched_by_target_condition(
                    spark, vdir, c.cond, st.t_alias
                )
                touched = (
                    sorted(set(touched) | set(extra))
                    if extra is not None
                    else None
                )
            return touched

        # Conflict-resolution probe (r12): a lost CAS race may logically
        # rebase iff the winners' ADDED rows are outside this MERGE's
        # read set — no added row matches the source on ON (it would
        # join into the matched set AND shrink the not-matched insert
        # set), and for by-source clauses no added UNMATCHED row
        # satisfies a clause condition (target-only conditions).
        def rescan(df) -> bool:
            d = df.alias(st.t_alias)
            s = source_df.alias(st.s_alias)
            if d.join(s, F.expr(st.on), "left_semi").take(1):
                return True
            un = d.join(s, F.expr(st.on), "left_anti")
            return any(
                un.filter(F.expr(c.cond)).take(1) for _, c in st.by_source
            )

    try:
        new_v, base = commit_rewrite(
            spark, root, lower, discover=discover, conflict_rescan=rescan
        )
    finally:
        # the pinned join caches are useless once published — or once
        # the commit failed
        for df in lowered:
            release_merge_cache(df)
    return _path_statement_row(spark, root, new_v, base)


def _path_statement_row(
    spark: SparkSession, root: str, version: int, base: int
) -> DataFrame:
    """The metrics row ``(version, n_rows, base_version)`` of a
    path-target MERGE/UPDATE/DELETE. ``n_rows`` sums the new version's
    DATA-file footers (no rescan; a CDF ``_changes`` sidecar does not
    count; fileset-carried rows resolve through the sidecar)."""
    import os

    from openaq_data_pipeline_engineering_spark.operators.sqlutil import (
        _footer_row_count,
    )

    return local_rows(
        spark,
        [
            (
                int(version),
                _footer_row_count(os.path.join(root, f"v={version}")),
                int(base),
            )
        ],
        "version int, n_rows bigint, base_version int",
    )
