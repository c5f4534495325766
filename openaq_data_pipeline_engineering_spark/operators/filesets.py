"""Manifest-referenced version file sets — the object-store-safe COW
carry (VERDICT r11 #1).

Through round 11 a committed version WAS a directory: a file-granular
DML commit rewrote the touched files into ``v=<N>/`` and carried every
untouched file by ``os.link`` (silent ``shutil.copy2`` across
devices). Correct and zero-copy on one local filesystem — but the
100 TB deployment target is an object store, where there are no
hardlinks: every "carry" of the 99.9% untouched files would
degenerate to a full physical copy, re-creating exactly the write
amplification file-granular DML exists to eliminate.

This module flips the model to Delta's: a version's data-file SET is
recorded in a per-version sidecar (``v=<N>/_fileset.json``), each
entry naming the ORIGINAL physical owner version and the file's path
relative to that owner's directory. "Carrying" an untouched file into
a new version is then ONE JSON entry — zero I/O per carried file on
every store — and readers resolve a version to its file set instead
of one directory. Delta's add/remove log entries and Iceberg's
manifests are the same shape (reference scope: the reference pipeline
has no versioned storage at all; this layer is the engine's own).

Layout:
    v=<N>/part-*.parquet      files WRITTEN BY version N (the DML's
                              rewritten output), at their key=value/
                              subpaths for partitioned tables
    v=<N>/_fileset.json       {"format": 1,
                               "layout": [...partition cols, [] flat],
                               "schema": <StructType.jsonValue()>,
                               "entries": [{"v": owner, "rel": path,
                                            "size": bytes}, ...]}

Invariants:
- Entries always name the file's ORIGINAL owner (the version whose
  commit physically wrote it), never an intermediate carrier — a
  chain of K DML commits references each stable file once, directly.
- Entry ``rel`` paths are unique within one fileset (fresh part-file
  UUIDs make collisions structurally absent; the commit verifies and
  falls back to a physical copy for a colliding carry).
- The sidecar is written BEFORE the manifest commit (data-first,
  manifest-last): an uncommitted fileset is as invisible as an
  uncommitted directory.
- The recorded ``schema`` pins the READ schema (partition-column
  types included), so a grouped multi-directory read can never
  re-infer partition types differently per owner group.

Readers resolve entries through :func:`versioned._version_dir`, so
shallow clones compose: a clone's fileset version resolves its owner
directories through the clone's ``base_root`` chain exactly like its
directory versions.

Retention: version-level vacuum keeps any version that a LIVE fileset
still references (the owner set rides the same keep-set walk as delta
chains and restore targets). The reference chain breaks at every
MATERIALIZING commit — OPTIMIZE, checkpoint/rebase, full INSERT
OVERWRITE — after which the old owners age out normally; that is
Delta's OPTIMIZE-then-VACUUM reclamation shape.
"""

from __future__ import annotations

from openaq_data_pipeline_engineering_spark.localrel import local_rows

import json
import os

from pyspark.sql import DataFrame, SparkSession

FILESET_SIDECAR = "_fileset.json"

# Parsed-sidecar memo keyed by absolute path, validated by
# (mtime_ns, size): version directories are immutable once committed,
# and one DML statement resolves the same sidecar several times
# (layout probe, discovery, carry, accounting). Bounded; entries are
# treated as READ-ONLY by every consumer.
_FILESET_CACHE: dict[str, tuple[tuple[int, int], dict]] = {}
_FILESET_CACHE_MAX = 256


def read_fileset(vdir: str) -> dict | None:
    """Parsed fileset sidecar of ``vdir``, or None for a plain
    directory-backed version (every version before round 12, every
    full write, every delta). The returned doc is SHARED via a
    stat-validated memo — callers must not mutate it."""
    p = os.path.join(vdir, FILESET_SIDECAR)
    try:
        st = os.stat(p)
    except OSError:
        return None
    key = os.path.abspath(p)
    tok = (st.st_mtime_ns, st.st_size)
    hit = _FILESET_CACHE.get(key)
    if hit is not None and hit[0] == tok:
        return hit[1]
    try:
        with open(p, "rb") as f:
            doc = json.loads(f.read())
    except (OSError, ValueError):
        return None
    if not isinstance(doc, dict) or "entries" not in doc:
        return None
    if len(_FILESET_CACHE) >= _FILESET_CACHE_MAX:
        _FILESET_CACHE.pop(next(iter(_FILESET_CACHE)))
    _FILESET_CACHE[key] = (tok, doc)
    return doc


def write_fileset(
    vdir: str,
    layout: list[str],
    schema_json: dict,
    entries: list[dict],
) -> None:
    """Persist the fileset sidecar (entries sorted by rel for
    deterministic diffs; one small PUT)."""
    doc = {
        "format": 1,
        "layout": list(layout),
        "schema": schema_json,
        "entries": sorted(entries, key=lambda e: (e["rel"], e["v"])),
    }
    tmp = os.path.join(vdir, FILESET_SIDECAR + ".tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(vdir, FILESET_SIDECAR))


def is_fileset_dir(vdir: str) -> bool:
    return os.path.isfile(os.path.join(vdir, FILESET_SIDECAR))


def _owner_dir(vdir: str, owner: int) -> str:
    """Physical directory of ``owner``'s files, resolved against the
    root that owns ``vdir`` (clone base_root chains included)."""
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        _version_dir,
    )

    root = os.path.dirname(vdir)
    return _version_dir(root, owner)


def resolve_entries(vdir: str, fs: dict | None = None) -> list[tuple[str, dict]]:
    """[(absolute file path, entry), ...] for every entry of ``vdir``'s
    fileset. Owner directories resolve once each (memoized per call)."""
    if fs is None:
        fs = read_fileset(vdir)
    if fs is None:
        raise ValueError(f"{vdir!r} has no fileset sidecar")
    dirs: dict[int, str] = {}
    out: list[tuple[str, dict]] = []
    for e in fs["entries"]:
        v = int(e["v"])
        if v not in dirs:
            dirs[v] = _owner_dir(vdir, v)
        out.append((os.path.join(dirs[v], e["rel"]), e))
    return out


def version_data_files(vdir: str) -> list[str]:
    """Absolute data-file paths of one version — fileset entries when
    the sidecar is present, else the directory's own files. The ONE
    listing primitive every consumer (row counts, byte accounting,
    discovery, carry) should use on a version directory."""
    from openaq_data_pipeline_engineering_spark.operators.compact import (
        iter_data_parquet_files,
    )

    fs = read_fileset(vdir)
    if fs is None:
        return sorted(iter_data_parquet_files(vdir))
    return sorted(p for p, _e in resolve_entries(vdir, fs))


def version_files_with_rels(vdir: str) -> list[tuple[str, str]]:
    """[(absolute path, rel-path-within-owner), ...] — the carry /
    rebase iteration shape, fileset-aware."""
    from openaq_data_pipeline_engineering_spark.operators.compact import (
        iter_data_parquet_files,
    )

    fs = read_fileset(vdir)
    if fs is None:
        return sorted(
            (p, os.path.relpath(p, vdir))
            for p in iter_data_parquet_files(vdir)
        )
    return sorted((p, e["rel"]) for p, e in resolve_entries(vdir, fs))


def version_entry_map(vdir: str, self_version: int) -> dict[str, tuple[int, str, int]]:
    """abs path -> (owner version, rel-within-owner, size) for every
    data file of the version at ``vdir`` — the carry's lookup shape.
    For a plain directory every file is owned by ``self_version``; for
    a fileset version the ORIGINAL owners propagate, so a chain of K
    DML commits references each stable file once, directly."""
    from openaq_data_pipeline_engineering_spark.operators.compact import (
        iter_data_parquet_files,
    )

    fs = read_fileset(vdir)
    if fs is None:
        return {
            p: (self_version, os.path.relpath(p, vdir), os.path.getsize(p))
            for p in iter_data_parquet_files(vdir)
        }
    return {
        p: (int(e["v"]), e["rel"], int(e["size"]))
        for p, e in resolve_entries(vdir, fs)
    }


def group_files_by_base(
    vdir: str, files: list[str]
) -> list[tuple[str, list[str]]]:
    """Group an explicit file subset of the version at ``vdir`` by the
    directory each file physically lives under — ``vdir`` itself for a
    plain version, the owners' directories for a fileset version. The
    per-group ``basePath`` is what keeps ``key=value/`` path segments
    resolving to partition columns in a file-list read."""
    fs = read_fileset(vdir)
    if fs is None:
        return [(vdir, sorted(files))] if files else []
    owner_of: dict[str, str] = {}
    for p, e in resolve_entries(vdir, fs):
        owner_of[p] = _owner_dir(vdir, int(e["v"]))
    groups: dict[str, list[str]] = {}
    for f in files:
        base = owner_of.get(f)
        if base is None:
            # a file physically inside vdir that the sidecar happens
            # not to list (e.g. a CDF _changes sibling never reaches
            # here; defensive for callers passing raw local paths)
            base = vdir
        groups.setdefault(base, []).append(f)
    return sorted((d, sorted(fl)) for d, fl in groups.items())


def read_version_subset(
    spark: SparkSession,
    vdir: str,
    files: list[str],
    schema,
    file_col: str | None = None,
) -> DataFrame:
    """Read exactly ``files`` (a subset of the version at ``vdir``)
    under ``schema``, the schema a full read of ``vdir`` produces — the
    COW commit's read of its touched files, OPTIMIZE INCREMENTAL's
    packed files and the file-granular purge's kept rows. Each physical base
    directory reads with its own ``basePath``, so ``key=value/`` path
    segments resolve to partition columns (a bare file-list read would
    drop them); on a FILESET version the files live under their OWNER
    versions' directories, hence one group per owner. The EXPLICIT
    ``schema`` pins the partition-column types to the full directory's
    inferred types: inference over the subset alone could narrow
    differently (e.g. the one touched directory is all-numeric while a
    sibling holds a non-numeric value), and the mismatch would
    spuriously fail the COW schema-preservation gate. ``file_col``
    materializes ``_metadata.file_path`` per group (the pseudo-column
    does not survive a union). A FLAT
    fileset version reads its subset as one scan relation — no
    basePath or union needed when no partition values live in the
    paths."""
    from pyspark.sql import functions as F

    fs = read_fileset(vdir)
    if fs is not None and not fs["layout"] and files:
        out = spark.read.schema(schema).parquet(*sorted(files))
        if file_col is not None:
            out = out.withColumn(file_col, F.col("_metadata.file_path"))
        return out
    return read_grouped_files(
        spark, group_files_by_base(vdir, files), schema, file_col=file_col
    )


def fileset_schema(spark: SparkSession, fs: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(fs["schema"])


def read_grouped_files(
    spark: SparkSession,
    groups: list[tuple[str, list[str]]],
    schema,
    file_col: str | None = None,
) -> DataFrame:
    """Read an explicit file list spanning several base directories as
    ONE DataFrame: each (base_dir, files) group reads with its own
    ``basePath`` (so ``key=value/`` segments resolve to partition
    columns) under the PINNED schema, then the groups union by name.
    The pinned schema keeps partition-column types identical across
    groups — per-group inference over a value subset could diverge.
    ``file_col`` (COW discovery) materializes ``_metadata.file_path``
    into a real column PER GROUP — the metadata pseudo-column is
    per-relation and does not survive the union. Declarative all the
    way down: each group is one parquet scan; the union is a
    zero-shuffle plan node."""
    from pyspark.sql import functions as F

    parts = []
    for d, files in groups:
        if not files:
            continue
        p = spark.read.schema(schema).option("basePath", d).parquet(*files)
        if file_col is not None:
            p = p.withColumn(file_col, F.col("_metadata.file_path"))
        parts.append(p)
    if not parts:
        out = local_rows(spark, [], schema)
        if file_col is not None:
            out = out.withColumn(file_col, F.lit(None).cast("string"))
        return out
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_fileset_df(
    spark: SparkSession, vdir: str, file_col: str | None = None
) -> DataFrame:
    """The content of a fileset version as one DataFrame (empty frame
    with the recorded schema when the version has zero entries — an
    all-rows-deleted table stays servable with its schema)."""
    from pyspark.sql import functions as F

    fs = read_fileset(vdir)
    if fs is None:
        raise ValueError(f"{vdir!r} has no fileset sidecar")
    schema = fileset_schema(spark, fs)
    if not fs["layout"]:
        # FLAT fast path: no partition values live in the paths, so
        # the whole entry set reads as ONE scan relation (no per-owner
        # basePath, no union) — the plan a K-deep DML chain produces
        # stays a single parquet scan over its file list, exactly
        # Delta's shape.
        files = [p for p, _e in resolve_entries(vdir, fs)]
        if not files:
            out = local_rows(spark, [], schema)
            if file_col is not None:
                out = out.withColumn(file_col, F.lit(None).cast("string"))
            return out
        out = spark.read.schema(schema).parquet(*files)
        if file_col is not None:
            out = out.withColumn(file_col, F.col("_metadata.file_path"))
        return out
    groups: dict[str, list[str]] = {}
    for p, e in resolve_entries(vdir, fs):
        d = _owner_dir(vdir, int(e["v"]))
        groups.setdefault(d, []).append(p)
    return read_grouped_files(
        spark, sorted(groups.items()), schema, file_col=file_col
    )


# Analyzed-read memo for PLAIN version directories: one DML statement
# resolves the same immutable version dir 4-5 times (discovery, subset
# schema pin, commit probes), and each ``spark.read.parquet(dir)``
# pays driver-side listing + footer schema inference (~80 ms of the
# statement's budget). A version directory only changes through the
# commit/vacuum protocol, so the memo keys on a full content
# fingerprint (relpath, size, mtime_ns of every file under the dir) —
# any mutation produces a fresh read. Values hold the owning session
# (DataFrames are session-bound and immutable); LRU-capped. This is
# plan/schema reuse inside one process, never result caching: every
# action still scans the parquet files.
_DIR_READ_MEMO: dict = {}
_DIR_READ_MEMO_CAP = 128


def _plain_dir_fingerprint(vdir: str) -> tuple:
    acc = []
    for r, _dirs, files in os.walk(vdir):
        rel = os.path.relpath(r, vdir)
        for f in files:
            try:
                st = os.stat(os.path.join(r, f))
            except OSError:
                continue
            acc.append((rel, f, st.st_size, st.st_mtime_ns))
    acc.sort()
    return tuple(acc)


def _fileset_fingerprint(vdir: str) -> tuple:
    """Content fingerprint of a FILESET version: the sidecar file's
    (size, mtime_ns) plus (path, size, mtime_ns) of every RESOLVED
    entry file — a vacuumed/purged owner file or a rewritten sidecar
    invalidates the memo. Raises on a dangling entry exactly like the
    read itself would."""
    acc = []
    try:
        st = os.stat(os.path.join(vdir, FILESET_SIDECAR))
        acc.append(("_sidecar", st.st_size, st.st_mtime_ns))
    except OSError:
        return ("no-sidecar",)
    fs = read_fileset(vdir)
    for p, _e in resolve_entries(vdir, fs):
        try:
            st = os.stat(p)
            acc.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            acc.append((p, -1, -1))
    return tuple(acc)


def read_version_dir(
    spark: SparkSession, vdir: str, file_col: str | None = None
) -> DataFrame:
    """Fileset-aware single-version read: the drop-in replacement for
    ``spark.read.parquet(vdir)`` on a version directory. ``file_col``
    materializes each row's physical file path (COW discovery needs
    it as a real column — see read_grouped_files)."""
    from pyspark.sql import functions as F

    if is_fileset_dir(vdir):
        # FILESET versions memoize too (r13): after a table's first COW
        # commit every later statement resolves FILESET versions, and
        # each read_fileset_df pays sidecar parse + entry resolution +
        # plan building (~28 ms; a DML statement makes 4 such calls).
        # The fingerprint covers the sidecar AND every resolved entry
        # file (owner dirs are immutable, but vacuum/purge can remove
        # them — any change misses the memo). file_col stays in the
        # key here: a partitioned fileset materializes it per owner
        # group BEFORE the union (no post-hoc derivation).
        key = (
            id(spark),
            os.path.abspath(vdir),
            file_col,
            _fileset_fingerprint(vdir),
        )
        hit = _DIR_READ_MEMO.get(key)
        if hit is not None:
            return hit[1]
        df = read_fileset_df(spark, vdir, file_col=file_col)
        while len(_DIR_READ_MEMO) >= _DIR_READ_MEMO_CAP:
            _DIR_READ_MEMO.pop(next(iter(_DIR_READ_MEMO)))
        _DIR_READ_MEMO[key] = (spark, df)
        return df
    # ONE memo entry per (session, dir, content): the ``file_col``
    # variant derives from the memoized base read with a lazy
    # ``withColumn`` (plan-level _metadata resolution — no listing, no
    # footer I/O), so a statement that reads the same version both
    # plain (schema pin / lowering) and with the file column (COW
    # discovery) pays the driver-side analysis once, not twice (r13;
    # previously file_col was part of the key and each variant
    # re-listed + re-inferred, ~80 ms per statement).
    key = (id(spark), os.path.abspath(vdir), _plain_dir_fingerprint(vdir))
    hit = _DIR_READ_MEMO.get(key)
    if hit is not None:
        df = hit[1]
    else:
        df = spark.read.parquet(vdir)
        while len(_DIR_READ_MEMO) >= _DIR_READ_MEMO_CAP:
            _DIR_READ_MEMO.pop(next(iter(_DIR_READ_MEMO)))
        _DIR_READ_MEMO[key] = (spark, df)
    if file_col is not None:
        df = df.withColumn(file_col, F.col("_metadata.file_path"))
    return df


def fileset_owner_versions(vdir: str) -> set[int]:
    """Distinct owner versions a fileset version references (its own
    number included for self-owned rewritten files). Empty set for a
    plain directory — used by vacuum's keep-set walk."""
    fs = read_fileset(vdir)
    if fs is None:
        return set()
    return {int(e["v"]) for e in fs["entries"]}


def referenced_rels_by_owner(
    root: str, versions: list[int]
) -> dict[int, set[str]]:
    """``owner version -> rel paths`` that the fileset sidecars of
    ``versions`` reference OUTSIDE themselves — the file-granular
    vacuum's live set (r12): a version can leave the manifest while
    exactly these files of its directory survive in place. Entries a
    version owns itself are excluded (its own files live or die with
    its directory). Versions without a sidecar contribute nothing;
    unresolvable directories (a vacuumed clone source) are skipped."""
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        _version_dir,
    )

    out: dict[int, set[str]] = {}
    for v in versions:
        try:
            d = _version_dir(root, v)
        except FileNotFoundError:
            continue
        fs = read_fileset(d)
        if fs is None:
            continue
        for e in fs["entries"]:
            owner = int(e["v"])
            if owner != v:
                out.setdefault(owner, set()).add(e["rel"])
    return out


def materialize_fileset(vdir: str) -> int:
    """Compatibility view: make ``vdir`` a self-contained directory by
    hard-linking (copy across devices) every NON-local entry to its
    rel path inside ``vdir``, then dropping the sidecar (removed LAST,
    so a crash mid-materialization leaves a still-consistent fileset
    with some extra, unreferenced local files). Local-filesystem
    maintenance only (purge/export); the read path never needs it.
    Returns the number of files materialized."""
    import shutil

    fs = read_fileset(vdir)
    if fs is None:
        return 0
    self_v: int | None = None
    base = os.path.basename(vdir.rstrip(os.sep))
    if base.startswith("v="):
        self_v = int(base.split("=", 1)[1])
    n = 0
    for p, e in resolve_entries(vdir, fs):
        if int(e["v"]) == self_v:
            continue  # already physically here
        dst = os.path.join(vdir, e["rel"])
        d = os.path.dirname(dst)
        os.makedirs(d, exist_ok=True)
        if os.path.exists(dst):  # rel collision with a local file
            k = 0
            while os.path.exists(dst):
                k += 1
                dst = os.path.join(
                    d, f"carried-{k}-{os.path.basename(e['rel'])}"
                )
        try:
            os.link(p, dst)
        except OSError:
            shutil.copy2(p, dst)
        n += 1
    os.remove(os.path.join(vdir, FILESET_SIDECAR))
    return n
