"""Version directories written by older releases may hold a per-file
min/max sidecar (``<version>/_skipstats/``: one parquet row per data
file with ``n_rows``, ``<col>_min``/``<col>_max`` and the file's
``rel_path``). Nothing reads or writes it any more. A DML statement or
keyed upsert on such a base must give the same rows as on a base
without it, must not carry the sidecar into the version it commits,
and a plain read of either version must never see it.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.operators.compact import (
    iter_data_parquet_files,
)
from openaq_data_pipeline_engineering_spark.operators.cow import (
    last_cow_stats,
)
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    read_snapshot,
    snapshot_versions,
    write_snapshot,
)
from openaq_data_pipeline_engineering_spark.streaming.upsert import (
    upsert_batch,
)

SIDECAR = "_skipstats"
COLS = ["k", "g", "v", "ts"]


def _write_sidecar(vdir: str) -> int:
    """The complete sidecar an older release wrote for ``vdir``: every
    data file, keyed by its path relative to the version directory."""
    rows = []
    for p in sorted(iter_data_parquet_files(vdir)):
        k = pq.read_table(p, columns=["k"]).column("k").to_pylist()
        rows.append(
            {
                "n_rows": len(k),
                "k_min": min(k),
                "k_max": max(k),
                "rel_path": os.path.relpath(p, vdir),
            }
        )
    out = os.path.join(vdir, SIDECAR)
    os.makedirs(out)
    pq.write_table(
        pa.Table.from_pylist(rows), os.path.join(out, "part-00000.parquet")
    )
    return len(rows)


def _rows(spark, root, version=None):
    df = read_snapshot(spark, root, version=version)
    assert sorted(df.columns) == sorted(COLS)
    return sorted(tuple(r) for r in df.select(*COLS).collect())


@pytest.mark.parametrize("partition_by", [None, ["g"]])
def test_dml_and_upsert_ignore_an_old_sidecar(spark, tmp_path, partition_by):
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(1).cast("long").alias("ts"),
    )
    old = str(tmp_path / "old")
    plain = str(tmp_path / "plain")
    write_snapshot(df.repartition(8, "k"), old, partition_by=partition_by)
    shutil.copytree(old, plain)
    assert _write_sidecar(os.path.join(old, "v=1")) >= 8

    base_rows = _rows(spark, plain, version=1)
    assert len(base_rows) == 200
    assert _rows(spark, old, version=1) == base_rows

    eng = Engine(spark)
    batch = spark.createDataFrame(
        [(5, 1, "up", 2), (150, 2, "up", 2), (999, 3, "new", 2)],
        "k long, g int, v string, ts long",
    )
    for root in (old, plain):
        eng.sql(
            f"UPDATE '{root}' SET v = 'x' "
            "WHERE k = 7 OR k BETWEEN 100 AND 110"
        ).first()
        # file-granular commit: untouched files were carried
        assert last_cow_stats(root)["files_carried"] > 0
        upsert_batch(batch, 0, root, ["k"], "ts")
        assert snapshot_versions(root) == [2, 3]

    for version in (2, 3):
        assert _rows(spark, old, version) == _rows(spark, plain, version)
        assert not os.path.exists(os.path.join(old, f"v={version}", SIDECAR))
    got = dict((r[0], r[2]) for r in _rows(spark, old))
    assert len(got) == 201
    assert got[7] == got[105] == "x"
    assert got[5] == got[150] == "up" and got[999] == "new"
