"""Engine conf-application semantics.

`apply_runtime_confs` runs on every `load_table` against WHOEVER owns the
session — including an external cluster session. It must never override an
explicit shuffle-partition choice (a small local task count on a
1000-executor cluster would serialize every exchange); it only resizes the
untouched Spark default to the session's own core count, and only in local
mode.
"""

from __future__ import annotations

from openaq_data_pipeline_engineering_spark.engine import (
    _SHUFFLE_PARTITIONS_DEFAULT,
    apply_runtime_confs,
)

_KEY = "spark.sql.shuffle.partitions"


def test_explicit_shuffle_partitions_survive(spark):
    original = spark.conf.get(_KEY)
    try:
        spark.conf.set(_KEY, "48")
        apply_runtime_confs(spark)
        assert spark.conf.get(_KEY) == "48"
    finally:
        spark.conf.set(_KEY, original)


def test_default_shuffle_partitions_resized_in_local_mode(spark):
    assert spark.conf.get("spark.master", "").startswith("local")
    original = spark.conf.get(_KEY)
    try:
        spark.conf.set(_KEY, _SHUFFLE_PARTITIONS_DEFAULT)
        apply_runtime_confs(spark)
        assert spark.conf.get(_KEY) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(_KEY, original)


def test_runtime_confs_do_not_pin_shuffle_partitions():
    from openaq_data_pipeline_engineering_spark.engine import _RUNTIME_CONFS

    assert _KEY not in _RUNTIME_CONFS


_OC_KEY = "spark.sql.files.openCostInBytes"


def test_explicit_open_cost_survives(spark):
    """ADVICE r12 #2: a caller's tuned openCostInBytes is never clobbered."""
    original = spark.conf.get(_OC_KEY, "4194304")
    try:
        spark.conf.set(_OC_KEY, "2097152")
        apply_runtime_confs(spark)
        assert spark.conf.get(_OC_KEY) == "2097152"
    finally:
        spark.conf.set(_OC_KEY, original)


def test_default_open_cost_resized(spark):
    from openaq_data_pipeline_engineering_spark.engine import (
        _OPEN_COST_IN_BYTES,
    )

    original = spark.conf.get(_OC_KEY, "4194304")
    try:
        spark.conf.set(_OC_KEY, "4194304")
        apply_runtime_confs(spark)
        assert spark.conf.get(_OC_KEY) == _OPEN_COST_IN_BYTES
        # suffixed spelling of the same default also counts as untouched
        spark.conf.set(_OC_KEY, "4m")
        apply_runtime_confs(spark)
        assert spark.conf.get(_OC_KEY) == _OPEN_COST_IN_BYTES
    finally:
        spark.conf.set(_OC_KEY, original)


def test_size_to_bytes_parser():
    from openaq_data_pipeline_engineering_spark.engine import _size_to_bytes

    assert _size_to_bytes("4194304") == 4194304
    assert _size_to_bytes("4194304b") == 4194304
    assert _size_to_bytes("4m") == 4194304
    assert _size_to_bytes("4MB") == 4194304
    assert _size_to_bytes("131072") == 131072
    assert _size_to_bytes("1g") == 1 << 30
    assert _size_to_bytes("oops") is None
