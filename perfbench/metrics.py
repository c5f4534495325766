"""The benchmark's metric registry: names, units, directions, bounds,
and which end-to-end metric each per-layer metric should move.

``BENCHMARK.json`` lists the same names; ``tests/test_perfbench.py``
keeps the two in step, and :func:`result_line` refuses to print a name
that is not registered here.

End-to-end metrics are defined for EVERY workload (a result line must
carry each of them), so they are phrased per operation. What one
operation and its reads are, per workload:

==================  ==============================================
etl_batch           raw zone -> build_mart -> write_mart ->
                    register_partitioned_table, then the
                    re-delivery -> merge_into_mart ->
                    recover_partitions; reads: one round of the
                    six analyst query classes on the result
stream_upsert       drop file closed -> run_stream_upsert committed;
                    reads: four hours of the new snapshot
                    (the fresh one, 1, 6 and 23 hours back)
==================  ==============================================

Per-layer metrics come from a separate traced run; a layer the
workload never calls reads 0 there (the prediction "should move
nothing on <workload>").
"""

from __future__ import annotations

import json
import math
import re

RUN_SECONDS = 10

WORKLOADS = {
    "etl_batch": (
        "daily batch on 168 hourly NDJSON drops (80 locations, 13 MB): ETL to "
        "a registered mart, 24h re-delivery merge, 6 analyst queries; merge "
        "~1/2 of layer time, scan, dedup and write most of the rest"
    ),
    "stream_upsert": (
        "hourly drops (~180 rows) upserted one at a time into a versioned "
        "keyed table holding 24h of 60 locations: streaming, versioned and "
        "COW layers"
    ),
}

# name -> (unit, better, bound)
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "read_p50_ms": ("ms", "lower", 0.25),
    "stored_bytes_ratio": ("bytes/byte", "lower", 0.1),
    "peak_rss_mb": ("MB", "lower", 0.15),
}

QUERY_CLASSES = [
    "a6_topk",
    "a7_conditional",
    "a8_dup_audit",
    "a9_extent",
    "point_lookup",
    "aqi_day",
]

# (name, unit, better, layer, the end-to-end metric it should move)
_LAYERS: list[tuple[str, str, str, str, str]] = [
    ("engine.session_s", "s", "lower", "engine", "setup_s on all"),
    ("engine.sql_plan_ms", "ms", "lower", "engine", "read_p50_ms on etl_batch"),
    ("sources.read_ndjson_s", "s", "lower", "sources.json_source",
     "op_p50_ms on etl_batch; nothing on stream_upsert"),
    ("sources.raw_rows", "count", "lower", "sources.json_source",
     "op_p50_ms on etl_batch"),
    ("sources.raw_bytes", "bytes", "lower", "sources.json_source",
     "op_p50_ms on etl_batch"),
    ("sources.raw_scan_passes", "count", "lower", "sources.json_source",
     "op_p50_ms on etl_batch"),
    ("catalog.register_s", "s", "lower", "sources.catalog",
     "op_p50_ms on etl_batch"),
    ("catalog.partitions", "count", "lower", "sources.catalog",
     "op_p50_ms on etl_batch"),
    ("catalog.recover_ms", "ms", "lower", "sources.catalog",
     "op_p50_ms on etl_batch"),
    ("parse.self_s", "s", "lower", "operators.parse", "op_p50_ms on etl_batch"),
    ("parse.rows_dropped", "count", "lower", "operators.parse",
     "op_p50_ms on etl_batch"),
    ("dedup.self_s", "s", "lower", "operators.dedup",
     "op_p50_ms on etl_batch"),
    ("dedup.rows_in", "count", "lower", "operators.dedup",
     "op_p50_ms on etl_batch"),
    ("dedup.rows_out", "count", "lower", "operators.dedup",
     "op_p50_ms on etl_batch"),
    ("dedup.keep_ratio", "ratio", "higher", "operators.dedup",
     "op_p50_ms on etl_batch"),
    ("dedup.shuffle_bytes", "bytes", "lower", "operators.dedup",
     "op_p50_ms on etl_batch"),
    ("pivot.self_s", "s", "lower", "operators.pivot", "op_p50_ms on etl_batch"),
    ("pivot.rows_out", "count", "lower", "operators.pivot",
     "op_p50_ms on etl_batch"),
    ("pivot.shuffle_bytes", "bytes", "lower", "operators.pivot",
     "op_p50_ms on etl_batch"),
    ("enrich.self_s", "s", "lower", "operators.enrich",
     "op_p50_ms on etl_batch"),
    ("enrich.broadcast_joins", "count", "higher", "operators.enrich",
     "op_p50_ms on etl_batch"),
    ("aqi.self_ms", "ms", "lower", "operators.aqi",
     "read_p50_ms (aqi_day class) on etl_batch"),
    ("write.self_s", "s", "lower", "plans.mart",
     "op_p50_ms and stored_bytes_ratio on etl_batch"),
    ("write.tasks", "count", "higher", "plans.mart", "op_p50_ms on etl_batch"),
    ("write.files", "count", "lower", "plans.mart",
     "read_p50_ms and stored_bytes_ratio on etl_batch"),
    ("write.bytes", "bytes", "lower", "plans.mart",
     "stored_bytes_ratio on etl_batch"),
    ("write.mean_file_kb", "KiB", "higher", "plans.mart",
     "read_p50_ms on etl_batch"),
]
for _cls in QUERY_CLASSES:
    _LAYERS += [
        (f"scan.files_read.{_cls}", "count", "lower", "mart scan",
         "read_p50_ms on etl_batch"),
        (f"scan.bytes_read.{_cls}", "bytes", "lower", "mart scan",
         "read_p50_ms on etl_batch"),
        (f"scan.rows_per_result.{_cls}", "ratio", "lower", "mart scan",
         "read_p50_ms on etl_batch"),
    ]
_LAYERS += [
    ("merge.self_ms", "ms", "lower", "plans.incremental",
     "op_p50_ms on etl_batch; nothing on stream_upsert"),
    ("merge.partitions_touched", "count", "lower", "plans.incremental",
     "op_p50_ms on etl_batch"),
    ("merge.bytes_rewritten", "bytes", "lower", "plans.incremental",
     "op_p50_ms on etl_batch"),
    ("merge.write_amp", "ratio", "lower", "plans.incremental",
     "op_p50_ms on etl_batch"),
    ("upsert.files_touched", "count", "lower", "streaming+operators.cow",
     "op_p50_ms on stream_upsert"),
    ("upsert.files_carried", "count", "higher", "streaming+operators.cow",
     "op_p50_ms on stream_upsert"),
    ("upsert.bytes_written", "bytes", "lower", "streaming+operators.cow",
     "op_p50_ms on stream_upsert"),
    ("upsert.write_amp", "ratio", "lower", "streaming+operators.cow",
     "op_p50_ms on stream_upsert"),
    ("versioned.versions_kept", "count", "lower", "operators.versioned",
     "op_p50_ms on stream_upsert"),
    ("versioned.read_snapshot_ms", "ms", "lower", "operators.versioned",
     "read_p50_ms on stream_upsert"),
    ("spark.tasks", "count", "lower", "Spark runtime",
     "that workload's op_p50_ms"),
    ("spark.failed_tasks", "count", "lower", "Spark runtime",
     "that workload's op_p50_ms"),
    ("spark.shuffle_bytes", "bytes", "lower", "Spark runtime",
     "that workload's op_p50_ms"),
    ("spark.spill_bytes", "bytes", "lower", "Spark runtime",
     "that workload's op_p50_ms"),
    ("trace.overhead_frac", "ratio", "lower", "benchmark tracer",
     "nothing (traced op time / untraced op time - 1)"),
]

# name -> (unit, better, layer, what it should move)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    name: (unit, better, layer, moves)
    for name, unit, better, layer, moves in _LAYERS
}

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return bool(_NAME_RE.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT_RE.fullmatch(unit))


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def mix_median(xs: list[float], classes: int) -> float:
    """Median operation time of a loop that cycles through ``classes``
    operation classes: each class's median, combined by geometric mean.
    The classes of a mix differ in cost several-fold, so a pooled median
    lands on whichever class boundary is nearest and jumps between runs;
    this way a change of x% in one class moves the result the same for
    every class. With one class it is the plain median."""
    meds = [median(xs[c::classes]) for c in range(classes)]
    return math.exp(sum(math.log(m) for m in meds) / classes)


def benchmark_doc() -> dict:
    """The BENCHMARK.json document this registry describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": b}
            for k, (u, b, _layer, _moves) in PER_LAYER.items()
        ],
    }


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    values: dict[str, float],
    trace: bool,
) -> str:
    """The final stdout line: exactly the registered metrics of the
    mode (every end-to-end metric untraced, every per-layer one
    traced), each with its unit."""
    registry = PER_LAYER if trace else END_TO_END
    missing = sorted(set(registry) - set(values))
    extra = sorted(set(values) - set(registry))
    if missing or extra:
        raise ValueError(f"metric set mismatch: missing={missing} extra={extra}")
    metrics = {}
    for name in registry:
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {v}")
        metrics[name] = {"value": v, "unit": registry[name][0]}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )
