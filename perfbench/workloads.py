"""The workloads, driven through the engine's public functions.

Each workload generates its inputs from the seed (untimed), sets up
(session start, warm-up, workload state: timed by the caller and
repeated), runs one operation at a time in a closed loop (one client),
checks every output against the oracle afterwards, and, in traced
mode, records per-layer spans and counters.
"""

from __future__ import annotations

import os
import random
import shutil
from datetime import timedelta
from time import perf_counter

from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.observability import execute_with_metrics
from openaq_data_pipeline_engineering_spark.operators import versioned
from openaq_data_pipeline_engineering_spark.operators.aqi import (
    AQI_LEVELS,
    BREAKPOINTS,
    compute_aqi,
)
from openaq_data_pipeline_engineering_spark.operators.cow import last_cow_stats
from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first
from openaq_data_pipeline_engineering_spark.operators.filesets import version_data_files
from openaq_data_pipeline_engineering_spark.operators.parse import (
    drop_invalid_datetime,
    parse_datetime,
    with_partition_columns,
)
from openaq_data_pipeline_engineering_spark.operators.pivot import pivot_parameters
from openaq_data_pipeline_engineering_spark.plans.incremental import merge_into_mart
from openaq_data_pipeline_engineering_spark.plans.mart import (
    MartConfig,
    build_mart,
    write_mart,
)
from openaq_data_pipeline_engineering_spark.schemas import MEASUREMENT_SCHEMA
from openaq_data_pipeline_engineering_spark.sources.catalog import (
    recover_partitions,
    register_partitioned_table,
)
from openaq_data_pipeline_engineering_spark.sources.json_source import read_ndjson
from openaq_data_pipeline_engineering_spark.streaming.upsert import run_stream_upsert

import oracle
from gen import CITIES, EPOCH, Network, utc, write_lines
from metrics import QUERY_CLASSES, median
from spans import (
    StageTotals,
    dir_bytes,
    dir_files,
    executed_scans,
    force,
    metric_sum,
    node_count,
    top_shuffle_bytes,
)

PARTS = ["year", "month", "day"]
TABLE = "aq_mart"


def _day(d: int) -> str:
    return (EPOCH + timedelta(days=d)).strftime("%Y-%m-%d")


def _day_filter(days: list[str]) -> str:
    inlist = ", ".join(f"'{d}'" for d in days)
    return f"concat(year, '-', month, '-', day) IN ({inlist})"


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    """Base: subclasses define the inputs, set-up, operation and check."""

    name = ""
    # an operation's reads cycle through this many classes, in order
    READ_CLASSES = 1
    # Operations run untimed between the set-ups and the timed loop. The
    # JIT keeps compiling for minutes (on 4 cores, about two of them
    # through the first minute), and medians taken on that slope
    # scatter: on a quiet 4-core machine, etl_batch run medians spread
    # by ~0.2 of their value with three operations before the loop and
    # by 0.07-0.16 with six. They are the timed operation itself, so
    # nothing the program does can move into them unseen.
    PRE_OPS = 0

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.cfg = MartConfig()
        self.eng = None
        self.failures: list[str] = []

    @property
    def spark(self):
        return self.eng.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, eng, k: int, layer: dict | None = None) -> None:
        """The k-th set-up after a fresh session; ``layer`` collects
        traced counters when given."""
        raise NotImplementedError

    def op(self, i: int) -> tuple[float, list[float]]:
        """One timed operation: (op ms, [ms of each read it issued])."""
        raise NotImplementedError

    def check(self) -> int:
        """Oracle pass over everything the operations produced; returns
        the number of wrong operations (messages in self.failures)."""
        raise NotImplementedError

    def stored_bytes_ratio(self) -> float:
        raise NotImplementedError

    def trace(self, tr, seconds: float, layer: dict) -> tuple[float, int]:
        """Traced operations until ``seconds`` pass, beside a few
        untraced ones; fills ``layer`` and returns (trace.overhead_frac,
        operations attempted)."""
        raise NotImplementedError

    def fail(self, msg: str) -> None:
        self.failures.append(f"{self.name}: {msg}")


# ---------------------------------------------------------------------------
# Query classes of the analyst mix. The same text runs on the engine
# (Engine.sql) and, for the oracle, on DuckDB over the mart's files.
QUERIES = {
    # A6: city filter, avg/max per location and day, top-10
    "a6_topk": (
        "SELECT location_id, CAST(datetime AS DATE) AS d, "
        "round(sum(pm25), 2) / count(pm25) AS avg_pm25, max(pm25) AS max_pm25, "
        "count(pm25) AS n FROM aq_mart "
        "WHERE city_name = '{city}' AND pm25 IS NOT NULL "
        "GROUP BY location_id, CAST(datetime AS DATE) "
        "ORDER BY avg_pm25 DESC, location_id, d LIMIT 10"
    ),
    # A7: single-pass conditional aggregates
    "a7_conditional": (
        "SELECT count(*) AS n_rows, count(DISTINCT location_id) AS n_locations, "
        "CAST(sum(CASE WHEN pm25 > {threshold} THEN 1 ELSE 0 END) AS BIGINT) AS n_high, "
        "count(CASE WHEN no2 IS NULL THEN 1 END) AS n_no2_missing, "
        "round(sum(pm10), 2) AS sum_pm10 FROM aq_mart WHERE country_code = 'VN'"
    ),
    # A8: duplicate audit (a correct mart has none)
    "a8_dup_audit": (
        "SELECT location_id, datetime, count(*) AS dup_count FROM aq_mart "
        "GROUP BY location_id, datetime HAVING count(*) > 1 "
        "ORDER BY location_id, datetime"
    ),
    # A9: temporal extent per month
    "a9_extent": (
        "SELECT year, month, min(datetime) AS min_ts, max(datetime) AS max_ts, "
        "count(*) AS n FROM aq_mart GROUP BY year, month ORDER BY year, month"
    ),
    # one location over 3 days: partition pruning + row-group skipping
    "point_lookup": (
        "SELECT datetime, pm25, pm10, no2 FROM aq_mart "
        "WHERE location_id = '{location}' AND {partitions} "
        "AND datetime >= TIMESTAMP '{start} 00:00:00' "
        "AND datetime < TIMESTAMP '{stop} 00:00:00' ORDER BY datetime"
    ),
    # AQI level stats over one day: the base read; compute_aqi on top
    "aqi_day": (
        "SELECT pm25, pm10 FROM aq_mart "
        "WHERE year = '{year}' AND month = '{month}' AND day = '{day}'"
    ),
}


def _aqi_stats(df):
    return (
        compute_aqi(df)
        .groupBy("aqi_level")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("aqi").alias("max_aqi"),
            F.min("aqi").alias("min_aqi"),
        )
        .orderBy("aqi_level")
    )


def _partition_files(mart: str) -> dict[str, frozenset]:
    out: dict[str, set] = {}
    for f in dir_files(mart):
        out.setdefault(os.path.dirname(f), set()).add(f)
    return {k: frozenset(v) for k, v in out.items()}


class EtlBatch(Workload):
    """The daily batch. One operation is the reference Glue job end to
    end on a raw zone of hourly drops (read_ndjson -> build_mart ->
    write_mart -> register_partitioned_table), then a 24h-lookback
    re-delivery merged into the fresh mart (merge_into_mart ->
    recover_partitions). After each, one client runs one round of the
    analyst query mix on the layout both writers left; those queries
    are the operation's reads."""

    name = "etl_batch"
    LOCATIONS, HOURS = 80, 168
    KEYS = ["location_id", "datetime"]
    # extracted half a day before the raw zone ends: it rewrites the
    # last two UTC days
    BATCH_END, BATCH_TAG = 168 - 12, "batch-0"
    READ_CLASSES = len(QUERY_CLASSES)
    PRE_OPS = 2

    def generate(self) -> None:
        self.net = Network(self.seed, self.LOCATIONS, self.HOURS)
        self.raw = self.path("raw")
        self.raw_bytes = self.net.write_raw_zone(self.raw, range(self.HOURS))
        self.batch = self.path("batches", "batch_0000.json")
        self.batch_bytes = write_lines(
            self.batch, self.net.batch_lines(self.BATCH_END, self.BATCH_TAG)
        )
        self.queries = self._mix(random.Random(f"{self.seed}-queries"), 3000)
        self.next_query = 0

    def _mix(self, rng: random.Random, n: int) -> list[tuple[str, str]]:
        """A fixed, seeded sequence: the classes in turn, fresh
        parameters each time."""
        days = self.HOURS // 24
        cities = [c[0] for c in CITIES] + ["Unknown"]
        out = []
        for i in range(n):
            cls = QUERY_CLASSES[i % len(QUERY_CLASSES)]
            d = rng.randrange(days - 2)
            y, m, dd = _day(d).split("-")
            params = {
                "city": rng.choice(cities),
                "threshold": rng.choice([12, 35.5, 55.5, 75]),
                "location": rng.choice(self.net.locations).location_id,
                "partitions": _day_filter([_day(d + j) for j in range(3)]),
                "start": _day(d),
                "stop": _day(d + 3),
                "year": y,
                "month": m,
                "day": dd,
            }
            out.append((cls, QUERIES[cls].format(**params)))
        return out

    # -- the operation -----------------------------------------------------
    def build_and_register(self, out: str, layer: dict | None) -> None:
        raw = read_ndjson(self.spark, self.raw)
        mart = build_mart(raw, self.cfg)
        write_mart(mart, out)
        t0 = perf_counter()
        register_partitioned_table(self.spark, TABLE, out, PARTS, sample=mart)
        if layer is not None:
            layer.setdefault("_catalog.register_s", []).append(perf_counter() - t0)

    def merge(self, out: str, layer: dict | None) -> None:
        before = _partition_files(out) if layer is not None else None
        t0 = perf_counter()
        batch = build_mart(read_ndjson(self.spark, self.batch), self.cfg)
        # the batch wins over rows on disk, which carry no batch_ts
        merge_into_mart(
            self.spark,
            out,
            batch.withColumn("batch_ts", F.lit(1)),
            keys=self.KEYS,
            tiebreaker=[F.desc("batch_ts")],
        )
        t1 = perf_counter()
        recover_partitions(self.spark, TABLE)
        t2 = perf_counter()
        if layer is not None:
            after = _partition_files(out)
            touched = [p for p, fs in after.items() if before.get(p) != fs]
            rewritten = sum(os.path.getsize(f) for p in touched for f in after[p])
            layer.setdefault("_merge.self_ms", []).append((t1 - t0) * 1e3)
            layer.setdefault("_catalog.recover_ms", []).append((t2 - t1) * 1e3)
            layer["merge.partitions_touched"] = len(touched)
            layer["merge.bytes_rewritten"] = rewritten
            layer["merge.write_amp"] = rewritten / self.batch_bytes
            layer["catalog.partitions"] = len(
                self.spark.sql(f"SHOW PARTITIONS {TABLE}").collect()
            )

    def run_query(self, cls: str, sql: str) -> list[tuple]:
        df = self.eng.sql(sql)
        if cls == "aqi_day":
            df = _aqi_stats(df)
        return _rows(df)

    def query_round(self) -> list[tuple[str, str, list, float]]:
        """The next round of the mix, each class once, in class order:
        (class, sql, rows, ms) per query."""
        out = []
        for _ in QUERY_CLASSES:
            cls, sql = self.queries[self.next_query % len(self.queries)]
            self.next_query += 1
            t0 = perf_counter()
            rows = self.run_query(cls, sql)
            out.append((cls, sql, rows, (perf_counter() - t0) * 1e3))
        return out

    def setup(self, eng, k, layer=None) -> None:
        self.eng = eng
        out = self.path(f"warm{k}")  # warm-up: one whole operation
        self.build_and_register(out, layer)
        self.merge(out, layer)
        self.query_round()
        self.outputs: list[tuple[str, list]] = []

    def op(self, i):
        out = self.path(f"mart{i}")
        t0 = perf_counter()
        self.build_and_register(out, None)
        self.merge(out, None)
        op_ms = (perf_counter() - t0) * 1e3
        results = self.query_round()
        self.outputs.append((out, results))
        return op_ms, [ms for _c, _s, _r, ms in results]

    # -- checks ----------------------------------------------------------
    def check(self) -> int:
        con = oracle.connect()
        readings = self.net.etl_readings(range(self.HOURS))
        self.net.apply_batch(readings, self.BATCH_END, self.BATCH_TAG)
        want = oracle.expected_digest(
            con, self.net.mart_rows(readings), oracle.MART_COLUMNS
        )
        wrong = 0
        for out, results in self.outputs:
            got = oracle.digest(con, oracle.mart_source(out), oracle.MART_COLUMNS)
            if got != want:
                self.fail(f"mart {out} digest {got} != expected {want}")
                wrong += 1
                continue
            oracle.register_mart_view(con, TABLE, out)
            for cls, sql, rows, _ms in results:
                if cls == "aqi_day":
                    expected = oracle.aqi_level_stats(
                        oracle.sql_rows(con, sql), BREAKPOINTS, AQI_LEVELS
                    )
                else:
                    expected = oracle.sql_rows(con, sql)
                if not oracle.same_rows(rows, expected):
                    self.fail(f"{cls}: {rows[:3]} != expected {expected[:3]} for {sql}")
                    wrong += 1
                    break
        return wrong

    def stored_bytes_ratio(self) -> float:
        return dir_bytes(self.outputs[-1][0]) / (self.raw_bytes + self.batch_bytes)

    # -- traced mode -----------------------------------------------------
    def trace_mart_chain(self, tr, layer: dict) -> float:
        """Force each prefix of build_mart's chain (read, parse, dedup,
        pivot, enrich) and record self times as prefix differences plus
        the prefix plans' counters. Mirrors plans/mart.build_mart step
        for step; the last prefix IS build_mart. Returns the full
        chain's seconds."""
        cfg = self.cfg
        raw = read_ndjson(self.spark, self.raw)
        parsed = with_partition_columns(
            drop_invalid_datetime(parse_datetime(raw, cfg.ts), cfg.ts), cfg.ts
        )
        deduped = dedup_first(
            parsed,
            keys=[cfg.key, cfg.ts, cfg.parameter],
            tiebreaker=cfg.tiebreaker or [cfg.value],
        )
        wide = pivot_parameters(
            deduped,
            group_keys=[cfg.key, cfg.ts, *PARTS],
            pivot_col=cfg.parameter,
            value_col=cfg.value,
            values=cfg.parameters,
            value_decimals=cfg.value_decimals,
        )
        prefixes = [
            ("sources.json_source.read_ndjson", raw),
            ("operators.parse", parsed),
            ("operators.dedup", deduped),
            ("operators.pivot", wide),
            ("operators.enrich", build_mart(raw, cfg)),
        ]
        res = {}
        for name, df in prefixes:
            with tr.span(f"prefix.{name}"):
                res[name] = force(df)
        (t_r, n_r, nodes_r), (t_p, n_p, _), (t_d, n_d, nodes_d), (
            t_v,
            n_v,
            nodes_v,
        ), (t_m, _n_m, nodes_m) = res.values()
        for key, v in (
            ("sources.read_ndjson_s", t_r),
            ("parse.self_s", t_p - t_r),
            ("dedup.self_s", t_d - t_p),
            ("pivot.self_s", t_v - t_d),
            ("enrich.self_s", t_m - t_v),
        ):
            layer.setdefault("_" + key, []).append(v)
        layer.update(
            {
                "sources.raw_rows": n_r,
                "sources.raw_bytes": metric_sum(nodes_r, "size of files read", "Scan"),
                "sources.raw_scan_passes": node_count(
                    nodes_m, "Scan json", "number of files read"
                ),
                "parse.rows_dropped": n_r - n_p,
                "dedup.rows_in": n_p,
                "dedup.rows_out": n_d,
                "dedup.keep_ratio": n_d / n_p if n_p else 0.0,
                "dedup.shuffle_bytes": top_shuffle_bytes(nodes_d),
                "pivot.rows_out": n_v,
                "pivot.shuffle_bytes": top_shuffle_bytes(nodes_v),
                "enrich.broadcast_joins": node_count(nodes_m, "BroadcastHashJoin"),
            }
        )
        return t_m

    def trace_queries(self, tr, layer: dict) -> None:
        """Each class once more, traced: how long Engine.sql takes to
        return, the executed plan's scan counters, and compute_aqi's
        self time over its base read."""
        for cls, sql in self.queries[: len(QUERY_CLASSES)]:
            with tr.span(f"query.{cls}"):
                t0 = perf_counter()
                with tr.span("engine.sql"):
                    df = self.eng.sql(sql)
                layer.setdefault("_engine.sql_plan_ms", []).append(
                    (perf_counter() - t0) * 1e3
                )
                if cls == "aqi_day":
                    base = df
                    df = _aqi_stats(base)
                with tr.span("execute"):
                    n, _nodes = execute_with_metrics(df)
                if cls == "aqi_day":
                    with tr.span("operators.aqi"):
                        t_base = force(base)[0]
                        t_aqi = force(compute_aqi(base))[0]
                    layer.setdefault("_aqi.self_ms", []).append((t_aqi - t_base) * 1e3)
            scans = executed_scans(df)
            rows = sum(m.get("number of output rows", 0) for m in scans)
            layer[f"scan.files_read.{cls}"] = sum(
                m.get("number of files read", 0) for m in scans
            )
            layer[f"scan.bytes_read.{cls}"] = sum(
                m.get("size of files read", 0) for m in scans
            )
            layer[f"scan.rows_per_result.{cls}"] = rows / max(1, n)

    def trace(self, tr, seconds, layer):
        plain = [self.op(i)[0] for i in range(2)]
        traced = []
        t_end = perf_counter() + seconds
        i = len(self.outputs)
        while not traced or perf_counter() < t_end:
            out = self.path(f"mart{i}")
            i += 1
            t0 = perf_counter()
            with tr.span("etl_batch.op"):
                t_chain = self.trace_mart_chain(tr, layer)
                mart = build_mart(read_ndjson(self.spark, self.raw), self.cfg)
                stages = StageTotals(self.spark)
                w0 = perf_counter()
                with tr.span("plans.mart.write_mart"):
                    write_mart(mart, out)
                layer.setdefault("_write.self_s", []).append(perf_counter() - w0 - t_chain)
                layer["write.tasks"] = stages.last_stage_tasks()
                files = dir_files(out)
                layer["write.files"] = len(files)
                layer["write.bytes"] = sum(os.path.getsize(f) for f in files)
                layer["write.mean_file_kb"] = layer["write.bytes"] / 1024 / len(files)
                r0 = perf_counter()
                with tr.span("sources.catalog.register_partitioned_table"):
                    register_partitioned_table(self.spark, TABLE, out, PARTS, sample=mart)
                layer.setdefault("_catalog.register_s", []).append(perf_counter() - r0)
                with tr.span("plans.incremental.merge"):
                    self.merge(out, layer)
            traced.append((perf_counter() - t0) * 1e3)
            self.outputs.append((out, self.query_round()))
            self.trace_queries(tr, layer)
        return median(traced) / median(plain) - 1, len(plain) + len(traced)


# ---------------------------------------------------------------------------
class StreamUpsert(Workload):
    """Hourly drops upserted one at a time into a versioned keyed table."""

    name = "stream_upsert"
    LOCATIONS, HISTORY, DROPS = 60, 24, 40
    PRE_OPS = 3
    # An operation reads these hours, counted back from the one it just
    # landed: the fresh hour, the one before, and two that re-deliveries
    # keep rewriting. One Spark job each, so a run of ~6 operations
    # gives ~24 read samples instead of 6.
    READ_BACK = (0, 1, 6, 23)
    READ_CLASSES = len(READ_BACK)
    KEYS = ["location_id", "datetime", "parameter"]

    def generate(self) -> None:
        self.hours = self.HISTORY + 1 + self.DROPS
        self.net = Network(self.seed, self.LOCATIONS, self.hours)
        self.drops = []
        for d in range(self.hours):
            path = self.path("drops", f"drop_{d:05d}.json")
            self.drops.append((path, write_lines(path, self.net.drop_lines(d))))

    def _stream(self):
        s = self.spark.readStream.schema(MEASUREMENT_SCHEMA).json(self.src)
        s = drop_invalid_datetime(parse_datetime(s, "datetime"), "datetime")
        return parse_datetime(s, "extracted_at")

    def _land(self, d: int) -> None:
        """Copy a drop in beside the source directory, then rename it in:
        the stream never sees a half-written file."""
        tmp = os.path.join(self.base, "landing", os.path.basename(self.drops[d][0]))
        shutil.copyfile(self.drops[d][0], tmp)
        os.replace(tmp, os.path.join(self.src, os.path.basename(tmp)))
        self.landed = d + 1

    def _upsert(self) -> None:
        run_stream_upsert(
            self._stream(), self.ckpt, self.table, self.KEYS, "extracted_at"
        )

    def setup(self, eng, k, layer=None) -> None:
        self.eng = eng
        self.base = self.path(f"s{k}")
        self.src = os.path.join(self.base, "src")
        self.ckpt = os.path.join(self.base, "ckpt")
        self.table = os.path.join(self.base, "table")
        for d in ("src", "landing"):
            os.makedirs(os.path.join(self.base, d))
        for d in range(self.HISTORY):
            self._land(d)
        self._upsert()  # the history lands as one micro-batch
        self._land(self.HISTORY)  # warm-up: the first file-granular commit
        self._upsert()
        self._read(self.HISTORY)
        # (drops landed, hour read, rows)
        self.reads: list[tuple[int, int, list]] = []
        # measured here, at a fixed point of the drop sequence, so it
        # does not depend on how many drops the timed loop got through
        stored = sum(os.path.getsize(f) for f in self.snapshot_files())
        self.ratio = stored / sum(size for _p, size in self.drops[: self.landed])

    def _read(self, d: int) -> list:
        t = utc(d).strftime("%Y-%m-%d %H:%M:%S")
        df = versioned.read_snapshot(self.spark, self.table)
        return _rows(
            df.where(F.col("datetime") == F.lit(t).cast("timestamp")).agg(
                F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s")
            )
        )

    def op(self, i):
        d = self.landed
        if d >= self.hours:
            raise RuntimeError("stream_upsert ran out of generated drops")
        self._land(d)
        t0 = perf_counter()
        self._upsert()
        op_ms = (perf_counter() - t0) * 1e3
        read_ms = []
        for back in self.READ_BACK:
            t0 = perf_counter()
            self.reads.append((self.landed, d - back, self._read(d - back)))
            read_ms.append((perf_counter() - t0) * 1e3)
        return op_ms, read_ms

    def snapshot_files(self) -> list[str]:
        return [
            f
            for p in versioned.resolve_version_paths(self.table)
            for f in version_data_files(p)
        ]

    def check(self) -> int:
        wrong = 0
        for landed, h, rows in self.reads:
            vals = self.net.hour_values(h, landed)
            want = [(len(vals), round(sum(vals), 2))]
            if not oracle.same_rows(rows, want):
                self.fail(f"hour {h} read after {landed} drops: {rows} != {want}")
                wrong += 1
        con = oracle.connect()
        want = oracle.expected_digest(
            con, self.net.snapshot_rows(self.landed), oracle.SNAPSHOT_COLUMNS
        )
        got = oracle.digest(
            con, oracle.files_source(self.snapshot_files()), oracle.SNAPSHOT_COLUMNS
        )
        if got != want:
            self.fail(f"snapshot digest {got} != expected {want}")
            wrong = max(wrong, 1)
        return wrong

    def stored_bytes_ratio(self) -> float:
        return self.ratio

    def trace(self, tr, seconds, layer):
        plain = [self.op(0)[0] for _ in range(2)]
        traced = []
        t_end = perf_counter() + seconds
        while not traced or perf_counter() < t_end:
            d = self.landed
            self._land(d)
            t0 = perf_counter()
            with tr.span("streaming.run_stream_upsert"):
                self._upsert()
            traced.append((perf_counter() - t0) * 1e3)
            stats = last_cow_stats(self.table) or {}
            layer["upsert.files_touched"] = stats.get("files_rewritten", 0)
            layer["upsert.files_carried"] = stats.get("files_carried", 0)
            layer["upsert.bytes_written"] = stats.get("bytes_rewritten", 0)
            layer["upsert.write_amp"] = stats.get("bytes_rewritten", 0) / self.drops[d][1]
            layer["versioned.versions_kept"] = len(versioned.snapshot_versions(self.table))
            r0 = perf_counter()
            with tr.span("operators.versioned.read_snapshot"):
                versioned.read_snapshot(self.spark, self.table)
            layer.setdefault("_versioned.read_snapshot_ms", []).append(
                (perf_counter() - r0) * 1e3
            )
            self.reads.append((self.landed, d, self._read(d)))
        return median(traced) / median(plain) - 1, len(plain) + len(traced)


WORKLOADS = {w.name: w for w in (EtlBatch, StreamUpsert)}
