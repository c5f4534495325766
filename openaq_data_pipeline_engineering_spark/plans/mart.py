"""The mart pipeline: the reference Glue job's full operator chain,
re-planned Spark-first.

Reference chain (glue_jobs/process_openaq_raw.py, traced in SURVEY §3.2):
read → cast datetime → partition cols → window-dedup → pivot(mean) →
dim-extract → left join → fillna → repartition → partitioned write,
with 5 eager count() actions re-scanning the source every time.

Engine differences (each a deliberate scale fix):
- ONE job: metrics ride on ``observe`` instead of 4 extra count() scans.
- ONE pass over the raw input and ONE exchange, hashed on the location
  key: the dedup, the pivot and the dim extraction are a single
  aggregate (first reading per cell by the tiebreaker, an explicit
  pivot value list → no distinct-scan pre-job, frozen schema) and a
  window on the key for the location attributes. The reference's
  second derivation of the dim from the raw frame, and the join that
  brings it back, are gone.
- Deterministic dedup tiebreaker (reference orders by the partition key
  itself → nondeterministic survivor).
- Write repartitions by the OUTPUT partition columns (year, month, day)
  so each Hive partition is written by as few tasks as possible (the
  reference repartitions by location_id, which sprays every task across
  every date partition → small-file explosion at scale).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.compact import (
    _recover_interrupted_partition_rewrite,
    replace_partitions,
)
from openaq_data_pipeline_engineering_spark.operators.parse import (
    drop_invalid_datetime,
    parse_datetime,
    partition_columns_sql,
    quote,
    string_literal,
)

DEFAULT_PARAMETERS = ["pm25", "pm10", "no2", "so2", "o3", "co", "bc"]


@dataclass
class MartConfig:
    """Column mapping + semantics knobs for the long→wide mart build."""

    key: str = "location_id"
    ts: str = "datetime"
    parameter: str = "parameter"
    value: str = "value"
    parameters: list[str] = field(default_factory=lambda: list(DEFAULT_PARAMETERS))
    # source col -> mart col, enrichment metadata carried on the raw rows
    metadata: dict = field(
        default_factory=lambda: {
            "city": "city_name",
            "country": "country_code",
            "latitude": "latitude",
            "longitude": "longitude",
        }
    )
    fills: dict = field(
        default_factory=lambda: {
            "city_name": "Unknown",
            "country_code": "VN",
            "latitude": 0.0,
            "longitude": 0.0,
        }
    )
    tiebreaker: list[str] = field(default_factory=list)  # dedup determinism
    ts_is_string: bool = True  # input datetime is ISO-8601 string
    value_decimals: int | None = None  # fp-stable pivot mean (see pivot.py)


def build_mart(raw: DataFrame, cfg: MartConfig) -> DataFrame:
    """Long measurements → wide mart DataFrame (unwritten logical plan).

    One pass over ``raw`` and one exchange, hashed on ``cfg.key``; the
    aggregate's groups and the location window both cluster on it.

    - A parameter cell is the ``value`` (a double) of that (key, ts,
      parameter)'s first reading by ``cfg.tiebreaker``, ascending, nulls
      first: ``min(CASE WHEN parameter = v THEN named_struct(*tiebreaker,
      value) END)``, rounded to ``value_decimals`` when set. That is
      ``dedup_first``'s rank-1 row under ``pivot_parameters``' mean of
      one reading.
    - The location attributes are those of the key's first reading by
      (ts, *tiebreaker), the survivor ``extract_location_dim`` picks:
      ``min(named_struct(ts, *tiebreaker, *attrs))`` per group, then
      over a window on the key. Where readings tie on (ts, *tiebreaker)
      with differing attributes, that window dedup kept an arbitrary
      one; this keeps the least. A null key gets none, as under the left
      join this replaces.

    The groups are (key, ts). ``year``/``month``/``day`` are functions
    of ts, so they are derived after the aggregate: the same groups,
    and the sort and the exchange carry three fewer string columns.

    Every expression is SQL text (``selectExpr``, ``F.expr``), as in
    ``operators/aqi.py``. Composed from ``Column`` calls the build made
    ~1k Py4J round trips (PySpark 4 call-site capture on each call, a
    re-analysis on each ``withColumn``), ~0.2 s before Spark ran
    anything; as text it makes ~120, for the same output.
    """
    df = raw
    if cfg.ts_is_string:
        df = drop_invalid_datetime(parse_datetime(df, cfg.ts), cfg.ts)
    df = df.repartition(cfg.key)

    key, ts = quote(cfg.key), quote(cfg.ts)
    # positional field names: the value column may also be a tiebreaker
    tiebreak = [
        f"'__t{i}', {quote(c)}" for i, c in enumerate(cfg.tiebreaker or [cfg.value])
    ]
    reading = f"named_struct({', '.join(tiebreak)}, 'value', {quote(cfg.value)})"
    aggs = []
    for v in cfg.parameters:
        is_v = f"{quote(cfg.parameter)} = {string_literal(v)}"
        cell = f"min(CASE WHEN {is_v} THEN {reading} END).`value`"
        if cfg.value_decimals is not None:
            cell = f"round({cell}, {int(cfg.value_decimals)})"
        aggs.append(f"{cell} AS {quote(v)}")
    if cfg.metadata:
        fields = [f"{string_literal(d)}, {quote(s)}" for s, d in cfg.metadata.items()]
        located = f"named_struct('__ts', {ts}, {', '.join(tiebreak + fields)})"
        aggs.append(f"min({located}) AS `__loc`")
    wide = df.groupBy(cfg.key, cfg.ts).agg(*[F.expr(a) for a in aggs])

    parts = partition_columns_sql(cfg.ts)
    cells = [quote(v) for v in cfg.parameters]
    derived = [f"{sql} AS {quote(c)}" for c, sql in parts.items()]
    if not cfg.metadata:
        return wide.selectExpr(key, ts, *derived, *cells)

    loc = f"min(`__loc`) OVER (PARTITION BY {key})"
    wide = wide.selectExpr(
        key, ts, *derived, *cells,
        f"CASE WHEN {key} IS NOT NULL THEN {loc} END AS `__loc`",
    )
    attrs = list(cfg.metadata.values())
    wide = wide.selectExpr(
        key, ts, *map(quote, parts), *cells,
        *[f"`__loc`.{quote(c)} AS {quote(c)}" for c in attrs],
    )
    out = [cfg.key, cfg.ts, *parts, *cfg.parameters, *attrs]
    fills = {c: v for c, v in cfg.fills.items() if c in out}
    return wide.fillna(fills) if fills else wide


def write_mart(
    df: DataFrame,
    path: str,
    sort_cols: list[str] | None = None,
) -> None:
    """Partitioned Snappy-Parquet sink (reference S6) — scale-fixed.

    Repartition by the Hive partition columns so files per partition ==
    tasks that own that partition (reference process_openaq_raw.py:249
    repartitions by location_id instead and writes a file per
    location×date). The partitions ``df`` holds replace their live
    copies and no others (operators/compact.replace_partitions), so a
    re-run is idempotent where the reference's blind append duplicates,
    on any session conf.

    ``sort_cols`` (default: whichever of key/ts exist in the frame)
    clusters rows within each file so Parquet row-group min/max stats
    prune point/range lookups on those columns — free at write time, and
    at 100 TB it is the difference between scanning a partition and
    scanning a row group.
    """
    if sort_cols is None:
        sort_cols = [c for c in ("location_id", "datetime") if c in df.columns]
    out = df.repartition("year", "month", "day")
    if sort_cols:
        out = out.sortWithinPartitions("year", "month", "day", *sort_cols)
    _recover_interrupted_partition_rewrite(path)
    replace_partitions(out, path, ["year", "month", "day"])
