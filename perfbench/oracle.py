"""Correctness oracles, run outside every timed region.

DuckDB reads what the engine wrote (Parquet files, straight from disk)
and compares it with the generator's ground truth; query results are
compared with the same SQL run by DuckDB over the same files. Nothing
here imports the engine except the AQI breakpoint TABLES, which are the
specification the AQI query is checked against.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa

from gen import PARAMETERS

MART_COLUMNS = [
    ("location_id", "VARCHAR"),
    ("datetime", "TIMESTAMP"),
    ("year", "VARCHAR"),
    ("month", "VARCHAR"),
    ("day", "VARCHAR"),
    *[(p, "DOUBLE") for p in PARAMETERS],
    ("city_name", "VARCHAR"),
    ("country_code", "VARCHAR"),
    ("latitude", "DOUBLE"),
    ("longitude", "DOUBLE"),
]
SNAPSHOT_COLUMNS = [
    ("location_id", "VARCHAR"),
    ("datetime", "TIMESTAMP"),
    ("parameter", "VARCHAR"),
    ("value", "DOUBLE"),
    ("extracted_at", "TIMESTAMP"),
]
_ARROW = {"VARCHAR": pa.string(), "TIMESTAMP": pa.timestamp("us"), "DOUBLE": pa.float64()}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def mart_source(mart_dir: str) -> str:
    """A Hive-partitioned mart directory as a DuckDB relation; partition
    values stay strings ('03', not 3), as the engine declares them."""
    return (
        f"read_parquet('{mart_dir}/**/*.parquet', hive_partitioning=true, "
        "hive_types_autocast=false, union_by_name=true)"
    )


def files_source(files: list[str]) -> str:
    quoted = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{quoted}], union_by_name=true)"


def register_mart_view(con: duckdb.DuckDBPyConnection, name: str, mart_dir: str) -> None:
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in MART_COLUMNS)
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT {cols} FROM {mart_source(mart_dir)}")


def digest(con: duckdb.DuckDBPyConnection, source: str, columns) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes) of ``columns``."""
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in columns)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {source}"
    ).fetchone()
    return int(n), int(h)


def expected_digest(con: duckdb.DuckDBPyConnection, rows: list[tuple], columns) -> tuple[int, int]:
    cols = list(zip(*rows)) if rows else [[] for _ in columns]
    table = pa.table(
        {c: pa.array(list(v), type=_ARROW[t]) for (c, t), v in zip(columns, cols)}
    )
    con.register("__expected", table)
    try:
        return digest(con, "__expected", columns)
    finally:
        con.unregister("__expected")


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Ordered row equality; floats within ``rel`` (summation order
    differs between engines), everything else exact."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not math.isclose(a, b, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif _norm(a) != _norm(b):
                return False
    return True


def _norm(v):
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, date):
        return v
    if isinstance(v, Decimal):
        return float(v)
    return v


def sql_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


# -- AQI reference (operators/aqi.py semantics, row at a time) ------------
def _sub_index(c: float | None, table) -> float | None:
    if c is None or c < 0:
        return None
    for c_lo, c_hi, i_lo, i_hi in table:
        if c_lo <= c <= c_hi:
            return (i_hi - i_lo) / (c_hi - c_lo) * (c - c_lo) + i_lo
    c_lo, c_hi, i_lo, i_hi = table[-1]
    if c > c_hi:
        return (i_hi - i_lo) / (c_hi - c_lo) * (c - c_lo) + i_lo
    return None  # between two breakpoint ranges


def _round_half_up(x: float, places: int) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def aqi_level_stats(rows: list[tuple], breakpoints: dict, levels: list) -> list[tuple]:
    """(aqi_level, n, max_aqi, min_aqi) ordered by level, from
    (pm25, pm10) rows — the aqi_day query's expected result."""
    acc: dict[str, list] = {}
    for pm25, pm10 in rows:
        subs = [
            s
            for s in (
                _sub_index(pm10, breakpoints["pm10"]),
                _sub_index(pm25, breakpoints["pm25"]),
            )
            if s is not None
        ]
        aqi = _round_half_up(max(subs), 4) if subs else None
        label = "Unknown"
        if aqi is not None:
            for lo, hi, name in levels:
                if aqi >= lo and (hi == float("inf") or aqi <= hi):
                    label = name
                    break
        a = acc.setdefault(label, [0, None, None])
        a[0] += 1
        if aqi is not None:
            a[1] = aqi if a[1] is None else max(a[1], aqi)
            a[2] = aqi if a[2] is None else min(a[2], aqi)
    return [(k, *acc[k]) for k in sorted(acc)]
