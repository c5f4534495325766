"""AQI computation as native SQL expressions (no UDFs).

The reference *plans* this as three Python UDFs
(doc/archive/"AQI Calculation Implementation Plan.md":57-66) with the EPA
piecewise-linear formula ``((Ih-Il)/(Ch-Cl))*(C-Cl)+Il`` (:36-49) and edge
rules (:69-73): compute from available pollutants only, all-null → NULL
AQI + "Unknown" level, negatives invalid, >500 uncapped.

Engine decision (SURVEY §2.10): CASE breakpoint chains + ``greatest`` —
deterministic, whole-stage-codegen'd, oracle-checkable, and ~100× faster
than row-at-a-time UDFs at scale.

The expressions are built as SQL text and handed to ``selectExpr``, not
composed from ``Column`` calls. Every PySpark Column call is a Py4J
round trip (PySpark 4 adds call-site capture on top), and the breakpoint
chains need a few hundred of them: the Column form cost ~2.3k JVM calls
and ~0.3-0.5 s per ``compute_aqi`` before Spark saw a plan, more than
half of a one-day AQI query. As text the whole build is two
``selectExpr`` calls; Catalyst parses it to the same expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# EPA-style breakpoints: pollutant -> [(c_lo, c_hi, i_lo, i_hi), ...].
# (pm25 uses the 2024 EPA table shape the reference plan cites.)
BREAKPOINTS: dict[str, list[tuple[float, float, float, float]]] = {
    "pm25": [
        (0.0, 12.0, 0, 50),
        (12.1, 35.4, 51, 100),
        (35.5, 55.4, 101, 150),
        (55.5, 150.4, 151, 200),
        (150.5, 250.4, 201, 300),
        (250.5, 500.4, 301, 500),
    ],
    "pm10": [
        (0.0, 54.0, 0, 50),
        (55.0, 154.0, 51, 100),
        (155.0, 254.0, 101, 150),
        (255.0, 354.0, 151, 200),
        (355.0, 424.0, 201, 300),
        (425.0, 604.0, 301, 500),
    ],
}

AQI_LEVELS = [
    (0, 50, "Good"),
    (51, 100, "Moderate"),
    (101, 150, "Unhealthy for Sensitive Groups"),
    (151, 200, "Unhealthy"),
    (201, 300, "Very Unhealthy"),
    (301, float("inf"), "Hazardous"),
]


def _d(x: float) -> str:
    """A DOUBLE literal. A bare ``12.1`` parses as DECIMAL and would
    change the low bits of the interpolation."""
    return f"CAST({x!r} AS DOUBLE)"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def piecewise_linear(
    c: str, breakpoints: list[tuple[float, float, float, float]]
) -> str:
    """EPA linear interpolation over breakpoint ranges as a SQL CASE on
    the DOUBLE expression ``c``; the first matching range wins.

    Negative input → NULL (invalid, reference edge rule); above the last
    breakpoint → extrapolate from the top segment (>500 uncapped).
    """

    def seg(c_lo, c_hi, i_lo, i_hi) -> str:
        slope = f"({_d(i_hi)} - {_d(i_lo)}) / ({_d(c_hi)} - {_d(c_lo)})"
        return f"({slope}) * ({c} - {_d(c_lo)}) + {_d(i_lo)}"

    parts = [f"WHEN {c} IS NULL OR {c} < {_d(0)} THEN NULL"]
    for c_lo, c_hi, i_lo, i_hi in breakpoints:
        cond = f"{c} >= {_d(c_lo)} AND {c} <= {_d(c_hi)}"
        parts.append(f"WHEN {cond} THEN {seg(c_lo, c_hi, i_lo, i_hi)}")
    # Uncapped extrapolation above the table, using the top segment slope.
    c_lo, c_hi, i_lo, i_hi = breakpoints[-1]
    parts.append(f"WHEN {c} > {_d(c_hi)} THEN {seg(c_lo, c_hi, i_lo, i_hi)}")
    return "CASE " + " ".join(parts) + " END"


def aqi_level(aqi: str) -> str:
    """Categorical bucket for the SQL expression ``aqi``; NULL or a value
    between buckets → 'Unknown'."""
    parts = []
    for lo, hi, label in AQI_LEVELS:
        cond = f"{aqi} >= {_d(lo)}"
        if hi != float("inf"):
            cond += f" AND {aqi} <= {_d(hi)}"
        parts.append(f"WHEN {cond} THEN '{label}'")
    return "coalesce(CASE " + " ".join(parts) + " END, 'Unknown')"


def compute_aqi(df: DataFrame, pollutant_cols: dict[str, str] | None = None) -> DataFrame:
    """Add ``aqi``, ``aqi_level``, ``dominant_pollutant`` columns.

    ``pollutant_cols`` maps pollutant name (a BREAKPOINTS key) to the
    DataFrame column holding its concentration; defaults to identity for
    every breakpoint pollutant present in ``df``.

    AQI = max over per-pollutant sub-indices, computed from available
    (non-null) pollutants only; all-null → NULL/Unknown (reference edge
    rules). Dominant pollutant = argmax, ties broken by pollutant-name
    order for determinism. An existing ``aqi``/``aqi_level``/
    ``dominant_pollutant`` column is replaced in place; the others are
    appended in that order.
    """
    if pollutant_cols is None:
        pollutant_cols = {p: p for p in BREAKPOINTS if p in df.columns}
    if not pollutant_cols:
        raise ValueError("no pollutant columns to compute AQI from")

    # One CASE per pollutant, selected once as a named sub-index column.
    names = sorted(pollutant_cols)
    sub = {n: _quote(f"__aqi_sub_{n}") for n in names}
    conc = {n: f"CAST({_quote(pollutant_cols[n])} AS DOUBLE)" for n in names}
    with_sub = df.selectExpr(
        "*",
        *[
            f"{piecewise_linear(conc[n], BREAKPOINTS[n])} AS {sub[n]}"
            for n in names
        ],
    )

    raw = (
        f"greatest({', '.join(sub.values())})" if len(names) > 1 else sub[names[0]]
    )
    aqi = f"round({raw}, 4)"
    # first name winning a tie = deterministic
    dom = " ".join(
        f"WHEN {sub[n]} IS NOT NULL AND {sub[n]} = {raw} THEN '{n}'"
        for n in names
    )
    derived = {
        "aqi": aqi,
        "aqi_level": aqi_level(aqi),
        "dominant_pollutant": f"coalesce(CASE {dom} END, 'Unknown')",
    }
    cols = list(df.columns)
    cols += [c for c in derived if c not in cols]
    return with_sub.selectExpr(
        *[
            f"{derived[c]} AS {_quote(c)}" if c in derived else _quote(c)
            for c in cols
        ]
    )
