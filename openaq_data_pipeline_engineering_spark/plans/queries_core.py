"""Core declared queries: the reference's relational surface (SURVEY §2)
mapped onto the driver star schema per FIXTURES.md §4.

events(event_id, ts, user_id, event_type, value, props) stands in for the
long measurements fact: (user_id, ts, event_type, value) ≅
(location_id, datetime, parameter, value). lineitem/orders/customer carry
the filtered-aggregate / top-k / QA query templates; nation/region are the
broadcast-enrichment dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.aqi import BREAKPOINTS, aqi_level, piecewise_linear
from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first
from openaq_data_pipeline_engineering_spark.operators.filters import null_profile, range_qa_counts
from openaq_data_pipeline_engineering_spark.operators.parse import with_partition_columns
from openaq_data_pipeline_engineering_spark.plans.registry import query
from openaq_data_pipeline_engineering_spark.sources.star import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------------------
# A6/O2 — filtered multi-aggregate + top-k (reference doc/architecture.md:374-385:
# AVG/MAX pollutant by location & date with city filter, ORDER BY avg DESC LIMIT 10)
# --------------------------------------------------------------------------
@query(
    "flagship_daily_topk",
    "A6/O2: filter → group by (entity, day) → avg/max/count → total-order top-10",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS event_date,
           round(sum(value), 2) / count(*) AS avg_value,
           max(value) AS max_value,
           count(*) AS n_events
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY avg_value DESC, user_id, event_date
    LIMIT 10
    """,
)
def flagship_daily_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id", F.to_date("ts").alias("event_date"))
        .agg(
            (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("avg_value"), "user_id", "event_date")
        .limit(10)
    )


# --------------------------------------------------------------------------
# A5 — group-count ranking (reference README.md:393-396)
# --------------------------------------------------------------------------
@query(
    "group_count_ranking",
    "A5: groupBy count, ORDER BY count DESC with total tiebreak, LIMIT 20",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events
    GROUP BY user_id, event_type
    ORDER BY n DESC, user_id, event_type
    LIMIT 20
    """,
)
def group_count_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id", "event_type")
        .limit(20)
    )


# --------------------------------------------------------------------------
# A7 — conditional aggregates (reference doc/archive/plan.md:520-528)
# --------------------------------------------------------------------------
@query(
    "conditional_aggregates",
    "A7: COUNT/COUNT DISTINCT/SUM(CASE WHEN) single-pass conditional aggregation",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    """,
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Money sums aggregate in exact DECIMAL: order-independent and engine-
    # independent at any scale (a double sum at 1e10 magnitude has ULP
    # comparable to the cent grid, so no rounding could stabilize it).
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    ).cast("double")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        revenue.alias("revenue"),
    )


# --------------------------------------------------------------------------
# A1-adjacent — TPC-H Q1-shaped pricing summary (A6/A7 composition)
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    "A6/A7: grouped multi-aggregate with date predicate (TPC-H Q1 shape)",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_d = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    price_d = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
    disc_d = F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
    disc_price_d = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    ).cast("double")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty_d.alias("sum_qty"),
            price_d.alias("sum_base_price"),
            disc_price_d.alias("sum_disc_price"),
            (qty_d / cnt).alias("avg_qty"),
            (price_d / cnt).alias("avg_price"),
            (disc_d / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# A8 — duplicate audit (reference doc/archive/plan.md:533-540)
# --------------------------------------------------------------------------
@query(
    "duplicate_audit",
    "A8: GROUP BY key HAVING COUNT(*) > 1 duplicate detection",
    oracle="""
    SELECT user_id, ts, count(*) AS dup_count
    FROM events
    GROUP BY user_id, ts
    HAVING count(*) > 1
    """,
)
def duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --------------------------------------------------------------------------
# A9 — temporal extent per month (reference historical_backfill plan:351-358)
# --------------------------------------------------------------------------
@query(
    "temporal_extent",
    "A9: MIN/MAX timestamp + count rolled up by year, month",
    oracle="""
    SELECT CAST(year(ts) AS INTEGER) AS year,
           CAST(month(ts) AS INTEGER) AS month,
           min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def temporal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.year("ts").alias("year"), F.month("ts").alias("month")
        )
        .agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# A11 — distinct-values scan (reference README.md:399)
# --------------------------------------------------------------------------
@query(
    "distinct_scan",
    "A11: SELECT DISTINCT over a categorical column",
    oracle="SELECT DISTINCT event_type FROM events",
)
def distinct_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


# --------------------------------------------------------------------------
# W1 — deterministic ranked-window dedup (reference process_openaq_raw.py:131-135)
# --------------------------------------------------------------------------
@query(
    "dedup_window",
    "W1: row_number() OVER (PARTITION BY key ORDER BY tiebreaker) = 1 dedup",
    oracle="""
    SELECT event_id, user_id, ts, value FROM (
        SELECT event_id, user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # total_tiebreaker: the oracle's own determinism already requires
    # event_id to be unique within (user_id, ts) — struct-min picks the
    # identical survivor with map-side partial agg instead of a
    # reduce-side full sort (r13, guide §2.3).
    return dedup_first(
        ev,
        keys=["user_id", "ts"],
        tiebreaker=["event_id"],
        total_tiebreaker=True,
    ).select(
        "event_id", "user_id", "ts", "value"
    )


# --------------------------------------------------------------------------
# A1 — pivot long→wide with mean (reference process_openaq_raw.py:151-165)
# --------------------------------------------------------------------------
@query(
    "pivot_mean",
    "A1: groupBy(entity).pivot(parameter, explicit values).mean(value)",
    oracle="""
    SELECT user_id,
           """
    + ",\n           ".join(
        f"CASE WHEN count(CASE WHEN event_type = '{t}' THEN 1 END) > 0 THEN "
        f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 2) "
        f"/ count(CASE WHEN event_type = '{t}' THEN 1 END) END AS {t}"
        for t in EVENT_TYPES
    )
    + """
    FROM events
    GROUP BY user_id
    """,
)
def pivot_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = F.count("value")
    stable_mean = F.when(cnt > 0, F.round(F.sum("value"), 2) / cnt)
    return ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(stable_mean)


# --------------------------------------------------------------------------
# J1 — small-dim broadcast enrichment join (reference process_openaq_raw.py:188-192)
# --------------------------------------------------------------------------
@query(
    "enrich_broadcast_join",
    "J1: fact ⟕ dim ⟕ dim broadcast equi-join chain (customer→nation→region)",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, n_name AS nation, r_name AS region
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def enrich_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            "c_custkey", "c_name", "c_mktsegment",
            F.col("n_name").alias("nation"), F.col("r_name").alias("region"),
        )
    )


# --------------------------------------------------------------------------
# P2/F2/F4 — derived partition columns (reference process_openaq_raw.py:124-127)
# --------------------------------------------------------------------------
@query(
    "partition_columns",
    "P2: year / zero-padded month & day partition columns from a timestamp",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS VARCHAR) AS year,
           lpad(CAST(month(ts) AS VARCHAR), 2, '0') AS month,
           lpad(CAST(day(ts) AS VARCHAR), 2, '0') AS day
    FROM events
    """,
)
def partition_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return with_partition_columns(ev, "ts").select("event_id", "year", "month", "day")


# --------------------------------------------------------------------------
# P6/F6 — null-fill defaults via coalesce chain (reference
# process_openaq_raw.py:195-198 + extract_api.py:390)
# --------------------------------------------------------------------------
@query(
    "null_fill_defaults",
    "P6/F6: synthesize nulls then coalesce to defaults (fillna semantics)",
    oracle="""
    SELECT event_id,
           coalesce(nullif(event_type, 'view'), 'Unknown') AS event_type_filled,
           coalesce(CASE WHEN value >= 100 THEN NULL ELSE value END, 0.0) AS value_filled
    FROM events
    """,
)
def null_fill_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nulled = ev.select(
        "event_id",
        F.when(F.col("event_type") == "view", None).otherwise(F.col("event_type")).alias("event_type_filled"),
        F.when(F.col("value") >= 100, None).otherwise(F.col("value")).alias("value_filled"),
    )
    return nulled.fillna({"event_type_filled": "Unknown", "value_filled": 0.0})


# --------------------------------------------------------------------------
# P7 — activity filter against a data-derived cutoff (reference extract_api.py:111-186)
# --------------------------------------------------------------------------
@query(
    "activity_filter",
    "P7: keep rows within a lookback window of the dataset's max timestamp",
    oracle="""
    SELECT user_id, count(*) AS n_recent
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    GROUP BY user_id
    """,
)
def activity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )


# --------------------------------------------------------------------------
# P8/F3 — parameter normalization + membership (reference extract_api.py:167-179)
# --------------------------------------------------------------------------
@query(
    "param_normalize_membership",
    "P8/F3: lowercase + strip '.' normalization, membership semi-join",
    oracle="""
    SELECT p_partkey, p_brand,
           replace(lower(p_type), '.', '') AS type_norm
    FROM part
    WHERE contains(replace(lower(p_type), '.', ''), 'econ')
       OR contains(replace(lower(p_type), '.', ''), 'promo')
    """,
)
def param_normalize_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    norm = F.regexp_replace(F.lower(F.col("p_type")), r"\.", "")
    return (
        part.withColumn("type_norm", norm)
        .filter(F.col("type_norm").contains("econ") | F.col("type_norm").contains("promo"))
        .select("p_partkey", "p_brand", "type_norm")
    )


# --------------------------------------------------------------------------
# P9 — range QA (reference tests/test_glue_transformation.py:198-253)
# --------------------------------------------------------------------------
@query(
    "range_qa",
    "P9: single-pass out-of-range counts across columns",
    oracle="""
    SELECT CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_oob,
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount_oob,
           CAST(sum(CASE WHEN l_extendedprice < 0 OR l_extendedprice > 1e9 THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_oob
    FROM lineitem
    """,
)
def range_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return range_qa_counts(
        li,
        {
            "l_quantity": (1, 50),
            "l_discount": (0, 0.1),
            "l_extendedprice": (0, 1e9),
        },
    )


# --------------------------------------------------------------------------
# P10 — null profiling (reference process_openaq_raw.py:228-231)
# --------------------------------------------------------------------------
@query(
    "null_profile",
    "P10: per-column null counts in one scan",
    oracle="""
    SELECT count(CASE WHEN user_id IS NULL THEN 1 END) AS user_id_nulls,
           count(CASE WHEN ts IS NULL THEN 1 END) AS ts_nulls,
           count(CASE WHEN value IS NULL THEN 1 END) AS value_nulls,
           count(CASE WHEN props IS NULL THEN 1 END) AS props_nulls
    FROM events
    """,
)
def null_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return null_profile(ev, ["user_id", "ts", "value", "props"])


# --------------------------------------------------------------------------
# O2 — top-k by measure (reference doc/architecture.md:384-385)
# --------------------------------------------------------------------------
@query(
    "topk_order_limit",
    "O2: ORDER BY measure DESC LIMIT k with unique tiebreak (TakeOrderedAndProject)",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# O1/O3 — multi-key sort + limit (reference etls/openaq_etl.py:300)
# --------------------------------------------------------------------------
@query(
    "multi_key_sort_limit",
    "O1/O3: multi-key total order + LIMIT sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate
    FROM lineitem
    ORDER BY l_shipdate, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def multi_key_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .limit(100)
    )


# --------------------------------------------------------------------------
# §2.7 — union of per-slice extracts (reference dags/tasks/extract_tasks.py:50-81)
# --------------------------------------------------------------------------
@query(
    "union_slices",
    "unionByName of filtered slices → aggregate (multi-city extraction fan-out)",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
        SELECT event_type, value FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_type, value FROM events WHERE event_type = 'purchase'
    )
    GROUP BY event_type
    """,
)
def union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("event_type", "value")
    b = ev.filter(F.col("event_type") == "purchase").select("event_type", "value")
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# §2.7 — anti-join set difference (reference tests/test_glue_transformation.py:333-339)
# --------------------------------------------------------------------------
@query(
    "anti_join_qa",
    "set-difference QA: keys present in dim but absent from fact (left-anti join)",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def anti_join_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# §2.7 — left-semi membership (reference P8 semantics as a join)
# --------------------------------------------------------------------------
@query(
    "semi_join_membership",
    "left-semi join membership filter (suppliers having any lineitem)",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
    """,
)
def semi_join_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


# --------------------------------------------------------------------------
# F11 — AQI piecewise-linear scoring, native SQL expressions (AQI plan:36-49)
# --------------------------------------------------------------------------
def _aqi_case_sql(col: str, pollutant: str) -> str:
    """Emit the DuckDB CASE expression for one pollutant's breakpoints —
    generated from the SAME table the Spark expression uses, but by its
    own formula text, so the differential checks an independent build.

    Every literal is cast to DOUBLE: DuckDB otherwise parses `12.1` as
    DECIMAL(3,1) and does exact decimal subtraction where Spark does
    binary double arithmetic, diverging in the low bits."""

    def d(x) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    def seg_sql(c_lo, c_hi, i_lo, i_hi) -> str:
        return (
            f"(({d(i_hi)} - {d(i_lo)}) / ({d(c_hi)} - {d(c_lo)}))"
            f" * ({col} - {d(c_lo)}) + {d(i_lo)}"
        )

    parts = [f"WHEN {col} IS NULL OR {col} < 0 THEN NULL"]
    for c_lo, c_hi, i_lo, i_hi in BREAKPOINTS[pollutant]:
        parts.append(
            f"WHEN {col} >= {d(c_lo)} AND {col} <= {d(c_hi)} "
            f"THEN {seg_sql(c_lo, c_hi, i_lo, i_hi)}"
        )
    c_lo, c_hi, i_lo, i_hi = BREAKPOINTS[pollutant][-1]
    parts.append(f"WHEN {col} > {d(c_hi)} THEN {seg_sql(c_lo, c_hi, i_lo, i_hi)}")
    return "CASE " + " ".join(parts) + " END"


_AQI_ORACLE = f"""
    WITH sub AS (
        SELECT event_id,
               {_aqi_case_sql('value', 'pm25')} AS aqi_pm25,
               {_aqi_case_sql('(value * 0.8)', 'pm10')} AS aqi_pm10
        FROM events
    )
    SELECT event_id, aqi_pm25, aqi_pm10,
           greatest(aqi_pm25, aqi_pm10) AS aqi,
           CASE
             WHEN greatest(aqi_pm25, aqi_pm10) IS NULL THEN 'Unknown'
             WHEN greatest(aqi_pm25, aqi_pm10) <= 50 THEN 'Good'
             WHEN greatest(aqi_pm25, aqi_pm10) <= 100 THEN 'Moderate'
             WHEN greatest(aqi_pm25, aqi_pm10) <= 150 THEN 'Unhealthy for Sensitive Groups'
             WHEN greatest(aqi_pm25, aqi_pm10) <= 200 THEN 'Unhealthy'
             WHEN greatest(aqi_pm25, aqi_pm10) <= 300 THEN 'Very Unhealthy'
             ELSE 'Hazardous'
           END AS aqi_level
    FROM sub
"""


@query(
    "aqi_piecewise",
    "F11: EPA piecewise-linear AQI + level bucketing as native SQL expressions",
    oracle=_AQI_ORACLE,
)
def aqi_piecewise(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pm25 = piecewise_linear("value", BREAKPOINTS["pm25"])
    pm10 = piecewise_linear("(value * 0.8)", BREAKPOINTS["pm10"])
    df = ev.selectExpr(
        "event_id", f"{pm25} AS aqi_pm25", f"{pm10} AS aqi_pm10"
    )
    aqi = "greatest(aqi_pm25, aqi_pm10)"
    return df.selectExpr(
        "event_id", "aqi_pm25", "aqi_pm10",
        f"{aqi} AS aqi",
        f"{aqi_level(aqi)} AS aqi_level",
    )


# --------------------------------------------------------------------------
# Analytic windows beyond the reference's row_number — lag/lead + frames,
# declared as engine capability (SURVEY §2.5 notes their absence upstream)
# --------------------------------------------------------------------------
@query(
    "window_analytics",
    "W+: lag / moving-average frame / rank over per-entity event sequences",
    oracle="""
    SELECT event_id, user_id, ts,
           value,
           lag(value) OVER w AS prev_value,
           round(sum(value) OVER w3, 2) / count(*) OVER w3 AS ma3,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    wr = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ma3 = F.round(F.sum("value").over(wf), 2) / F.count(F.lit(1)).over(wf)
    return ev.select(
        "event_id", "user_id", "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        ma3.alias("ma3"),
        F.rank().over(wr).alias("value_rank"),
    )
