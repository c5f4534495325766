"""Round-7 declared queries: oracle witnesses for the last pytest-only
behavioral surfaces, plus the new declarative data-quality operator.

- ``incremental_mart_merge``: plans/incremental.merge_into_mart — the
  idempotent re-delivery/correction merge the reference's blind-append
  job lacks (SURVEY §2.9; process_openaq_raw.py:253-255 appends, dup
  shrink is within-batch only). Two overlapping batches merge into a
  Hive-partitioned mart by per-partition swap; untouched
  partitions must survive, re-delivered keys must take the corrected
  values.
- ``bucketed_join_colocated``: the 100 TB co-located join strategy —
  both fact tables written ``bucketBy`` the join key, joined with NO
  exchange on either side (pinned by tests/test_plan_audit.py); the
  aggregate must match a plain DuckDB join.
- ``expectations_quarantine``: operators/expectations.py — the
  declarative form of the reference's QA predicates
  (tests/test_glue_transformation.py:198-253, SURVEY §2.2 P9/P10):
  named rules → one-pass per-rule violation report + quarantine split.
- ``zorder_box_pruned_read``: OPTIMIZE ZORDER composed with data
  skipping — Morton-clustered write, 2-D box query through the
  min/max file manifest (operators/skipstats.candidate_files_box).
- ``streaming_quality_split``: the expectations split inside
  foreachBatch (streaming/quality.py) — valid rows upsert into a keyed
  versioned table, violations append to a versioned dead-letter table,
  both idempotent per micro-batch.
- ``fuzzy_linkage_blocked``: entity resolution
  (operators/linkage.py) — block-bounded Levenshtein linkage of a
  corrupted feed back to the clean dimension, best match per record.
- ``sql_optimize_compact`` / ``sql_vacuum_retain``: the OPTIMIZE and
  VACUUM utility-statement forms (operators/sqlutil.py) over the
  compaction and versioned-retention operators.
- ``versioned_asof_timestamp``: TIMESTAMP AS OF time travel (commit
  timestamps, strictly increasing, Delta resolution semantics).
- ``snapshot_cdf_evolution``: change data feed across an added column
  (schema evolution: NULL pre-images, populated post-images).

Registered LAST in registry._load_all so these names sort after the
existing never-driver-sampled backlog in the driver's ~50-query prefix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.plans.registry import query
from openaq_data_pipeline_engineering_spark.scratch import fresh_scratch_dir
from openaq_data_pipeline_engineering_spark.sources.star import (
    fan_out,
    load_table,
)


# --------------------------------------------------------------------------
# Incremental mart maintenance: batch A covers Mar 1-4 1995, batch B
# re-delivers Mar 3-4 with corrected quantities (+100) and extends to
# Mar 5-6. After both merges the mart must hold A's rows on the
# untouched partitions (01, 02) and B's corrected rows on 03-06 —
# witnessing partition-pruned read, window dedup with the batch
# tiebreaker, and the per-partition swap in one artifact.
# Scale: cost ∝ touched partitions (days), never the whole mart.
# --------------------------------------------------------------------------
_WIN_A = ("1995-03-01", "1995-03-05")
_WIN_B = ("1995-03-03", "1995-03-07")


def _mart_batch(
    li: DataFrame, lo: str, hi: str, src_pri: int, qty_shift: float
) -> DataFrame:
    rows = li.filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    return rows.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") + F.lit(qty_shift)).alias("qty"),
        F.lit(src_pri).alias("src_pri"),
        F.year("l_shipdate").cast("string").alias("year"),
        F.lpad(F.month("l_shipdate").cast("string"), 2, "0").alias("month"),
        F.lpad(F.dayofmonth("l_shipdate").cast("string"), 2, "0").alias(
            "day"
        ),
    )


@query(
    "incremental_mart_merge",
    "idempotent incremental merge into a Hive-partitioned mart: "
    "re-delivered keys corrected, untouched partitions preserved "
    "(plans/incremental.merge_into_mart, per-partition swap)",
    oracle="""
    WITH a AS (
        SELECT l_orderkey, l_linenumber, l_quantity AS qty,
               strftime(l_shipdate, '%d') AS day
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-03-01'
          AND l_shipdate < TIMESTAMP '1995-03-05'
    ), b AS (
        SELECT l_orderkey, l_linenumber, l_quantity + 100 AS qty,
               strftime(l_shipdate, '%d') AS day
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-03-03'
          AND l_shipdate < TIMESTAMP '1995-03-07'
    ), final AS (
        SELECT * FROM a WHERE day IN ('01', '02')
        UNION ALL
        SELECT * FROM b
    )
    SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(qty) AS DOUBLE) AS sum_qty
    FROM final GROUP BY day
    """,
)
def incremental_mart_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.plans.incremental import (
        merge_into_mart,
    )

    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    batch_a = _mart_batch(li, *_WIN_A, src_pri=1, qty_shift=0.0)
    batch_b = _mart_batch(li, *_WIN_B, src_pri=0, qty_shift=100.0)
    mart = fresh_scratch_dir("incremental_mart")
    # Row identity INCLUDES the partition columns (r12 determinism fix):
    # merge_into_mart only ever reads the batch's TOUCHED partitions, so
    # a same-key row in an untouched partition always survived anyway —
    # cross-partition key identity was never enforced by the operator.
    # The sf0.1 testdata holds one (l_orderkey, l_linenumber) key with
    # rows on TWO days; under partition-less keys the window tiebreak
    # (src_pri alone) was non-total for that pair and the surviving day
    # was partition-layout-dependent (the round-12 scan-split change
    # flipped it, failing the sf0.1 differential by one row). With the
    # partition in the key the dedup is total and the result equals the
    # oracle at EVERY layout.
    keys = ["l_orderkey", "l_linenumber", "year", "month", "day"]
    # src_pri ascending: the lower-priority value wins the window
    # dedup, i.e. batch B's corrections beat A's re-delivered originals
    merge_into_mart(spark, mart, batch_a, keys, tiebreaker=["src_pri"])
    merge_into_mart(spark, mart, batch_b, keys, tiebreaker=["src_pri"])
    back = spark.read.schema(batch_a.schema).parquet(mart)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("qty").cast("double").alias("sum_qty"),  # integer-valued
    )


# --------------------------------------------------------------------------
# Co-located join: both sides written bucketBy(8, join key) — the
# bucketed scan satisfies the join's required distribution, so the
# sort-merge join plans ZERO exchanges on either input (the strategy
# that turns a 100 TB fact-fact join from a full network shuffle into
# a local merge per bucket). tests/test_plan_audit.py pins the plan
# shape; the value hash here pins the answer.
# --------------------------------------------------------------------------
@query(
    "bucketed_join_colocated",
    "fact-fact join over tables pre-bucketed on the join key: no "
    "exchange on either join input (cluster co-location strategy)",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = fresh_scratch_dir("bucketed_join")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    for name, df, key in [
        ("r7_orders_bkt", orders, "o_orderkey"),
        ("r7_lineitem_bkt", lineitem, "l_orderkey"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # Cluster on the bucket key BEFORE the bucketed write (r12,
            # guide §6 output layout): an unclustered bucketBy write
            # emits all 8 bucket files from EVERY scan task (n_tasks x 8
            # small files); the same-keyed repartition collapses that to
            # exactly one file per bucket — the canonical
            # repartition-then-bucketBy pattern for any scale.
            df.repartition(8, F.col(key))
            .write.mode("overwrite")
            .option("path", os.path.join(root, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table("r7_orders_bkt")
    li = spark.table("r7_lineitem_bkt")
    # merge hint: deterministic SortMergeJoin at every SF (broadcast
    # would also be exchange-free but proves nothing about bucketing)
    joined = o.hint("merge").join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("revenue"),
    )


# --------------------------------------------------------------------------
# Declarative expectations over lineitem: five named rules with known
# violation mass in the testdata, one-pass report, plus the
# __any_failed__ / __all_valid__ summary rows that tie the report to
# the quarantine split (operators/expectations.py keeps the two
# consistent by construction; pytest asserts report == split counts).
# --------------------------------------------------------------------------
_RULES = {
    "qty_le_45": "l_quantity <= 45",
    "discount_le_008": "l_discount <= 0.08",
    "tax_le_006": "l_tax <= 0.06",
    "price_le_100k": "l_extendedprice <= 100000",
    "ship_before_2001": "l_shipdate < TIMESTAMP '2001-01-01'",
}


@query(
    "expectations_quarantine",
    "declarative data-quality expectations: per-rule violation counts "
    "+ quarantine summary in one aggregation pass "
    "(operators/expectations.py)",
    oracle="""
    WITH t AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN NOT coalesce(l_quantity <= 45, false)
                     THEN 1 ELSE 0 END) AS BIGINT) AS f0,
            CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.08, false)
                     THEN 1 ELSE 0 END) AS BIGINT) AS f1,
            CAST(sum(CASE WHEN NOT coalesce(l_tax <= 0.06, false)
                     THEN 1 ELSE 0 END) AS BIGINT) AS f2,
            CAST(sum(CASE WHEN NOT coalesce(l_extendedprice <= 100000,
                     false) THEN 1 ELSE 0 END) AS BIGINT) AS f3,
            CAST(sum(CASE WHEN NOT coalesce(
                     l_shipdate < TIMESTAMP '2001-01-01', false)
                     THEN 1 ELSE 0 END) AS BIGINT) AS f4,
            CAST(sum(CASE WHEN NOT (
                     coalesce(l_quantity <= 45, false)
                     AND coalesce(l_discount <= 0.08, false)
                     AND coalesce(l_tax <= 0.06, false)
                     AND coalesce(l_extendedprice <= 100000, false)
                     AND coalesce(l_shipdate < TIMESTAMP '2001-01-01',
                                  false))
                     THEN 1 ELSE 0 END) AS BIGINT) AS f_any
        FROM lineitem
    )
    SELECT 'qty_le_45' AS rule, f0 AS n_fail, n_rows FROM t
    UNION ALL SELECT 'discount_le_008', f1, n_rows FROM t
    UNION ALL SELECT 'tax_le_006', f2, n_rows FROM t
    UNION ALL SELECT 'price_le_100k', f3, n_rows FROM t
    UNION ALL SELECT 'ship_before_2001', f4, n_rows FROM t
    UNION ALL SELECT '__any_failed__', f_any, n_rows FROM t
    UNION ALL SELECT '__all_valid__', n_rows - f_any, n_rows FROM t
    """,
)
def expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.expectations import (
        expectation_report,
    )

    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    return expectation_report(li, _RULES)


# --------------------------------------------------------------------------
# OPTIMIZE ZORDER composed with data skipping: events written clustered
# by the Morton interleave of (user_id, floor(value)) — every file gets
# a tight bounding box in BOTH dimensions — then a 2-D box query runs
# through the min/max manifest (operators/skipstats.candidate_files_box)
# and must equal a plain filter recomputed by the oracle. The pruning
# effectiveness claim (a value-only predicate prunes files under
# Z-order but NOT under single-key clustering) is pinned in
# tests/test_round7_queries.py, where file counts are observable.
# Scale: this is Delta's OPTIMIZE ZORDER BY + data skipping — at 100 TB
# the manifest is |files| rows and the box read opens only intersecting
# files; correctness never depends on WHERE the range partitioner put
# each row.
# --------------------------------------------------------------------------
_BOX = {"user_id": (4, 11), "val_floor": (64, 255)}  # non-empty at all SFs


@query(
    "zorder_box_pruned_read",
    "Z-order clustered write + file-skipping box read: 2-D manifest "
    "pruning over Morton-interleaved layout equals a plain filter",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    WHERE user_id BETWEEN 4 AND 11
      AND CAST(floor(value) AS BIGINT) BETWEEN 64 AND 255
    GROUP BY event_type
    """,
)
def zorder_box_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.functions.zorder import (
        morton_code,
    )
    from openaq_data_pipeline_engineering_spark.operators.skipstats import (
        file_stats,
        pruned_read_box,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.floor("value").cast("bigint").alias("val_floor"),
    )
    out = fresh_scratch_dir("zorder_table")
    z = morton_code(F.col("user_id"), F.col("val_floor"), bits=16)
    ev.repartitionByRange(16, z).write.mode("overwrite").parquet(out)
    table = spark.read.parquet(out)
    stats = file_stats(table, ["user_id", "val_floor"])
    box = pruned_read_box(table, stats, _BOX)
    return box.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


# --------------------------------------------------------------------------
# Streaming quality routing: three forced micro-batches stream through
# the expectations split (streaming/quality.py) — valid rows upsert
# into a keyed versioned table, rule-violating rows append to a
# versioned DEAD-LETTER table tagged with the rules they failed. The
# witness reads BOTH tables back cold and aggregates; the oracle
# recomputes the same routing as one batch CASE. Both commits are
# idempotent per micro-batch (txn dedupe), pinned by pytest with an
# explicit replay.
# Scale: split adds no shuffle to the per-batch plan; dead-letter
# volume ∝ violation mass, and both tables carry the versioned
# lifecycle (time travel / CDF / vacuum) for triage.
# --------------------------------------------------------------------------
_Q_RULES = {
    "value_le_100": "value <= 100",
    "uid_not_mod7": "user_id % 7 <> 0",
}


@query(
    "streaming_quality_split",
    "streaming expectations routing: valid rows upsert, violations "
    "append to a versioned dead-letter table (3 forced micro-batches, "
    "idempotent per batch)",
    oracle="""
    WITH flags AS (
        SELECT event_type,
               CASE WHEN coalesce(value <= 100, false)
                     AND coalesce(user_id % 7 <> 0, false)
                    THEN 'valid' ELSE 'quarantine' END AS segment,
               value
        FROM events WHERE user_id % 5 = 0
    )
    SELECT segment, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM flags GROUP BY segment, event_type
    """,
)
def streaming_quality_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.engine import (
        apply_runtime_confs,
    )
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        read_snapshot,
    )
    from openaq_data_pipeline_engineering_spark.streaming.ingest import (
        scoped_shuffle_partitions,
    )
    from openaq_data_pipeline_engineering_spark.streaming.quality import (
        run_stream_quality_split,
    )

    apply_runtime_confs(spark)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    # 1-in-5 users: the routing semantics are volume-independent and
    # the witness pays 3 micro-batches of snapshot writes either way
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 5 == 0)
        .select(*cols)
    )
    # three drops by event_id range -> maxFilesPerTrigger=1 forces three
    # micro-batches (routing must hold ACROSS batches, not just within)
    n_max = ev.agg(F.max("event_id")).first()[0]
    drop = fresh_scratch_dir("quality_drop")
    # One scan+write for all 3 slices (was: 3 filtered re-scans) with
    # the identical integer range boundaries; routing and the final
    # aggregate are batch-order-independent (event_id is the upsert
    # key and is unique), so no mtime pinning is needed.
    from openaq_data_pipeline_engineering_spark.streaming.ingest import (
        write_slice_files,
    )

    b1, b2 = (n_max + 1) // 3, (2 * (n_max + 1)) // 3
    write_slice_files(
        ev.withColumn(
            "slice",
            F.when(F.col("event_id") < b1, 0)
            .when(F.col("event_id") < b2, 1)
            .otherwise(2),
        ),
        "slice",
        drop,
        pin_order=False,
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .load(drop)
    )
    valid_dir = fresh_scratch_dir("quality_valid")
    dead_dir = fresh_scratch_dir("quality_dead")
    ckpt = fresh_scratch_dir("quality_ckpt")
    # Measured EXCEPTION to bounded_state_partitions (r13): this
    # witness's cost is forced-micro-batch count x foreachBatch write
    # latency, not state-store count; byte-sized 2 partitions measured
    # 4.9 s vs 3.8 s at 8 (A/B both orders). Keep 8.
    with scoped_shuffle_partitions(spark, 8):
        run_stream_quality_split(
            stream,
            ckpt,
            _Q_RULES,
            valid_dir,
            dead_dir,
            keys=["event_id"],
            ts_col="ts",
        )

    def seg_agg(df: DataFrame, seg: str) -> DataFrame:
        return (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(seg).alias("segment"), "*")
        )

    valid = read_snapshot(spark, valid_dir)
    dead = read_snapshot(spark, dead_dir)
    return seg_agg(valid, "valid").unionByName(seg_agg(dead, "quarantine"))


# --------------------------------------------------------------------------
# Blocked fuzzy record linkage (operators/linkage.py): a "dirty" feed
# of truncated customer names (deterministic corruption: last character
# dropped) links back to the clean dimension. Blocking on the first 16
# characters bounds candidates to <= 100 per block (the two trailing
# digits vary) — comparisons never go all-pairs — then Levenshtein <= 1
# verifies and a window keeps the best match per dirty record
# (min distance, then min custkey: a truncated name legitimately sits
# at distance 1 from up to ten donors, so the tiebreak IS the
# contract). Edit distance is integer arithmetic — the DuckDB oracle
# replays the linkage bit-exactly.
# Scale: one shuffle on the block key + one window over matches;
# block width is layout-controlled (like LSH band width), so candidate
# mass stays bounded at any corpus size.
# --------------------------------------------------------------------------
@query(
    "fuzzy_linkage_blocked",
    "entity resolution: blocked Levenshtein linkage of truncated names "
    "back to the clean dimension, best match per record",
    oracle="""
    WITH dirty AS (
        SELECT c_custkey AS d_id,
               substring(c_name, 1, length(c_name) - 1) AS d_name
        FROM customer
    ), pairs AS (
        SELECT d.d_id, c.c_custkey, c.c_mktsegment,
               levenshtein(d.d_name, c.c_name) AS edit_distance
        FROM dirty d JOIN customer c
          ON substring(d.d_name, 1, 16) = substring(c.c_name, 1, 16)
        WHERE levenshtein(d.d_name, c.c_name) <= 1
    ), best AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY d_id
                ORDER BY edit_distance ASC, c_custkey ASC
            ) AS rn FROM pairs
        ) WHERE rn = 1
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_linked,
           CAST(sum(CASE WHEN d_id = c_custkey THEN 1 ELSE 0 END)
                AS BIGINT) AS n_self,
           CAST(sum(edit_distance) AS BIGINT) AS total_edits
    FROM best GROUP BY c_mktsegment
    """,
)
def fuzzy_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.linkage import (
        best_match,
        blocked_fuzzy_join,
        prefix_block,
    )

    cust = fan_out(load_table(spark, sf_dir, "customer"))
    dirty = cust.select(
        F.col("c_custkey").alias("d_id"),
        F.expr(
            "substring(c_name, 1, length(c_name) - 1)"
        ).alias("d_name"),
    )
    clean = cust.select("c_custkey", "c_name", "c_mktsegment")
    pairs = blocked_fuzzy_join(
        dirty, clean, "d_name", "c_name", prefix_block(16), max_distance=1
    )
    best = best_match(pairs, "d_id", tiebreak="c_custkey")
    return best.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_linked"),
        F.sum(
            F.when(F.col("d_id") == F.col("c_custkey"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_self"),
        F.sum("edit_distance").cast("bigint").alias("total_edits"),
    )


# --------------------------------------------------------------------------
# OPTIMIZE statement form: a deliberately fragmented partitioned table
# (16 files per event_type partition) compacted through
# Engine.sql("OPTIMIZE '<path>'"), then read back COLD — the aggregate
# must equal the source (the rewrite loses/duplicates nothing), and the
# returned metrics row must show the file-count drop. The statement
# auto-detects partition columns from the Hive layout.
# Scale: work ∝ selected partitions (WHERE-filterable), dynamic
# overwrite keeps concurrent readers consistent per partition.
# --------------------------------------------------------------------------
@query(
    "sql_optimize_compact",
    "OPTIMIZE statement: fragmented partitioned table compacted via "
    "Engine.sql, cold read-back equals source, metrics row shows the "
    "file drop",
    oracle="""
    WITH src AS (
        SELECT event_type,
               count(*) AS n_events,
               sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(cents AS BIGINT) AS cents,
           (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
               AS n_parts_compacted
    FROM src
    """,
)
def sql_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.engine import Engine

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = fresh_scratch_dir("sql_optimize_table")
    (
        ev.repartition(16)  # fragment: 16 small files per partition
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    metrics = Engine(spark).sql(f"OPTIMIZE '{out}'").first()
    if metrics["n_files_after"] >= metrics["n_files_before"]:
        raise AssertionError(
            f"OPTIMIZE did not reduce files: {metrics}"
        )  # witness must FAIL loudly if compaction silently no-ops
    back = spark.read.parquet(out)
    n_parts = metrics["n_files_after"]  # tiny table -> 1 file/partition
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.lit(n_parts).cast("bigint").alias("n_parts_compacted"),
    )


# --------------------------------------------------------------------------
# VACUUM statement form: four committed versions, RETAIN 2 drops the
# oldest two (the returned frame names them), the latest version stays
# intact on a cold read. Retention is version-count-based — the
# versioned layer's native unit; txn entries survive per
# operators/versioned.py's round-7 contract.
# --------------------------------------------------------------------------
@query(
    "sql_vacuum_retain",
    "VACUUM statement: RETAIN 2 VERSIONS drops the two oldest "
    "snapshots, latest survives cold read-back",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS dropped_v1,
           CAST(2 AS BIGINT) AS dropped_v2,
           CAST(count(*) AS BIGINT) AS n_latest,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_latest
    FROM events WHERE user_id % 4 = 3
    """,
)
def sql_vacuum_retain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.engine import Engine
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    root = fresh_scratch_dir("sql_vacuum_root")
    for k in range(4):  # v1..v4: distinct slices so versions differ
        write_snapshot(ev.filter(F.col("user_id") % 4 == k), root)
    dropped = Engine(spark).sql(
        f"VACUUM '{root}' RETAIN 2 VERSIONS"
    ).collect()
    if [r["dropped_version"] for r in dropped] != [1, 2]:
        raise AssertionError(f"unexpected vacuum result: {dropped}")
    latest = read_snapshot(spark, root)  # v4 = user_id % 4 == 3
    return latest.agg(
        F.lit(1).cast("bigint").alias("dropped_v1"),
        F.lit(2).cast("bigint").alias("dropped_v2"),
        F.count(F.lit(1)).cast("bigint").alias("n_latest"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents_latest"),
    )


# --------------------------------------------------------------------------
# TIMESTAMP AS OF time travel: two committed versions; a timestamp
# strictly between the two commit times must resolve to v1 and the
# exact second commit time to v2 (commit timestamps are forced
# strictly increasing, so midpoint resolution is deterministic
# regardless of wall-clock values). Cold read-back of both resolved
# versions, aggregated; the oracle recomputes the two slices.
# --------------------------------------------------------------------------
@query(
    "versioned_asof_timestamp",
    "TIMESTAMP AS OF time travel: between-commits resolves to the "
    "earlier version, at-commit to that version (versioned layer)",
    oracle="""
    SELECT 'v1' AS pin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE user_id % 2 = 0
    UNION ALL
    SELECT 'v2', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
    FROM events
    """,
)
def versioned_asof_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        read_snapshot,
        snapshot_commit_times,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    root = fresh_scratch_dir("asof_root")
    write_snapshot(ev.filter(F.col("user_id") % 2 == 0), root)
    write_snapshot(ev, root)
    ts = snapshot_commit_times(root)
    mid = (ts[1] + ts[2]) / 2  # strictly < ts[2]: resolves to v1
    v1 = read_snapshot(spark, root, as_of_ts=mid)
    v2 = read_snapshot(spark, root, as_of_ts=ts[2])

    def agg(df: DataFrame, pin: str) -> DataFrame:
        return df.agg(
            F.lit(pin).alias("pin"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )

    return agg(v1, "v1").unionByName(agg(v2, "v2"))


# --------------------------------------------------------------------------
# Change data feed ACROSS a schema change (round-7 contract): v2 adds a
# cents column, so every carried-over key emits an update pair whose
# PRE-image has NULL cents (the Delta evolved-read semantics), and the
# new keys insert with it populated. The witness aggregates the feed by
# change type; the oracle recomputes the same routing from events.
# --------------------------------------------------------------------------
@query(
    "snapshot_cdf_evolution",
    "change data feed across an added column: update pre-images carry "
    "NULL for the new column, post-images/inserts its value",
    oracle="""
    WITH base AS (
        SELECT user_id, count(*) AS n,
               sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY user_id
    )
    SELECT 'update_preimage' AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n) AS BIGINT) AS sum_n,
           CAST(0 AS BIGINT) AS sum_cents
    FROM base WHERE user_id % 3 = 0
    UNION ALL
    SELECT 'update_postimage', CAST(count(*) AS BIGINT),
           CAST(sum(n) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM base WHERE user_id % 3 = 0
    UNION ALL
    SELECT 'insert', CAST(count(*) AS BIGINT),
           CAST(sum(n) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM base WHERE user_id % 3 = 1
    """,
)
def snapshot_cdf_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.versioned import (
        snapshot_changes,
        write_snapshot,
    )

    base = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # both versions derive from it
    )
    root = fresh_scratch_dir("cdf_evo_root")
    write_snapshot(
        base.filter(F.col("user_id") % 3 == 0).select("user_id", "n"), root
    )
    write_snapshot(
        base.filter(F.col("user_id") % 3 <= 1).select(
            "user_id", "n", "cents"
        ),
        root,
    )
    feed = snapshot_changes(spark, root, keys=["user_id"], v_from=1, v_to=2)
    return feed.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n").cast("bigint").alias("sum_n"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0)))
        .cast("bigint")
        .alias("sum_cents"),
    )
