"""Declared queries: secondary-index structures (Bloom-filter
partition index).

The reference engine's pruning story is Hive partition columns only
(reference utils/glue_utils.py crawler + partition layout); this adds
the key-level skipping layer: a per-source Bloom index built as data
(operators/bloom.py) and probed with a broadcast join. The companion
file-level min/max manifest is operators/skipstats.py (pytest-verified
against self-written files, since the driver's oracle views hide file
paths).
"""

from __future__ import annotations

from openaq_data_pipeline_engineering_spark.localrel import local_rows

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators.bloom import (
    M_BITS,
    WORD_BITS,
    bloom_build,
    bloom_probe,
    oracle_position_sql,
)
from openaq_data_pipeline_engineering_spark.plans.registry import query
from openaq_data_pipeline_engineering_spark.sources.star import (
    fan_out,
    load_table,
)

# 20 probe keys: 10 real doc ids (members of some source) + 10 absent.
_PRESENT = list(range(10))
_ABSENT = [10_000_000 + i for i in range(10)]
_PROBES = _PRESENT + _ABSENT

_P1 = oracle_position_sql("doc_id", "b1:")
_P2 = oracle_position_sql("doc_id", "b2:")
_PROBE_VALUES = ", ".join(f"({k})" for k in _PROBES)


@query(
    "bloom_index_probe",
    "secondary index: per-source 1024-bit Bloom filter built with "
    "bit_or aggregates, probed for 20 keys via broadcast join — zero "
    "false negatives by construction, false positives counted "
    "(operators/bloom.py)",
    oracle=f"""
    WITH pos AS (
      SELECT source, {_P1} AS h FROM documents
      UNION ALL
      SELECT source, {_P2} AS h FROM documents
    ),
    bloom AS (
      SELECT source, word_idx, bit_or(bit) AS word
      FROM (SELECT source, h // {WORD_BITS} AS word_idx,
                   (1::BIGINT << CAST(h % {WORD_BITS} AS INT)) AS bit
            FROM pos) b
      GROUP BY source, word_idx
    ),
    probes(doc_id) AS (VALUES {_PROBE_VALUES}),
    probe_pos AS (
      SELECT doc_id, {_P1} AS h FROM probes
      UNION ALL
      SELECT doc_id, {_P2} AS h FROM probes
    ),
    checked AS (
      SELECT g.source, p.doc_id,
             coalesce(
               (bl.word & (1::BIGINT << CAST(p.h % {WORD_BITS} AS INT))) <> 0,
               false) AS is_set
      FROM probe_pos p
      CROSS JOIN (SELECT DISTINCT source FROM documents) g
      LEFT JOIN bloom bl
        ON bl.source = g.source AND bl.word_idx = p.h // {WORD_BITS}
    ),
    hits AS (
      SELECT source, doc_id,
             sum(CASE WHEN is_set THEN 1 ELSE 0 END) = 2 AS hit
      FROM checked GROUP BY source, doc_id
    ),
    labeled AS (
      SELECT h.source, h.doc_id, h.hit,
             EXISTS (SELECT 1 FROM documents d
                     WHERE d.source = h.source AND d.doc_id = h.doc_id)
               AS is_member
      FROM hits h
    )
    SELECT source,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members_probed,
           CAST(sum(CASE WHEN is_member AND hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_member_hits,
           CAST(sum(CASE WHEN NOT is_member AND hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonmember_hits
    FROM labeled GROUP BY source
    """,
)
def bloom_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "source", "doc_id"
    )
    # ONE documents pass serves both consumers (r13, guide §1.2): the
    # distinct (source, doc_id) set is pinned once and feeds the bloom
    # build AND the membership label join — bloom membership over the
    # distinct set is identical to membership over the raw rows, and
    # previously each consumer re-scanned documents. Persisted, not
    # localCheckpointed: the blocks are released once the (one row per
    # source) answer is on the driver.
    keyset = docs.distinct().persist()
    keyset.count()
    bloom = bloom_build(keyset, "source", "doc_id")
    probes = local_rows(spark,
        [(k,) for k in _PROBES], "doc_id bigint"
    )
    hits = bloom_probe(bloom, probes, "doc_id")
    members = keyset.select(
        F.col("source").alias("group"),
        "doc_id",
        F.lit(True).alias("is_member"),
    )
    labeled = hits.join(
        F.broadcast(members), on=["group", "doc_id"], how="left"
    ).withColumn("is_member", F.coalesce("is_member", F.lit(False)))
    result = (
        labeled.groupBy(F.col("group").alias("source"))
        .agg(
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_members_probed"),
            F.sum(F.when(F.col("is_member") & F.col("hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_member_hits"),
            F.sum(
                F.when(~F.col("is_member") & F.col("hit"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_nonmember_hits"),
        )
    )
    rows = result.collect()
    keyset.unpersist()
    return local_rows(spark, rows, result.schema)


assert M_BITS % WORD_BITS == 0


# --------------------------------------------------------------------------
# Bloom-filter JOIN PRUNING, materialized: the data-level twin of
# Spark's runtime bloom-filter injection (PLANS.md cross-cutting
# notes). The dim-side key set (BUILDING customers) compresses to ONE
# 1024-bit array row; the fact side evaluates two bit tests per row in
# a single map-side pass (broadcast 1-row cross, no explode, no
# shuffle) and only surviving rows reach the exact semi join — at
# 100 TB the pruned rows never enter the join exchange, which is the
# entire point. False positives are quantified by candidate-vs-matched
# counts in the result.
# --------------------------------------------------------------------------
@query(
    "bloom_join_pruning",
    "secondary index: fact-side rows pre-screened through a broadcast "
    "1024-bit Bloom array before the exact semi join — candidate vs "
    "matched counts expose the false-positive rate",
    oracle=f"""
    WITH keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    pos AS (
      SELECT {oracle_position_sql("c_custkey", "b1:")} AS h FROM keys
      UNION ALL
      SELECT {oracle_position_sql("c_custkey", "b2:")} AS h FROM keys
    ),
    wordtab AS (
      SELECT h // {WORD_BITS} AS wi,
             bit_or(1::BIGINT << CAST(h % {WORD_BITS} AS INT)) AS w
      FROM pos GROUP BY 1
    ),
    words AS (
      SELECT list(coalesce(w, 0) ORDER BY i) AS l
      FROM (SELECT range AS i FROM range(0, {M_BITS // WORD_BITS})) r
      LEFT JOIN wordtab ON wi = i
    ),
    probes AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             {oracle_position_sql("o_custkey", "b1:")} AS h1,
             {oracle_position_sql("o_custkey", "b2:")} AS h2
      FROM orders
    ),
    cand AS (
      SELECT p.* FROM probes p CROSS JOIN words w
      WHERE (w.l[CAST(p.h1 // {WORD_BITS} AS INT) + 1]
             & (1::BIGINT << CAST(p.h1 % {WORD_BITS} AS INT))) <> 0
        AND (w.l[CAST(p.h2 // {WORD_BITS} AS INT) + 1]
             & (1::BIGINT << CAST(p.h2 % {WORD_BITS} AS INT))) <> 0
    ),
    matched AS (
      SELECT c.* FROM cand c
      WHERE EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = c.o_custkey)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_orders,
           (SELECT CAST(count(*) AS BIGINT) FROM matched)
             AS n_matched_orders,
           (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM matched) AS revenue
    """,
)
def bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.bloom import (
        key_positions,
    )

    cust_b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    wordrows = bloom_build(
        cust_b.withColumn("g", F.lit(1)), "g", "c_custkey"
    )
    words_row = (
        spark.range(M_BITS // WORD_BITS)
        .join(
            wordrows.select("word_idx", "word"),
            F.col("id") == F.col("word_idx"),
            "left",
        )
        .select("id", F.coalesce("word", F.lit(0)).alias("w"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("id", "w"))),
                lambda s: s.getField("w"),
            ).alias("words")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    probed = (
        orders.crossJoin(F.broadcast(words_row))
        .withColumn("hs", key_positions(F.col("o_custkey")))
        .withColumn("h1", F.element_at("hs", 1))
        .withColumn("h2", F.element_at("hs", 2))
    )

    def _set(h: str):
        word = F.element_at(
            "words", (F.col(h) / WORD_BITS + 1).cast("int")
        )
        bit = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({h} % {WORD_BITS} AS INT))"
        )
        return word.bitwiseAND(bit) != 0

    cand = probed.filter(_set("h1") & _set("h2")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # ONE pass computes candidate count, matched count and revenue:
    # the exact membership test becomes a broadcast left join against
    # the (unique-keyed) dim key set — equivalent to the semi join's
    # row set, but it yields a match FLAG instead of a filtered frame,
    # so the separate n_cand / matched aggregation branches (which
    # re-ran the scan + Bloom screen twice) collapse into one
    # conditional aggregate over a single scan of orders.
    flagged = cand.join(
        F.broadcast(cust_b),
        cand["o_custkey"] == cust_b["c_custkey"],
        "left",
    ).select(
        "o_totalprice", F.col("c_custkey").isNotNull().alias("m")
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_candidate_orders"),
        F.sum(F.when(F.col("m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched_orders"),
        F.sum(
            F.when(F.col("m"), F.col("o_totalprice").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )
