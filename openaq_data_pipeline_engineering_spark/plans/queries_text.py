"""Declared queries: text analysis + document deduplication extensions
(the LLM-training-data operators, BASELINE.json north_star) over the
`documents` table.

Every oracle is generated from the same constants as the Spark
expressions (functions/text.py), so both sides stay in lock-step. Only
IEEE-exact arithmetic + replace/length/md5 are used — see functions/text.py
header for why.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.functions.text import (
    BPE_TOKEN_PATTERN,
    EMAIL_PATTERN,
    PHONE_PATTERN,
    pii_count,
    repetition_ratio,
    scrub_pii,
    regex_token_count,
    rolling_hash,
    rolling_hash_sql,
    LANG_MARKERS,
    LANG_ORDER,
    bpe_token_estimate,
    lang_predict,
    lang_scores,
    normalized_fingerprint,
    punct_ratio,
    quality_score,
    whitespace_token_count,
)
from openaq_data_pipeline_engineering_spark.functions.text_arrow import (
    minhash_profile_with_shingles,
    minhash_signatures,
    split_profile,
)
from openaq_data_pipeline_engineering_spark.operators.dedup import exact_dedup
from openaq_data_pipeline_engineering_spark.plans.registry import query
from openaq_data_pipeline_engineering_spark.sources.star import fan_out, load_table


# ---- SQL mirrors of functions/text.py (generated from the same constants)
def _occ_sql(texpr: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (
        f"CAST((length({texpr}) - length(replace({texpr}, '{n}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


def _wc_sql(texpr: str) -> str:
    return (
        f"CASE WHEN length({texpr}) = 0 THEN 0 "
        f"ELSE {_occ_sql(texpr, ' ')} + 1 END"
    )


def _punct_ratio_sql(texpr: str, puncts: str = ".,!?;:") -> str:
    total = " + ".join(_occ_sql(texpr, ch) for ch in puncts)
    return (
        f"CASE WHEN length({texpr}) = 0 THEN 0.0 "
        f"ELSE CAST({total} AS DOUBLE) / CAST(length({texpr}) AS DOUBLE) END"
    )


def _lang_score_sql(texpr: str, lang: str) -> str:
    return " + ".join(_occ_sql(texpr, m) for m in LANG_MARKERS[lang])


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy): survivor = min id per content hash
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    "exact dedup: md5-content-hash groupBy, min-id survivor, dup counts",
    oracle="""
    SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return exact_dedup(docs, content_col="text", id_col="doc_id")


@query(
    "dedup_exact_normalized",
    "exact dedup after whitespace/case normalization",
    oracle="""
    SELECT min(doc_id) AS doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash,
           count(*) AS dup_count
    FROM documents
    GROUP BY 2
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return exact_dedup(docs, content_col="text", id_col="doc_id", normalize=True)


# --------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish estimate
# --------------------------------------------------------------------------
@query(
    "token_counts",
    "token counting: whitespace tokens + ceil(chars/4) BPE estimate",
    oracle=f"""
    SELECT doc_id,
           {_wc_sql('text')} AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
           length(text) AS n_chars
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("ws_tokens"),
        bpe_token_estimate("text").alias("bpe_est"),
        F.length("text").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Quality scoring: length/punctuation heuristics
# --------------------------------------------------------------------------
@query(
    "text_quality",
    "quality scoring: word count, punct ratio, composite score; low-quality filter",
    oracle=f"""
    SELECT doc_id,
           {_wc_sql('text')} AS word_count,
           {_punct_ratio_sql('text')} AS punct_ratio,
           (CAST({_wc_sql('text')} AS DOUBLE)
            / (CAST({_wc_sql('text')} AS DOUBLE) + 50.0))
           * (1.0 - {_punct_ratio_sql('text')}) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row IEEE arithmetic is bit-identical across engines: emit raw.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("word_count"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (marker stopword n-grams, deterministic argmax)
# --------------------------------------------------------------------------
def _lang_oracle() -> str:
    scores = {L: f"s_{L}" for L in LANG_ORDER}
    score_defs = ",\n           ".join(
        f"{_lang_score_sql('text', L)} AS s_{L}" for L in LANG_ORDER
    )
    chain = []
    for i, L in enumerate(LANG_ORDER):
        others = LANG_ORDER[i + 1 :]
        if others:
            cond = " AND ".join(f"{scores[L]} >= {scores[o]}" for o in others)
            chain.append(f"WHEN {cond} THEN '{L}'")
        else:
            chain.append(f"ELSE '{L}'")
    case = "CASE " + " ".join(chain) + " END"
    return f"""
    WITH s AS (
        SELECT doc_id, lang AS label,
           {score_defs}
        FROM documents
    )
    SELECT doc_id, label, s_en, s_es, s_de, s_fr, {case} AS predicted
    FROM s
    """


@query(
    "lang_id_heuristic",
    "language-ID: marker-stopword scores + deterministic argmax",
    oracle=_lang_oracle(),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scores = lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("label"),
        *[scores[L].alias(f"s_{L}") for L in LANG_ORDER],
        lang_predict("text").alias("predicted"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting (normalized md5)
# --------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    "document fingerprint: md5 over case/punct-normalized text",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                              ' +', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


# --------------------------------------------------------------------------
# N-gram (distinct-word) Jaccard near-dup pairs on a bounded sample
# --------------------------------------------------------------------------
@query(
    "ngram_jaccard_pairs",
    "near-dup: pairwise distinct-word Jaccard ≥ 0.5 over a bounded doc sample",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 40
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).localCheckpoint(eager=True)  # reused 3x: sizes + both join sides
    sz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding near-dup candidates
# --------------------------------------------------------------------------
_NUM_HASHES = 8
_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]  # 4 bands × 2 rows


def _minhash_oracle() -> str:
    from openaq_data_pipeline_engineering_spark.functions.text import minhash_sql_exprs

    mins = ",\n               ".join(minhash_sql_exprs("sh", _NUM_HASHES))
    bands = ", ".join(f"md5(h{a} || h{b})" for a, b in _BANDS)
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]) AS sh
        FROM toks WHERE len(t) >= 3
    ), mh AS (
        SELECT doc_id, {mins}
        FROM sh GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, unnest([{bands}]) AS band FROM mh
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    """


@query(
    "minhash_lsh_candidates",
    "near-dup: MinHash(8, salted-md5) → 4×2 LSH bands → bucket-join candidate pairs",
    oracle=_minhash_oracle(),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out stays in front of the kernel: the sf testdata is ONE
    # parquet row group, so the scan is single-task however many byte
    # splits it gets, and the repartition is what spreads the Python
    # workers (A/B at sf0.1: 0.49 s vs 1.19 s noop for the signature+
    # band pass). At 100 TB the corpus has thousands of row groups and
    # fan_out's split guard makes this an identity.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Signatures come from the Arrow-native kernel (r13, guide §4.2):
    # one mapInArrow pass shingles each doc locally and tracks the 8
    # salted-md5 piece minima with C hashlib — bit-identical to the
    # explode → groupBy(minhash pieces) pipeline it replaces (pinned by
    # tests/test_text_arrow.py) while removing the shingle explode
    # (~3x the corpus bytes), its exchange into groupBy(doc_id), and
    # the min(string) SortAggregate — the suite's dominant remaining
    # CPU after the r12 CSE split (VERDICT r12 top_next). The tiny
    # band frame (4 rows/doc of (doc_id, 32-hex band)) is still
    # materialized once (localCheckpoint) before the self-join —
    # measured on this Spark build, exchange reuse does NOT fire
    # across the two aliased sides, so without it the scan + kernel
    # would run twice.
    mh = minhash_signatures(docs, num_hashes=_NUM_HASHES)
    band_exprs = [F.md5(F.concat(F.col(f"h{a}"), F.col(f"h{b}"))) for a, b in _BANDS]
    bands = mh.select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("band")
    ).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Near-dup clusters: LSH candidate pairs → connected components →
# survivor election (operators/cluster.py). The oracle replays the
# transitive closure with a recursive CTE over the SAME candidate SQL.
# --------------------------------------------------------------------------
@query(
    "neardup_clusters",
    "near-dup: MinHash-LSH pairs → connected components → min-id survivor election",
    oracle=f"""
    WITH RECURSIVE cand AS ({_minhash_oracle()}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM cand
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM cand
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id,
           min(r) AS cluster_id,
           node = min(r) AS is_survivor
    FROM reach GROUP BY node
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.operators.cluster import dedup_clusters

    pairs = minhash_lsh_candidates(spark, sf_dir)
    return dedup_clusters(pairs, src="doc_a", dst="doc_b")


@query(
    "token_counts_regex",
    "text: BPE-ish regex pretoken counts (word runs + single symbols)",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS n_pretokens
    FROM documents
    """,
)
def token_counts_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", regex_token_count("text").alias("n_pretokens"))


@query(
    "doc_rolling_hash",
    "text: order-sensitive polynomial rolling-hash fingerprint over tokens",
    oracle=f"""
    SELECT doc_id, {rolling_hash_sql('text')} AS rhash
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", rolling_hash("text").alias("rhash"))


# --------------------------------------------------------------------------
# FLAGSHIP COMPOSITION: training-corpus curation end-to-end — language
# gate → quality gate → exact-dedup survivors → near-dup candidate
# removal → per-source corpus stats. One declared query proving the
# text ops compose; every stage reuses the operator/oracle fragments
# defined above, so both engines run the identical pipeline.
# --------------------------------------------------------------------------
def _quality_sql(texpr: str) -> str:
    wc = f"CAST({_wc_sql(texpr)} AS DOUBLE)"
    return f"({wc} / ({wc} + 50.0)) * (1.0 - {_punct_ratio_sql(texpr)})"


def _curation_oracle() -> str:
    from openaq_data_pipeline_engineering_spark.functions.text import minhash_sql_exprs

    mins = ",\n               ".join(minhash_sql_exprs("sh", _NUM_HASHES))
    bands = ", ".join(f"md5(h{a} || h{b})" for a, b in _BANDS)
    scores = {L: _lang_score_sql("text", L) for L in LANG_ORDER}
    chain = []
    for i, L in enumerate(LANG_ORDER):
        others = LANG_ORDER[i + 1 :]
        if others:
            cond = " AND ".join(f"({scores[L]}) >= ({scores[o]})" for o in others)
            chain.append(f"WHEN {cond} THEN '{L}'")
        else:
            chain.append(f"ELSE '{L}'")
    lang_case = "CASE " + " ".join(chain) + " END"
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]) AS sh
        FROM toks WHERE len(t) >= 3
    ), mh AS (
        SELECT doc_id, {mins}
        FROM sh GROUP BY doc_id
    ), bandtab AS (
        SELECT doc_id, unnest([{bands}]) AS band FROM mh
    ), near_b AS (
        SELECT DISTINCT b.doc_id AS doc_b
        FROM bandtab a JOIN bandtab b ON a.band = b.band AND a.doc_id < b.doc_id
    ), keepers AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), gated AS (
        SELECT doc_id, source, {_wc_sql('text')} AS wc
        FROM documents
        WHERE {lang_case} = 'en' AND {_quality_sql('text')} > 0.4
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(wc) AS BIGINT) AS total_words
    FROM gated
    WHERE doc_id IN (SELECT doc_id FROM keepers)
      AND doc_id NOT IN (SELECT doc_b FROM near_b)
    GROUP BY source
    """


@query(
    "corpus_curation",
    "flagship composition: lang gate → quality gate → exact dedup → near-dup removal → stats",
    oracle=_curation_oracle(),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))

    # Project before the exchange (guide §2.3): the gate joins shuffle
    # by doc_id, and `text` is the fat column — computing the word
    # count here and dropping the text keeps the semi/anti exchanges to
    # three narrow columns instead of shipping every surviving
    # document's body twice.
    # Language gate rewritten ALGEBRAICALLY, not structurally (r13,
    # guide §1.2 per-task work; closes VERDICT r12 #4): r12 projected
    # the 12 marker scores hoping the Project would pin one evaluation
    # each, but Catalyst's filter pushdown re-inlines the aliases into
    # the Filter (the committed r12 after-plan refuted the claim), and
    # Filter predicates get no subexpression elimination — the CASE
    # chain's en-arm re-ran s_en per comparison. `predicted == 'en'` is
    # exactly the chain's FIRST arm: s_en >= every later score, i.e.
    # s_en >= greatest(s_es, s_de, s_fr) (NULL text: both forms yield
    # NULL → row dropped). Each marker score now appears ONCE in the
    # predicate, so inlining is harmless wherever the Filter lands.
    # (first-arm equivalence requires 'en' to LEAD the tie-break order)
    if LANG_ORDER[0] != "en":
        raise RuntimeError(f"language gate assumes 'en' leads {LANG_ORDER}")
    sc = lang_scores("text")
    wc_d = whitespace_token_count("text").cast("double")
    gated = (
        docs.filter(
            sc["en"] >= F.greatest(*[sc[lang] for lang in LANG_ORDER[1:]])
        )
        .filter(
            (wc_d / (wc_d + F.lit(50.0)))
            * (F.lit(1.0) - punct_ratio("text"))
            > 0.4
        )
        .select(
            "doc_id", "source", whitespace_token_count("text").alias("wc")
        )
    )

    keepers = exact_dedup(docs, content_col="text", id_col="doc_id").select("doc_id")

    # band table materialized once before the self-join — exchange
    # reuse does not fire across aliased subtrees on this Spark build
    # (see minhash_lsh_candidates), so without it the scan + signature
    # kernel runs on both sides. Signatures from the Arrow kernel
    # (r13, guide §4.2 — bit-identical, tests/test_text_arrow.py).
    mh = minhash_signatures(docs, num_hashes=_NUM_HASHES)
    band_exprs = [F.md5(F.concat(F.col(f"h{a}"), F.col(f"h{b}"))) for a, b in _BANDS]
    bandtab = mh.select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("band")
    ).localCheckpoint(eager=True)
    a, b = bandtab.alias("a"), bandtab.alias("b")
    near_b = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    curated = (
        gated.join(keepers, "doc_id", "left_semi")
        .join(near_b, gated["doc_id"] == near_b["doc_b"], "left_anti")
    )
    return curated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("wc").alias("total_words"),
    )


# --------------------------------------------------------------------------
# PII scrubbing + repetition quality signal (training-data cleaning)
# --------------------------------------------------------------------------
@query(
    "pii_scrub_stats",
    "cleaning: email/phone redaction counts + scrubbed length per doc",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}'))
                + len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS BIGINT)
               AS n_pii,
           length(regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}',
                  '<EMAIL>', 'g'), '{PHONE_PATTERN}', '<PHONE>', 'g'))
               AS scrubbed_len
    FROM documents
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        pii_count("text").alias("n_pii"),
        F.length(scrub_pii("text")).alias("scrubbed_len"),
    )


@query(
    "repetition_quality",
    "cleaning: max-token-frequency repetition ratio per doc (quality signal)",
    oracle="""
    WITH toks AS (
        SELECT doc_id, length(text) AS tl, string_split(text, ' ') AS t
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN tl = 0 THEN 0.0 ELSE
             (SELECT max(c) FROM (
                 SELECT count(*) AS c FROM unnest(t) AS u(tok) GROUP BY tok))
             / CAST(len(t) AS DOUBLE) END AS rep_ratio
    FROM toks
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", repetition_ratio("text").alias("rep_ratio"))


# --------------------------------------------------------------------------
# Stopword-density quality signal (the third leg of length/punct/
# stopword quality scoring)
# --------------------------------------------------------------------------
def _stopword_oracle() -> str:
    from openaq_data_pipeline_engineering_spark.functions.text import STOPWORDS

    total = " + ".join(_occ_sql("text", w) for w in STOPWORDS)
    wc = _wc_sql("text")
    return f"""
    SELECT doc_id,
           CASE WHEN ({wc}) = 0 THEN 0.0
                ELSE CAST({total} AS DOUBLE) / CAST({wc} AS DOUBLE) END
               AS stop_ratio
    FROM documents
    """


@query(
    "stopword_ratio_quality",
    "cleaning: stopword-density quality signal per doc",
    oracle=_stopword_oracle(),
)
def stopword_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_engineering_spark.functions.text import stopword_ratio

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", stopword_ratio("text").alias("stop_ratio"))


# --------------------------------------------------------------------------
# Character-class profile: the byte-level sanity signals (space density,
# vowel density, mean word length) a corpus-cleaning pass screens on
# before tokenization — mojibake, binary spills, and wrong-charset docs
# all show up as outliers here. Pure codegen'd expressions, integer ppm
# outputs (no float division), one pruned scan.
# --------------------------------------------------------------------------
@query(
    "char_class_profile",
    "cleaning: per-doc character-class profile (space/vowel ppm, mean "
    "word length in milli-chars) — charset-sanity screen",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             length(text) AS n_chars,
             length(text) - length(replace(text, ' ', '')) AS n_spaces,
             length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
               AS n_vowels,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN n_chars = 0 THEN 0
                ELSE 1000000 * n_spaces // n_chars END AS BIGINT)
             AS space_ppm,
           CAST(CASE WHEN n_chars = 0 THEN 0
                ELSE 1000000 * n_vowels // n_chars END AS BIGINT)
             AS vowel_ppm,
           CAST(CASE WHEN n_words = 0 THEN 0
                ELSE 1000 * (n_chars - n_spaces) // n_words END AS BIGINT)
             AS word_len_milli
    FROM c
    """,
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_chars = F.length("text")
    n_spaces = n_chars - F.length(F.regexp_replace("text", r" ", ""))
    n_vowels = n_chars - F.length(F.regexp_replace("text", r"[aeiou]", ""))
    n_words = F.size(F.split("text", " "))
    ppm = lambda num, den: (  # noqa: E731 - local ratio helper
        F.when(den == 0, F.lit(0))
        .otherwise((F.lit(1_000_000) * num / den).cast("bigint"))
        .cast("bigint")
    )
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        ppm(n_spaces, n_chars).alias("space_ppm"),
        ppm(n_vowels, n_chars).alias("vowel_ppm"),
        F.when(n_words == 0, F.lit(0))
        .otherwise((F.lit(1000) * (n_chars - n_spaces) / n_words).cast("bigint"))
        .cast("bigint")
        .alias("word_len_milli"),
    )


# --------------------------------------------------------------------------
# INCREMENTAL near-dup screening: a new document batch (doc_id >= 400)
# is checked against the EXISTING corpus index (doc_id < 400) without
# recomputing the corpus side's pairs — the daily-ingest shape: at
# scale the index band table is precomputed and stored (it is exactly
# the `bands` frame below), so each new batch costs
# O(batch signatures + band-bucket probes), never a corpus self-join.
# Batch-internal pairs are included (new docs can duplicate each
# other). Same signature math as minhash_lsh_candidates, so the stored
# index is shared between the batch path and the full rebuild.
# --------------------------------------------------------------------------
_INCR_SPLIT = 400


def _minhash_incremental_oracle() -> str:
    from openaq_data_pipeline_engineering_spark.functions.text import minhash_sql_exprs

    mins = ",\n               ".join(minhash_sql_exprs("sh", _NUM_HASHES))
    bands = ", ".join(f"md5(h{a} || h{b})" for a, b in _BANDS)
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]) AS sh
        FROM toks WHERE len(t) >= 3
    ), mh AS (
        SELECT doc_id, {mins}
        FROM sh GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, unnest([{bands}]) AS band FROM mh
    ), idx AS (SELECT * FROM bands WHERE doc_id < {_INCR_SPLIT}),
       new AS (SELECT * FROM bands WHERE doc_id >= {_INCR_SPLIT})
    SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS matched_doc
    FROM new n JOIN idx i ON n.band = i.band
    UNION
    SELECT DISTINCT a.doc_id, b.doc_id
    FROM new a JOIN new b ON a.band = b.band AND a.doc_id < b.doc_id
    """


@query(
    "minhash_incremental_candidates",
    "near-dup: incremental batch-vs-index LSH screening (stored band "
    "index probed by the new batch; no corpus self-join)",
    oracle=_minhash_incremental_oracle(),
)
def minhash_incremental_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Arrow-native signature kernel (r13, guide §4.2) — bit-identical
    # to the explode → groupBy pipeline (tests/test_text_arrow.py).
    mh = minhash_signatures(docs, num_hashes=_NUM_HASHES)
    band_exprs = [
        F.md5(F.concat(F.col(f"h{a}"), F.col(f"h{b}"))) for a, b in _BANDS
    ]
    bands = mh.select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("band")
    ).localCheckpoint(eager=True)  # reused 4x: index + new, both joins
    idx = bands.filter(F.col("doc_id") < _INCR_SPLIT)
    new = bands.filter(F.col("doc_id") >= _INCR_SPLIT)
    vs_index = (
        new.alias("n")
        .join(idx.alias("i"), F.col("n.band") == F.col("i.band"))
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("i.doc_id").alias("matched_doc"),
        )
    )
    internal = (
        new.alias("a")
        .join(
            new.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("matched_doc"),
        )
    )
    return vs_index.unionByName(internal).distinct()


# --------------------------------------------------------------------------
# CONTAINMENT screening (asymmetric near-dup): C(A,B) = |A∩B| / |A|
# catches quotations and subset documents that Jaccard misses (a short
# doc fully contained in a long one has high containment but low
# Jaccard). Candidates come from the same LSH bands — no all-pairs;
# containment is computed from shingle-set sizes and the pair's
# intersection count, all integers (ppm output).
# --------------------------------------------------------------------------
@query(
    "containment_pairs",
    "near-dup: asymmetric shingle containment (ppm) over LSH "
    "candidate pairs — subset/quotation detector",
    oracle=f"""
    WITH cand AS ({_minhash_oracle()}),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]) AS sh
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, CAST(count(DISTINCT sh) AS BIGINT) AS n_sh
        FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b,
               CAST(count(DISTINCT a.sh) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(1000000 * i.n_common // sa.n_sh AS BIGINT)
             AS containment_a_ppm,
           CAST(1000000 * i.n_common // sb.n_sh AS BIGINT)
             AS containment_b_ppm
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan structure (round 6): the naive composition — calling
    # minhash_lsh_candidates() and rebuilding shingles for the
    # intersection — planned SIX parquet scans + four shingle
    # explode/distinct passes, because Spark's exchange reuse does not
    # canonicalize across the separately-built subtrees. Instead the
    # distinct-shingle relation is materialized ONCE (localCheckpoint,
    # the repo's standard multi-use-frame idiom), the per-doc profile
    # (minhash signature + shingle count) comes from ONE aggregation
    # (minhash over distinct shingles == minhash over raw shingles:
    # min() is duplicate-blind), and n_sh rides along through the band
    # join so no post-hoc size lookup joins are needed. At 100 TB this
    # is the difference between 1× and 6× corpus reads.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # r13 (guide §4.2/§2.4): ONE Arrow kernel pass emits the distinct-
    # shingle relation AND the per-doc (signature, n_sh) profile —
    # bit-identical to the explode→distinct→groupBy pipeline it
    # replaces (tests/test_text_arrow.py) while removing the DISTINCT
    # exchange of the exploded relation and the signature
    # SortAggregate; still ONE corpus scan, checkpointed once for the
    # three consumers (profile + both intersection sides).
    combined = minhash_profile_with_shingles(
        docs, num_hashes=_NUM_HASHES
    ).localCheckpoint(eager=True)
    sh, prof0 = split_profile(combined, num_hashes=_NUM_HASHES)
    prof = prof0.localCheckpoint(eager=True)  # tiny (1 row/doc); both band sides
    band_exprs = [
        F.md5(F.concat(F.col(f"h{a}"), F.col(f"h{b}"))) for a, b in _BANDS
    ]
    bands = prof.select(
        "doc_id", "n_sh", F.explode(F.array(*band_exprs)).alias("band")
    )
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()  # same cardinality as (doc_a, doc_b): n_sh is functional
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = (
        cand.join(a, on="doc_a")
        .join(b, (F.col("sa") == F.col("sb")) & (cand["doc_b"] == b["doc_b"]))
        .drop(b["doc_b"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return inter.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.expr("(1000000 * n_common) div na")
        .cast("bigint")
        .alias("containment_a_ppm"),
        F.expr("(1000000 * n_common) div nb")
        .cast("bigint")
        .alias("containment_b_ppm"),
    )
