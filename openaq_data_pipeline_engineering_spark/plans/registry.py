"""Declared-query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator claimed as implemented (SURVEY.md §2) registers here with
BOTH a DataFrame-API Spark form and an ANSI-SQL oracle the driver runs on
DuckDB over the same parquet tables. Column names are aliased identically
on both sides (the driver sorts columns by name before value-hashing).

Determinism rules enforced across the registry:
- LIMIT only ever follows a TOTAL order (unique tiebreaker columns).
- No wall-clock / random / partition-id dependence anywhere.

Floating-point policy (Spark round() is decimal-repr HALF_UP while
DuckDB round() is binary-nearest — they DISAGREE on boundary values like
563.81/8, so rounding is not a safe equalizer for arbitrary doubles):
- Per-row arithmetic over the same inputs is bit-identical across
  engines (IEEE ops are correctly rounded) → emit RAW, never round.
- Cross-row sums of d-decimal data: round(sum, d..d+2) — the true value
  sits ON the rounding grid, a half-ULP boundary can't occur.
- Averages: round(sum, d) / count — the division of bit-identical
  inputs is bit-identical; never round(avg(...)).
- Folds over float lists (cosine/norm): round to 6; the two engines'
  fold order may differ internally (residual risk ~1e-7, accepted).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    doc: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check


QUERIES: dict[str, Query] = {}


def query(name: str, doc: str, oracle: str | None = None):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn):
        QUERIES[name] = Query(name=name, doc=doc, fn=fn, oracle=oracle)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effects: modules register their queries on import.
    # queries_sinks first: its roundtrip witnesses are the newest
    # never-driver-sampled queries, so they lead the fresh group.
    from openaq_data_pipeline_engineering_spark.plans import queries_sinks  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_core  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_mart  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_text  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_similarity  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_ext  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_advanced  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_corpus  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_warehouse  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_llm  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_tpch2  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_llm2  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_funcs  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_sql4  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_geo  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_index  # noqa: F401
    # Newest rounds import LAST: their fresh (no-green-row) names
    # must sort after the existing never-driver-sampled backlog so the
    # driver's 50-query prefix drains the backlog first.
    from openaq_data_pipeline_engineering_spark.plans import queries_round4  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round5  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round6  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round7  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round8  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round9  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round10  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round11  # noqa: F401
    from openaq_data_pipeline_engineering_spark.plans import queries_round12  # noqa: F401


def _latest_correctness() -> dict:
    """Per-query MOST RECENT row across every committed
    CORRECTNESS_r{N}.json at the repo root, each row annotated with the
    round it came from (``row["_round"]``), or {}.

    Overlaying rounds (ascending, later rows win) matters because the
    driver writes rows only for the ~50-query prefix it checks each
    round: a query green in round 2 but absent from round 3's snapshot
    is still verified and must not jump ahead of never-checked queries.
    The recorded round is the EVIDENCE AGE used to rotate stale greens
    back under the driver (see _ordered_names).

    Used only to ORDER the registry (see _ordered_names); never to skip
    or alter a query. Any read/parse failure degrades to registration
    order, so driver environments without the files are unaffected.
    """
    root = Path(__file__).resolve().parents[2]
    rounds: list[tuple[int, Path]] = []
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"_r(\d+)\.json$", p.name)
        if m:
            rounds.append((int(m.group(1)), p))
    merged: dict = {}
    for rnd, p in sorted(rounds):
        try:
            doc = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in doc.items():
            if isinstance(row, dict):
                row = dict(row)
                row["_round"] = rnd
            merged[name] = row
    return merged


# More registered-but-unverified queries than the driver's ~50-per-round
# budget: these wait one rotation because their semantics already have
# adjacent driver/pytest evidence (see each note). They sort after the
# other not-yet-green queries and before greens, so they surface first
# in the round AFTER the current backlog clears.
_DEFER_ONE_ROTATION = (
    "quantized_ann_topk",  # strict subset of quantized_rerank_topk stage 1
    "sequence_packing",  # same packing window as pretraining_funnel stage 8
    "doc_chunks",  # chunk math mirrored in funnel stage 7; TestChunking
    "cube_report",  # grouping-id machinery == rollup/grouping_sets reports
    # Added after this round's 50-slot prefix was already full; all four
    # pass the local differential harness (DIFFCHECK_r03.json).
    "priority_exists_q4",
    "linestatus_priority_q12",
    "custdist_q13",
    "disjunctive_bands_q19",
)


def _ordered_names() -> list[str]:
    """Registry order: queries WITHOUT a green row in the latest
    correctness snapshot first (stable registration order), then the
    greens by ASCENDING evidence age — the round of their newest green
    row — so a bounded per-round correctness prefix re-validates the
    STALEST evidence first (VERDICT r7 #2 freshness rotation).

    The driver checks a bounded prefix of ``queries()`` per round, so
    never-verified queries convert to driver rows fastest, and a green
    from round 2 rotates back under the driver before a green from
    round 7. Ties (same round) keep registration order, so the cycle
    is deterministic.
    """
    prior = _latest_correctness()

    def is_green(name: str) -> bool:
        row = prior.get(name)
        return bool(row) and row.get("hash_match") is True

    def green_round(name: str) -> int:
        return int(prior[name].get("_round", 0))

    names = list(QUERIES)
    fresh = [
        n for n in names if not is_green(n) and n not in _DEFER_ONE_ROTATION
    ]
    deferred = [
        n for n in names if not is_green(n) and n in _DEFER_ONE_ROTATION
    ]
    greens = [n for n in names if is_green(n)]
    greens.sort(key=green_round)  # stable: ties keep registration order
    return fresh + deferred + greens


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: QUERIES[name].fn for name in _ordered_names()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle
    }
