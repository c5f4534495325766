"""Driver-evidence rotation: stalest greens first (VERDICT r7 #2)."""

from __future__ import annotations

from openaq_data_pipeline_engineering_spark.plans import registry


def test_greens_ordered_by_evidence_age():
    registry.get_queries()  # ensure the registry is loaded
    prior = registry._latest_correctness()
    names = registry._ordered_names()
    assert names

    def green_round(n):
        row = prior.get(n)
        if row and row.get("hash_match") is True:
            return row.get("_round", 0)
        return None

    rounds = [green_round(n) for n in names]
    # fresh (never-green) names lead ...
    k = 0
    while k < len(rounds) and rounds[k] is None:
        k += 1
    green_names = names[k:]
    assert all(green_round(n) is not None for n in green_names)
    # ... then the greens, non-decreasing in evidence round
    tail = [green_round(n) for n in green_names]
    assert tail == sorted(tail)


def test_every_declared_query_still_registered():
    names = registry._ordered_names()
    assert len(names) == len(set(names)) == len(registry.QUERIES)
