"""SURVEY.md §2.12 must match the live registry 1:1 (VERDICT r8 #6) —
the judged blueprint had drifted four rounds behind the 292-name
registry; this diff makes drift a test failure, not an accumulation."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _survey_names() -> set[str]:
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"### 2\.12 .*?(?=\n---\n)", text, re.DOTALL)
    assert m, "SURVEY.md lost its §2.12 block"
    return set(re.findall(r"^\| `([a-z0-9_]+)` \|", m.group(0), re.M))


def _registry_names() -> set[str]:
    from openaq_data_pipeline_engineering_spark.plans import registry

    registry._load_all()
    return set(registry.QUERIES)


def test_survey_2_12_matches_registry_exactly():
    survey, reg = _survey_names(), _registry_names()
    missing = sorted(reg - survey)
    stale = sorted(survey - reg)
    assert not missing and not stale, (
        f"SURVEY.md §2.12 drifted — run tools/survey_inventory.py. "
        f"missing from survey: {missing[:10]}; stale in survey: {stale[:10]}"
    )


def test_survey_2_12_marks_oracle_coverage():
    # every rows-only marker in the survey must be a genuinely
    # oracle-less query, and vice versa
    from openaq_data_pipeline_engineering_spark.plans import registry

    registry._load_all()
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"### 2\.12 .*?(?=\n---\n)", text, re.DOTALL)
    rows = re.findall(
        r"^\| `([a-z0-9_]+)` \| .* \| (yes|rows-only) \|$", m.group(0), re.M
    )
    assert rows, "no inventory rows parsed"
    for name, mark in rows:
        has_oracle = registry.QUERIES[name].oracle is not None
        assert (mark == "yes") == has_oracle, (name, mark)


def test_every_declared_query_still_registered():
    # get_queries() returns the registry in registration order: no file
    # at the repo root or anywhere else reorders it.
    from openaq_data_pipeline_engineering_spark.plans import registry

    queries, oracles = registry.get_queries(), registry.get_oracles()
    names = list(queries)
    assert len(names) == len(set(names)) == len(registry.QUERIES)
    assert names == list(registry.QUERIES)
    assert set(oracles) <= set(queries)
