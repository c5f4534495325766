"""The differential harness itself must catch divergence: row-count,
column-set, dtype-family, and value mismatches all produce problems;
identical frames produce none."""

from __future__ import annotations

import sys

import pandas as pd

sys.path.insert(0, "tools")
from diffcheck import compare  # noqa: E402


def _f(**cols) -> pd.DataFrame:
    return pd.DataFrame(cols)


def test_identical_frames_pass():
    a = _f(k=[1, 2], v=[0.5, 1.5])
    assert compare("q", a.copy(), a.copy()) == []


def test_value_mismatch_detected():
    assert compare("q", _f(k=[1, 2], v=[1.0, 2.0]),
                   _f(k=[1, 2], v=[1.0, 2.5]))


def test_row_count_mismatch_detected():
    assert compare("q", _f(k=[1, 2]), _f(k=[1, 2, 3]))


def test_column_set_mismatch_detected():
    assert compare("q", _f(k=[1]), _f(j=[1]))


def test_int_float_family_drift_detected():
    # the HUGEINT-class failure mode: equal values, different family
    assert compare("q", _f(k=[1, 2]), _f(k=[1.0, 2.0]))


def test_row_order_is_irrelevant():
    assert compare("q", _f(k=[2, 1], v=[1.0, 2.0]),
                   _f(k=[1, 2], v=[2.0, 1.0])) == []


def test_bad_arguments_exit_before_spark(tmp_path, monkeypatch, capsys):
    # a missing scale dir (e.g. `--help` taken as one) or an unknown
    # query name exits 2 with a usage line; Spark never starts
    import diffcheck

    from openaq_data_pipeline_engineering_spark import engine

    def no_spark(*_a, **_k):
        raise AssertionError("Spark started on bad arguments")

    monkeypatch.setattr(engine, "get_spark", no_spark)
    assert diffcheck.main(["--help"]) == 2
    assert "usage:" in capsys.readouterr().err
    assert diffcheck.main([str(tmp_path), "no_such_query"]) == 2
    err = capsys.readouterr().err
    assert "usage:" in err and "no_such_query" in err
