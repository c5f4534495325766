"""Tests of the benchmark itself, at a tiny size and without Spark:
generator determinism, the oracle catching a corrupted mart, and the
metric registry matching BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


def test_every_benchmark_module_imports():
    # run.py imports the workloads only once a run has started; importing
    # them here makes a broken import fail the suite too (no JVM starts)
    sys.path.insert(1, ROOT)
    import run  # noqa: F401
    import workloads

    assert set(workloads.WORKLOADS) == set(metrics.WORKLOADS)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        net = gen.Network(11, locations=6, hours=30)
        net.write_raw_zone(str(tmp_path / run), range(30))
        gen.write_lines(str(tmp_path / run / "batch.json"), net.batch_lines(27, "batch-0"))
    a, b = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    assert a == b and len(a) == 31

    other = gen.Network(12, locations=6, hours=30)
    other.write_raw_zone(str(tmp_path / "c"), range(30))
    c = _tree_digest(str(tmp_path / "c"))
    assert any(c[k] != a[k] for k in c)


def test_generator_varies_what_the_engine_depends_on():
    net = gen.Network(3, locations=60, hours=72)
    sensors_per_location = {len(loc.params) for loc in net.locations}
    assert len(sensors_per_location) >= 3  # skew
    assert any(loc.city is None for loc in net.locations)  # null metadata
    redelivered = [r for drop in net.redelivered for r in drop]
    exact = [r for r in redelivered if r[2] == net.values[r[0]][r[1]]]
    assert exact and len(exact) < len(redelivered)  # exact and corrected
    assert any(net.invalid)  # unparseable datetimes
    line = json.loads(net.drop_lines(20)[0])  # 20:00 UTC = 03:00 next day local
    assert line["datetime"] == "2024-03-02T03:00:00+07:00"
    # schemas.MEASUREMENT_SCHEMA's fields, in order
    assert list(line) == [
        "location_id", "sensor_id", "location_name", "datetime", "parameter",
        "value", "unit", "city", "country", "latitude", "longitude",
        "timezone", "extracted_at",
    ]


def test_ground_truth_applies_redelivery_semantics():
    net = gen.Network(5, locations=20, hours=48)
    etl = net.etl_readings(range(48))
    snap = {(r[0], r[1], r[2]): r[3] for r in net.snapshot_rows(48)}
    corrected = [
        (s, h, v)
        for drop in net.redelivered
        for s, h, v in drop
        if v != net.values[s][h]
    ]
    assert corrected
    for s, h, v in corrected:
        li, p = net.sensors[s]
        orig = float(net.values[s][h])
        assert etl[(li, h)][p] == min(orig, float(v))  # mart: smallest value
        key = (net.locations[li].location_id, gen.utc(h), gen.PARAMETERS[p])
        assert snap[key] == float(v)  # keyed table: latest extraction


def test_hour_values_match_the_snapshot():
    # what stream_upsert's reads of older hours are checked against
    net = gen.Network(5, locations=20, hours=48)
    snap = {(r[0], r[1], r[2]): r[3] for r in net.snapshot_rows(40)}
    corrected = {
        h for drop in net.redelivered[:40] for s, h, v in drop if v != net.values[s][h]
    }
    assert corrected
    for h in {39, 30, 16} | corrected:
        want = [
            snap[(net.locations[li].location_id, gen.utc(h), gen.PARAMETERS[p])]
            for li, p in net.sensors
        ]
        assert net.hour_values(h, 40) == want
        assert (want != [float(v[h]) for v in net.values]) == (h in corrected)


def _write_mart(rows: list[tuple], root: str) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {
            name: pa.array(list(col), type=oracle._ARROW[t])
            for (name, t), col in zip(oracle.MART_COLUMNS, cols)
        }
    )
    pq.write_to_dataset(table, root, partition_cols=["year", "month", "day"])


@pytest.mark.parametrize("corruption", ["value", "missing_row", "none"])
def test_oracle_catches_a_corrupted_mart(tmp_path, corruption):
    net = gen.Network(9, locations=8, hours=36)
    rows = net.mart_rows(net.etl_readings(range(36)))
    written = list(rows)
    if corruption == "value":
        r = list(written[7])
        r[5] = (r[5] or 0.0) + 0.01  # pm25
        written[7] = tuple(r)
    elif corruption == "missing_row":
        del written[3]
    _write_mart(written, str(tmp_path / "mart"))
    con = oracle.connect()
    want = oracle.expected_digest(con, rows, oracle.MART_COLUMNS)
    got = oracle.digest(con, oracle.mart_source(str(tmp_path / "mart")), oracle.MART_COLUMNS)
    assert (got == want) == (corruption == "none")


def test_same_rows_tolerates_only_float_rounding():
    assert oracle.same_rows([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not oracle.same_rows([(1, 0.31)], [(1, 0.3)])
    assert not oracle.same_rows([(1, None)], [(1, 0.0)])
    assert not oracle.same_rows([("a",)], [("a",), ("b",)])


def test_benchmark_json_matches_the_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc == metrics.benchmark_doc()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(metrics.valid_name(n) for n in names)
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert metrics.valid_unit(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in doc["end_to_end"])}]
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert len(json.dumps(doc)) < 64 * 1024


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_exactly_the_registered_metrics(trace):
    registry = metrics.PER_LAYER if trace else metrics.END_TO_END
    values = {k: 1.5 for k in registry}
    out = json.loads(metrics.result_line(True, 3, 0, values, trace))
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: spec[0] for k, spec in registry.items()
    }
    with pytest.raises(ValueError):
        metrics.result_line(True, 3, 0, {**values, "bogus": 1.0}, trace)
    with pytest.raises(ValueError):
        metrics.result_line(True, 3, 0, dict(list(values.items())[1:]), trace)


def test_mix_median_takes_each_class_median():
    # two classes, 10x apart: the pooled median would fall between them
    xs = [10.0, 100.0, 12.0, 90.0, 11.0, 110.0]
    assert metrics.mix_median(xs, 2) == pytest.approx((11.0 * 100.0) ** 0.5)
    assert metrics.mix_median([3.0, 1.0, 2.0], 1) == 2.0
