"""Operator unit tests — ports of the reference's Spark-logic invariants
(tests/test_glue_complete.py:123-319, tests/test_glue_transformation.py)
onto the new engine's operators, plus determinism checks the reference
lacks."""

from __future__ import annotations

from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators import (
    compute_aqi,
    dedup_first,
    exact_dedup,
    enrich_metadata,
    extract_location_dim,
    normalize_parameter,
    null_profile,
    parse_datetime,
    drop_invalid_datetime,
    pivot_parameters,
    range_qa_counts,
    with_partition_columns,
)
from openaq_data_pipeline_engineering_spark.operators.filters import parameter_matches


RAW_COLS = ["location_id", "datetime", "parameter", "value", "city", "extracted_at"]


def raw_fixture(spark):
    rows = [
        # exact duplicate pair on (location, datetime, parameter)
        ("loc1", "2025-12-20T10:00:00+07:00", "pm25", 25.5, "Hanoi", "t1"),
        ("loc1", "2025-12-20T10:00:00+07:00", "pm25", 26.0, "Hanoi", "t0"),
        # second parameter at same key
        ("loc1", "2025-12-20T10:00:00+07:00", "pm10", 50.0, "Hanoi", "t0"),
        # different timezone offset, same instant as 04:00 UTC
        ("loc2", "2025-12-20T12:00:00+08:00", "pm25", 10.0, None, "t0"),
        # Z suffix
        ("loc2", "2025-12-21T00:00:00Z", "o3", 80.0, None, "t0"),
        # invalid datetime → dropped
        ("loc3", "not-a-date", "pm25", 1.0, "Hue", "t0"),
    ]
    return spark.createDataFrame(rows, RAW_COLS)


class TestParse:
    def test_iso8601_offsets_to_utc(self, spark):
        # reference P1/F1: +07:00 / +08:00 / Z all land on the UTC clock
        df = drop_invalid_datetime(parse_datetime(raw_fixture(spark)))
        got = {r.location_id: r.datetime.isoformat() for r in df.select("location_id", "datetime").distinct().collect()}
        assert got["loc1"] == "2025-12-20T03:00:00"
        assert "2025-12-20T04:00:00" in [
            r.datetime.isoformat() for r in df.filter("location_id='loc2'").collect()
        ]

    def test_invalid_datetime_dropped(self, spark):
        # reference P5: errors='coerce' + dropna
        df = drop_invalid_datetime(parse_datetime(raw_fixture(spark)))
        assert df.filter("location_id = 'loc3'").count() == 0

    def test_partition_columns_zero_padded(self, spark):
        # reference P2: lpad month/day; partition ⇔ datetime consistency
        df = with_partition_columns(
            drop_invalid_datetime(parse_datetime(raw_fixture(spark)))
        )
        row = df.filter("location_id = 'loc1'").first()
        assert (row.year, row.month, row.day) == ("2025", "12", "20")
        bad = df.filter(
            (F.year("datetime").cast("string") != F.col("year"))
            | (F.lpad(F.month("datetime").cast("string"), 2, "0") != F.col("month"))
        )
        assert bad.count() == 0


class TestDedup:
    def test_dedup_3_to_2(self, spark):
        # reference invariant: 3 rows with one exact key collision → 2
        # (tests/test_glue_complete.py:183-200), deterministic survivor
        df = parse_datetime(raw_fixture(spark)).filter("location_id = 'loc1'")
        out = dedup_first(df, keys=["location_id", "datetime", "parameter"], tiebreaker=["extracted_at", "value"])
        assert out.count() == 2
        survivor = out.filter("parameter = 'pm25'").first()
        assert survivor.extracted_at == "t0" and survivor.value == 26.0

    def test_dedup_requires_tiebreaker(self, spark):
        import pytest

        with pytest.raises(ValueError):
            dedup_first(raw_fixture(spark), keys=["location_id"], tiebreaker=[])

    def test_exact_dedup_survivor_min_id(self, spark):
        docs = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
        )
        out = exact_dedup(docs, "text", "doc_id").collect()
        by_hash = {r.doc_id: r.dup_count for r in out}
        assert by_hash == {1: 2, 3: 1}


class TestPivot:
    def test_pivot_explicit_values_frozen_schema(self, spark):
        # reference A1 + AQI-plan schema risk: missing parameter → null col
        df = parse_datetime(raw_fixture(spark)).filter("location_id = 'loc1'")
        out = pivot_parameters(
            df,
            group_keys=["location_id", "datetime"],
            pivot_col="parameter",
            value_col="value",
            values=["pm25", "pm10", "no2"],
        )
        assert {"pm25", "pm10", "no2"} <= set(out.columns)
        row = out.first()
        assert row.no2 is None  # declared but absent → NULL column, not missing
        assert row.pm10 == 50.0

    def test_pivot_mean_resolves_duplicates(self, spark):
        df = spark.createDataFrame(
            [("a", "t", "pm25", 10.0), ("a", "t", "pm25", 20.0)],
            ["location_id", "datetime", "parameter", "value"],
        )
        out = pivot_parameters(df, ["location_id", "datetime"], "parameter", "value", ["pm25"])
        assert out.first().pm25 == 15.0

    def test_pivot_stable_mean_equals_mean_on_grid(self, spark):
        df = spark.createDataFrame(
            [("a", "t", "pm25", 10.01), ("a", "t", "pm25", 20.02)],
            ["location_id", "datetime", "parameter", "value"],
        )
        out = pivot_parameters(
            df, ["location_id", "datetime"], "parameter", "value", ["pm25"], value_decimals=2
        )
        assert abs(out.first().pm25 - 15.015) < 1e-12


class TestEnrich:
    def test_dim_extract_and_broadcast_enrich(self, spark):
        # reference J3+J1+P6: dim from same frame, left join, fillna
        raw = parse_datetime(raw_fixture(spark))
        dim = extract_location_dim(
            raw, key="location_id", attrs={"city": "city_name"}, tiebreaker=["extracted_at"]
        )
        assert dim.count() == dim.select("location_id").distinct().count()
        fact = raw.select("location_id", "datetime", "value")
        out = enrich_metadata(fact, dim, key="location_id", fills={"city_name": "Unknown"})
        cities = {r.location_id: r.city_name for r in out.select("location_id", "city_name").distinct().collect()}
        assert cities["loc1"] == "Hanoi"
        assert cities["loc2"] == "Unknown"  # null metadata → filled

    def test_metadata_functional_dependency(self, spark):
        # reference invariant: location_id → city (test_glue_transformation.py:349-373)
        raw = parse_datetime(raw_fixture(spark))
        dim = extract_location_dim(
            raw, key="location_id", attrs={"city": "city_name"}, tiebreaker=["extracted_at"]
        )
        fact = raw.select("location_id", "datetime")
        out = enrich_metadata(fact, dim, key="location_id", fills={"city_name": "Unknown"})
        violations = (
            out.groupBy("location_id")
            .agg(F.countDistinct("city_name").alias("n"))
            .filter("n > 1")
        )
        assert violations.count() == 0


class TestFilters:
    def test_parameter_normalization(self, spark):
        # reference P8/F3: 'PM2.5' → 'pm25' (the Dec-2025 fix)
        df = spark.createDataFrame([("PM2.5",), ("pm25",), ("O3",), ("NO2 mass",)], ["p"])
        norm = df.select(normalize_parameter("p").alias("n")).collect()
        assert [r.n for r in norm] == ["pm25", "pm25", "o3", "no2 mass"]
        matched = df.filter(parameter_matches("p", ["pm25", "o3"]))
        assert matched.count() == 3  # substring match catches 'NO2 mass'? no — pm25, pm25, o3

    def test_range_qa_and_null_profile(self, spark):
        df = spark.createDataFrame(
            [(91.0, None), (45.0, 1.0), (-95.0, 2.0)], ["lat", "v"]
        )
        qa = range_qa_counts(df, {"lat": (-90, 90)}).first()
        assert qa.lat_oob == 2
        nulls = null_profile(df, ["v"]).first()
        assert nulls.v_nulls == 1


class TestAqi:
    def test_aqi_breakpoints_and_edges(self, spark):
        # reference AQI plan edge rules (:69-73)
        df = spark.createDataFrame(
            [(1, 0.0, None), (2, 12.0, None), (3, 35.5, None), (4, -5.0, None), (5, None, None), (6, 600.0, None)],
            "id int, pm25 double, pm10 double",
        )
        out = {r.id: r for r in compute_aqi(df).collect()}
        assert out[1].aqi == 0.0 and out[1].aqi_level == "Good"
        assert out[2].aqi == 50.0 and out[2].aqi_level == "Good"
        assert out[3].aqi == 101.0
        assert out[4].aqi is None and out[4].aqi_level == "Unknown"  # negative invalid
        assert out[5].aqi is None and out[5].aqi_level == "Unknown"  # all-null
        assert out[6].aqi > 500  # uncapped extrapolation
        assert out[6].aqi_level == "Hazardous"

    def test_dominant_pollutant(self, spark):
        df = spark.createDataFrame([(1, 10.0, 200.0)], ["id", "pm25", "pm10"])
        row = compute_aqi(df).first()
        assert row.dominant_pollutant == "pm10"

    @staticmethod
    def _epa(conc: dict) -> tuple:
        """The EPA formula in plain Python from the same BREAKPOINTS and
        AQI_LEVELS: (aqi rounded to 4 places as Spark's round() does,
        level, dominant pollutant)."""
        from decimal import ROUND_HALF_UP, Decimal

        from openaq_data_pipeline_engineering_spark.operators.aqi import (
            AQI_LEVELS,
            BREAKPOINTS,
        )

        def sub(c, bps):
            if c is None or c < 0:
                return None
            for c_lo, c_hi, i_lo, i_hi in bps:
                if c_lo <= c <= c_hi:
                    break
            else:
                c_lo, c_hi, i_lo, i_hi = bps[-1]
                if c <= c_hi:
                    return None  # between two segments
            return (float(i_hi) - i_lo) / (c_hi - c_lo) * (c - c_lo) + i_lo

        subs = {n: sub(c, BREAKPOINTS[n]) for n, c in conc.items()}
        known = {n: v for n, v in subs.items() if v is not None}
        if not known:
            return None, "Unknown", "Unknown"
        top = max(known.values())
        aqi = float(
            Decimal(repr(top)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        level = next(
            (lab for lo, hi, lab in AQI_LEVELS if lo <= aqi <= hi), "Unknown"
        )
        return aqi, level, min(n for n, v in known.items() if v == top)

    def test_matches_python_epa_formula(self, spark):
        """compute_aqi equals the plain-Python formula exactly on every
        breakpoint edge, the gaps between segments, negatives, nulls,
        values above the top segment and sub-index ties; on a
        single-pollutant frame, a custom column mapping, and a frame
        that already holds an ``aqi`` column (replaced in place)."""
        from openaq_data_pipeline_engineering_spark.operators.aqi import (
            BREAKPOINTS,
        )

        edges = sorted(
            {x for bps in BREAKPOINTS.values() for seg in bps for x in seg[:2]}
        )
        singles = edges + [
            12.05, 35.45, 54.5, 154.5, 424.5,  # gaps: NULL sub-index
            -0.1, -5.0, None, 600.0, 1000.0, 1e6, 3.3, 77.7,
        ]
        pairs = [(c, None) for c in singles] + [(None, c) for c in singles]
        pairs += [
            (12.1, 55.0), (35.5, 155.0), (0.0, 0.0), (12.0, 54.0),  # ties
            (12.05, 54.5), (-1.0, 20.0), (20.0, -1.0), (40.0, 160.0),
        ]
        rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]

        def check(out, conc_of):
            got = {r.id: (r.aqi, r.aqi_level, r.dominant_pollutant) for r in out.collect()}
            assert len(got) == len(rows)
            for i, a, b in rows:
                assert got[i] == self._epa(conc_of(a, b)), (a, b)

        df = spark.createDataFrame(rows, "id int, pm25 double, pm10 double")
        out = compute_aqi(df)
        assert out.columns == ["id", "pm25", "pm10", "aqi", "aqi_level", "dominant_pollutant"]
        check(out, lambda a, b: {"pm25": a, "pm10": b})

        single = compute_aqi(df.select("id", "pm25"))
        assert single.columns == ["id", "pm25", "aqi", "aqi_level", "dominant_pollutant"]
        check(single, lambda a, b: {"pm25": a})

        mapped = compute_aqi(
            df.withColumnRenamed("pm25", "fine").withColumnRenamed("pm10", "coarse"),
            {"pm25": "fine", "pm10": "coarse"},
        )
        check(mapped, lambda a, b: {"pm25": a, "pm10": b})

        held = compute_aqi(df.select("id", F.lit("old").alias("aqi"), "pm25", "pm10"))
        assert held.columns == ["id", "aqi", "pm25", "pm10", "aqi_level", "dominant_pollutant"]
        check(held, lambda a, b: {"pm25": a, "pm10": b})

    def test_build_makes_few_jvm_calls(self, spark):
        """Building the AQI DataFrame (no action) stays a handful of
        Py4J round trips. Composing the breakpoint chains from Column
        calls took ~2.3k, a few hundred milliseconds per query."""
        import gc

        df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, pm25 double, pm10 double")
        compute_aqi(df)  # first use imports and caches outside the count
        client = spark.sparkContext._gateway._gateway_client
        real = client.send_command
        calls = []

        def counting(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        gc.disable()  # no Py4J object deletes mid-count
        client.send_command = counting
        try:
            compute_aqi(df)
        finally:
            del client.send_command
            gc.enable()
        assert 0 < len(calls) <= 100


class TestObserve:
    def test_observe_counts_single_pass(self, spark):
        from openaq_data_pipeline_engineering_spark.operators.validate import (
            observe_counts,
        )

        df = spark.createDataFrame(
            [("a", 1.0), ("b", None), (None, 3.0)], "k string, v double"
        )
        observed, obs = observe_counts(df, "m1", null_check_cols=["k", "v"])
        assert observed.count() == 3  # the ONE action; metrics ride along
        got = obs.get
        assert got["row_count"] == 3
        assert got["k_nulls"] == 1
        assert got["v_nulls"] == 1
