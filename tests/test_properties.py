"""Property-based differential tests (hypothesis) for the operators with
the trickiest boundary semantics: as-of join and binned range join.
Each Spark result is compared against a brute-force Python reference on
randomized inputs — beyond the reference repo's hand-written asserts
(SURVEY §5: it has no property-based testing)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from openaq_data_pipeline_engineering_spark.operators.asof import asof_join
from openaq_data_pipeline_engineering_spark.operators.rangejoin import (
    binned_range_join,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ts_strategy = st.integers(min_value=0, max_value=48)  # hour offsets


def _t(h: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(hours=h)


@given(
    quotes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy, st.floats(0, 100, allow_nan=False)),
        min_size=0,
        max_size=15,
    ),
    probes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy),
        min_size=1,
        max_size=15,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, quotes, probes):
    qrows = [(k, _t(h), float(v), i) for i, (k, h, v) in enumerate(quotes)]
    prows = [(k, _t(h), 1000 + i) for i, (k, h) in enumerate(probes)]
    qdf = spark.createDataFrame(
        qrows or [(0, _t(0), 0.0, -1)],
        "user_id int, ts timestamp, value double, event_id int",
    )
    if not qrows:
        qdf = qdf.filter("event_id >= 0")
    pdf = spark.createDataFrame(prows, "user_id int, ts timestamp, event_id int")
    out = asof_join(
        pdf, qdf, on=["user_id"], ts_col="ts", value_cols=["value"],
        tiebreaker="event_id",
    )
    got = {r["event_id"]: r["value_asof"] for r in out.collect()}

    def brute(k, t):
        cands = [(q[1], q[3], q[2]) for q in qrows if q[0] == k and q[1] <= t]
        if not cands:
            return None
        return max(cands)[2]  # max (ts, tiebreaker) -> its value

    expect = {eid: brute(k, t) for k, t, eid in prows}
    assert got == expect


@given(
    probes=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=20),
    bounds=st.lists(
        st.tuples(st.floats(0, 100, allow_nan=False), st.floats(0, 30, allow_nan=False)),
        min_size=1,
        max_size=5,
    ),
    bin_width=st.sampled_from([3.0, 7.5, 16.0]),
)
@settings(**_SETTINGS)
def test_binned_range_join_matches_bruteforce(spark, probes, bounds, bin_width):
    prows = [(i, float(v)) for i, v in enumerate(probes)]
    ivrows = [(float(lo), float(lo + w), f"b{i}") for i, (lo, w) in enumerate(bounds)]
    pdf = spark.createDataFrame(prows, "event_id int, value double")
    ivdf = spark.createDataFrame(ivrows, "lo double, hi double, band string")
    out = binned_range_join(pdf, ivdf, "value", bin_width=bin_width)
    got = {(r["event_id"], r["band"]) for r in out.collect()}
    expect = {
        (i, b)
        for i, v in prows
        for lo, hi, b in ivrows
        if lo <= v < hi
    }
    assert got == expect


@given(
    events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 5000)),  # (user, minute)
        min_size=1,
        max_size=25,
        unique=True,
    ),
    gap_minutes=st.sampled_from([10, 45, 120]),
)
@settings(**_SETTINGS)
def test_sessionize_invariants(spark, events, gap_minutes):
    from openaq_data_pipeline_engineering_spark.operators.sessionize import sessionize

    rows = [
        (u, dt.datetime(2026, 1, 1) + dt.timedelta(minutes=m), i)
        for i, (u, m) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    out = sessionize(
        df, "user_id", "ts",
        gap_seconds=gap_minutes * 60, order_tiebreaker="event_id",
    ).collect()

    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        # session indices start at 1 and are contiguous & nondecreasing
        assert rs[0]["session_idx"] == 1
        for a, b in zip(rs, rs[1:]):
            gap = (b["ts"] - a["ts"]).total_seconds()
            if b["session_idx"] == a["session_idx"]:
                assert gap <= gap_minutes * 60  # intra-session gap bounded
            else:
                assert b["session_idx"] == a["session_idx"] + 1
                assert gap > gap_minutes * 60  # boundary exceeds the gap


@given(
    meas=st.lists(
        st.tuples(
            st.sampled_from(["loc1", "loc2", "loc3"]),
            st.integers(0, 72),                       # hour offset
            st.sampled_from(["pm25", "pm10", "o3"]),
            st.floats(0, 500, allow_nan=False),
            st.booleans(),                            # has metadata?
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**_SETTINGS)
def test_mart_pipeline_invariants(spark, meas):
    """Reference §5 invariants hold for ANY input: (key, ts) uniqueness,
    partition columns derived from the timestamp, metadata functional
    dependency, fill defaults on missing metadata."""
    from openaq_data_pipeline_engineering_spark.plans.mart import MartConfig, build_mart

    city = {"loc1": "Hanoi", "loc2": "Hue", "loc3": "Danang"}
    rows = [
        (
            loc,
            (dt.datetime(2025, 12, 30, 0, 0)
             + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:00:00+07:00"),
            param,
            round(v, 2),
            city[loc] if has_meta else None,
            "VN" if has_meta else None,
            21.0 if has_meta else None,
            105.8 if has_meta else None,
        )
        for loc, h, param, v, has_meta in meas
    ]
    df = spark.createDataFrame(
        rows,
        "location_id string, datetime string, parameter string, value double,"
        "city string, country string, latitude double, longitude double",
    )
    mart = build_mart(df, MartConfig(tiebreaker=["value"])).collect()

    seen = set()
    for r in mart:
        key = (r["location_id"], r["datetime"])
        assert key not in seen  # uniqueness of (key, ts)
        seen.add(key)
        # partition columns must be derived from the (UTC) timestamp
        assert r["year"] == str(r["datetime"].year)
        assert r["month"] == f"{r['datetime'].month:02d}"
        assert r["day"] == f"{r['datetime'].day:02d}"
        # fill defaults: city never null
        assert r["city_name"] is not None
        assert r["country_code"] is not None
    # metadata functional dependency: one (city, lat, lon) per location
    per_loc = {}
    for r in mart:
        fd = (r["city_name"], r["latitude"], r["longitude"])
        assert per_loc.setdefault(r["location_id"], fd) == fd


def _operator_chain_mart(df, cfg):
    """build_mart as the four-operator chain it fused: window dedup →
    pivot → location dim re-derived from the same rows → broadcast left
    join and fills."""
    from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first
    from openaq_data_pipeline_engineering_spark.operators.enrich import (
        enrich_metadata,
        extract_location_dim,
    )
    from openaq_data_pipeline_engineering_spark.operators.parse import (
        drop_invalid_datetime,
        parse_datetime,
        with_partition_columns,
    )
    from openaq_data_pipeline_engineering_spark.operators.pivot import pivot_parameters

    df = with_partition_columns(
        drop_invalid_datetime(parse_datetime(df, cfg.ts), cfg.ts), cfg.ts
    )
    tiebreak = cfg.tiebreaker or [cfg.value]
    deduped = dedup_first(
        df, keys=[cfg.key, cfg.ts, cfg.parameter], tiebreaker=tiebreak
    )
    wide = pivot_parameters(
        deduped,
        group_keys=[cfg.key, cfg.ts, "year", "month", "day"],
        pivot_col=cfg.parameter,
        value_col=cfg.value,
        values=cfg.parameters,
        value_decimals=cfg.value_decimals,
    )
    dim = extract_location_dim(
        df, key=cfg.key, attrs=cfg.metadata, tiebreaker=[cfg.ts] + tiebreak
    )
    return enrich_metadata(wide, dim, key=cfg.key, fills=cfg.fills)


_value = st.one_of(
    st.none(),
    st.just(float("nan")),
    st.integers(0, 50_000).map(lambda c: c / 100),  # a 2-decimal grid
)


@given(
    readings=st.lists(
        st.tuples(
            st.sampled_from(["loc1", "loc2", "loc3", None]),
            st.integers(0, 47),                            # hour offset
            st.sampled_from(["pm25", "pm10", "o3", "um003"]),  # um003: unlisted
            _value,
            st.booleans(),                                 # valid datetime?
        ),
        min_size=1,
        max_size=25,
    ),
    # re-deliveries: (reading index, None = exact copy, else corrected value)
    redeliveries=st.lists(
        st.tuples(st.integers(0, 24), st.one_of(st.none(), _value)), max_size=10
    ),
    bare_hours=st.sets(st.integers(0, 47)),  # hours delivered without metadata
    tiebreaker=st.sampled_from([[], ["extracted_at", "value"]]),
    value_decimals=st.sampled_from([None, 2]),
)
@settings(**_SETTINGS)
def test_build_mart_equals_operator_chain(
    spark, readings, redeliveries, bare_hours, tiebreaker, value_decimals
):
    """The fused build_mart returns exactly what the operator chain it
    replaced returns: same columns, types and rows, NaN and null cells
    included.

    Metadata is a function of (location, hour) here, so readings that
    tie on (datetime, *tiebreaker) carry the same attributes. Where they
    do not, the chain's window dedup kept an arbitrary reading's
    attributes and build_mart keeps the least ones; no expected answer
    exists for that case."""
    from openaq_data_pipeline_engineering_spark.plans.mart import MartConfig, build_mart

    city = {"loc1": "Hanoi", "loc2": "Hue", "loc3": "Danang", None: "Nowhere"}

    def row(loc, h, param, value, valid, extracted):
        meta = h not in bare_hours
        ts = (dt.datetime(2025, 12, 30) + dt.timedelta(hours=h)).strftime(
            "%Y-%m-%dT%H:00:00+07:00"
        )
        return (
            loc, ts if valid else "not-a-time", param, value,
            city[loc] if meta else None, "VN" if meta else None,
            21.0 if meta else None, 105.8 if meta else None, extracted,
        )

    rows = [row(*r, "t0") for r in readings]
    for n, (i, corrected) in enumerate(redeliveries, start=1):
        if i < len(readings):
            loc, h, param, value, valid = readings[i]
            again = value if corrected is None else corrected
            rows.append(row(loc, h, param, again, valid, f"t{n}"))
    df = spark.createDataFrame(
        rows,
        "location_id string, datetime string, parameter string, value double,"
        "city string, country string, latitude double, longitude double,"
        "extracted_at string",
    )
    cfg = MartConfig(tiebreaker=tiebreaker, value_decimals=value_decimals)
    got, want = build_mart(df, cfg), _operator_chain_mart(df, cfg)
    assert got.schema == want.schema

    def canon(frame):
        # NaN != NaN: compare a marker instead; None sorts first
        cells = lambda r: tuple(  # noqa: E731
            (0, 0) if x is None else (2, 0) if x != x else (1, x) for x in r
        )
        return sorted(cells(r) for r in frame.collect())

    assert canon(got) == canon(want)


# --------------------------------------------------------------------------
# CDC apply with tombstones vs sequential replay
# --------------------------------------------------------------------------
@given(
    base=st.dictionaries(
        st.integers(1, 8), st.integers(0, 99), min_size=0, max_size=6
    ),
    changes=st.lists(
        st.tuples(
            st.integers(1, 8),          # key
            st.integers(0, 99),         # value
            st.booleans(),              # is_delete
            st.integers(1, 5),          # seq
        ),
        min_size=0,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_cdc_apply_matches_sequential_replay(spark, base, changes):
    from openaq_data_pipeline_engineering_spark.operators.merge import cdc_apply

    base_df = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "k bigint, v bigint"
    ) if base else spark.createDataFrame([], "k bigint, v bigint")
    ch_df = spark.createDataFrame(
        [(k, v, "D" if d else "U", s) for k, v, d, s in changes],
        "k bigint, v bigint, op string, seq int",
    ) if changes else spark.createDataFrame(
        [], "k bigint, v bigint, op string, seq int"
    )

    # Reference: per-key max over the operator's total order —
    # (seq, delete-over-upsert, payload).
    state = dict(base)
    winners: dict[int, tuple[int, bool, int]] = {}
    for k, v, d, s in changes:
        prev = winners.get(k)
        if prev is None or (s, d, v) > prev:
            winners[k] = (s, d, v)
    for k, (s, d, v) in winners.items():
        if d:
            state.pop(k, None)
        else:
            state[k] = v

    got = {
        r["k"]: r["v"]
        for r in cdc_apply(base_df, ch_df, ["k"]).collect()
    }
    assert got == state


# --------------------------------------------------------------------------
# Degree-ordered triangle counting vs brute-force enumeration
# --------------------------------------------------------------------------
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=0,
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    from itertools import combinations

    from openaq_data_pipeline_engineering_spark.operators.triangles import (
        count_triangles,
    )

    canon = {(min(a, b), max(a, b)) for a, b in edges}
    if not canon:
        canon = {(0, 1)}
    pairs = spark.createDataFrame(sorted(canon), "s bigint, t bigint")

    adj: dict[int, set[int]] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    expected = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )

    row = count_triangles(pairs).collect()[0]
    assert row["n_edges"] == len(canon)
    assert row["n_triangles"] == expected


@given(
    quotes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy, st.floats(0, 100, allow_nan=False)),
        min_size=0,
        max_size=15,
    ),
    probes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy),
        min_size=1,
        max_size=15,
    ),
)
@settings(**_SETTINGS)
def test_asof_nearest_matches_bruteforce(spark, quotes, probes):
    """nearest = min |delta|; ties prefer backward; equal-ts backward
    quotes take max tiebreaker, forward quotes min tiebreaker."""
    qrows = [(k, _t(h), float(v), i) for i, (k, h, v) in enumerate(quotes)]
    prows = [(k, _t(h), 1000 + i) for i, (k, h) in enumerate(probes)]
    qdf = spark.createDataFrame(
        qrows or [(0, _t(0), 0.0, -1)],
        "user_id int, ts timestamp, value double, event_id int",
    )
    if not qrows:
        qdf = qdf.filter("event_id >= 0")
    pdf = spark.createDataFrame(prows, "user_id int, ts timestamp, event_id int")
    out = asof_join(
        pdf, qdf, on=["user_id"], ts_col="ts", value_cols=["value"],
        tiebreaker="event_id", direction="nearest",
    )
    got = {r["event_id"]: r["value_asof"] for r in out.collect()}

    def brute(k, t):
        back = [(q[1], q[3], q[2]) for q in qrows if q[0] == k and q[1] <= t]
        fwd = [(q[1], q[3], q[2]) for q in qrows if q[0] == k and q[1] > t]
        b = max(back) if back else None         # latest; max tie wins
        f = min(fwd) if fwd else None           # earliest; min tie wins
        if b is None and f is None:
            return None
        if f is None:
            return b[2]
        if b is None:
            return f[2]
        if (t - b[0]) <= (f[0] - t):            # tie -> backward
            return b[2]
        return f[2]

    expect = {eid: brute(k, t) for k, t, eid in prows}
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)),
        min_size=0,
        max_size=20,
    ),
    seeds=st.lists(st.integers(1, 8), min_size=1, max_size=3),
    max_hops=st.sampled_from([0, 1, 2, 3]),
)
@settings(**_SETTINGS)
def test_bfs_matches_bruteforce(spark, edges, seeds, max_hops):
    from openaq_data_pipeline_engineering_spark.operators.bfs import bfs_distances

    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src int, dst int"
    )
    if not edges:
        edf = edf.filter("src <> dst")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(edf, sdf, max_hops=max_hops).collect()}

    # brute-force BFS over the directed edge list
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in set(seeds)}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = hop
                    nxt.add(m)
        frontier = nxt
    assert got == dist


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 50)),  # (day, price)
        min_size=1,
        max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_pareto_frontier_matches_bruteforce(spark, rows):
    """Skyline semantics incl. ties: a date survives iff no strictly
    later date has an equal-or-higher best price."""
    import datetime as _dt

    from openaq_data_pipeline_engineering_spark.plans.queries_warehouse import (
        pareto_frontier,
    )
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = _dt.datetime(2024, 1, 1)
    table = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([1] * len(rows), pa.int64()),
            "o_orderstatus": pa.array(["O"] * len(rows), pa.string()),
            "o_totalprice": pa.array([float(p) for _, p in rows], pa.float64()),
            "o_orderdate": pa.array(
                [base + _dt.timedelta(days=d) for d, _ in rows],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }
    )
    d = tempfile.mkdtemp(prefix="pareto_prop_")
    pq.write_table(table, os.path.join(d, "orders.parquet"))
    got = {
        (r["day"].day if hasattr(r["day"], "day") else r["day"], r["best_price"])
        for r in pareto_frontier(spark, d).collect()
    }

    best: dict = {}
    for day, p in rows:
        best[day] = max(best.get(day, -1), p)
    expect = set()
    for day, p in best.items():
        if not any(d2 > day and p2 >= p for d2, p2 in best.items()):
            expect.add(((base + _dt.timedelta(days=day)).day, float(p)))
    assert got == expect


# ---------------------------------------------------------------------------
# Gaps-and-islands: bucketed two-level detection == naive linear scan
# ---------------------------------------------------------------------------
@given(
    ids=st.sets(st.integers(min_value=0, max_value=400), min_size=1,
                max_size=120),
    bucket=st.sampled_from([7, 50, 128]),
)
@settings(**_SETTINGS)
def test_gap_islands_matches_naive(spark, ids, bucket):
    from openaq_data_pipeline_engineering_spark.plans.queries_warehouse import (
        gap_islands,
    )

    ordered = sorted(ids)
    df = spark.createDataFrame([(i,) for i in ordered], "event_id bigint")
    got = {
        (r.island_start, r.island_end, r.island_len)
        for r in gap_islands(df, "event_id", bucket_size=bucket).collect()
    }
    expect = set()
    run = [ordered[0]]
    for a, b in zip(ordered, ordered[1:]):
        if b == a + 1:
            run.append(b)
        else:
            expect.add((run[0], run[-1], len(run)))
            run = [b]
    expect.add((run[0], run[-1], len(run)))
    assert got == expect


# ---------------------------------------------------------------------------
# Bloom index: NEVER a false negative, whatever the key set
# ---------------------------------------------------------------------------
@given(
    keys=st.sets(st.integers(min_value=0, max_value=10_000_000), min_size=1,
                 max_size=60),
)
@settings(**_SETTINGS)
def test_bloom_has_no_false_negatives(spark, keys):
    from pyspark.sql import functions as F

    from openaq_data_pipeline_engineering_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    df = spark.createDataFrame(
        [("g", k) for k in keys], "grp string, key bigint"
    )
    bloom = bloom_build(df, "grp", "key")
    hits = bloom_probe(bloom, df.select("key").distinct(), "key")
    missed = hits.filter(~F.col("hit")).count()
    assert missed == 0


@given(
    items=st.lists(
        st.tuples(
            st.integers(0, 2),          # flag
            st.integers(1, 50),         # cents (small domain → ties)
            st.integers(1, 9),          # weight
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**_SETTINGS)
def test_weighted_median_matches_bruteforce(spark, items):
    """The (flag, cents)-partial + cumsum-cutoff weighted median equals
    the brute-force lower weighted median on randomized inputs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(items, "flag int, cents long, w long")
    partials = df.groupBy("flag", "cents").agg(F.sum("w").alias("w"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    walk = partials.select(
        "flag",
        "cents",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_all).alias("total"),
    )
    got = {
        r["flag"]: r["median"]
        for r in walk.groupBy("flag")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("total"), F.col("cents"))
            ).alias("median")
        )
        .collect()
    }
    by_flag: dict[int, list[tuple[int, int]]] = {}
    for flag, cents, w in items:
        by_flag.setdefault(flag, []).append((cents, w))
    for flag, vals in by_flag.items():
        total = sum(w for _, w in vals)
        cum = 0
        expect = None
        for cents, w in sorted(vals):
            cum += w
            if 2 * cum >= total:
                expect = cents
                break
        assert got[flag] == expect, (flag, vals)


@given(
    quotes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy, st.floats(0, 100, allow_nan=False)),
        min_size=0,
        max_size=12,
    ),
    probes=st.lists(
        st.tuples(st.integers(1, 3), _ts_strategy),
        min_size=1,
        max_size=12,
    ),
    tol_hours=st.integers(0, 6),
)
@settings(**_SETTINGS)
def test_asof_tolerance_matches_bruteforce(spark, quotes, probes, tol_hours):
    """tolerance_us nulls matches farther than the window (pandas
    merge_asof semantics), leaving in-window picks identical to the
    unbounded backward as-of."""
    qrows = [(k, _t(h), float(v), i) for i, (k, h, v) in enumerate(quotes)]
    prows = [(k, _t(h), 1000 + i) for i, (k, h) in enumerate(probes)]
    qdf = spark.createDataFrame(
        qrows or [(0, _t(0), 0.0, -1)],
        "user_id int, ts timestamp, value double, event_id int",
    )
    if not qrows:
        qdf = qdf.filter("event_id >= 0")
    pdf = spark.createDataFrame(prows, "user_id int, ts timestamp, event_id int")
    tol_us = tol_hours * 3_600_000_000
    out = asof_join(
        pdf, qdf, on=["user_id"], ts_col="ts", value_cols=["value"],
        tiebreaker="event_id", tolerance_us=tol_us,
    )
    got = {r["event_id"]: r["value_asof"] for r in out.collect()}
    for k, h, pid in prows:
        cands = [
            (qh, v, i)
            for (qk, qh, v, i) in [(a, _t(b), c, j) for j, (a, b, c) in enumerate(quotes)]
            if qk == k and qh <= h and (h - qh).total_seconds() * 1e6 <= tol_us
        ]
        expect = max(cands, key=lambda t: (t[0], t[2]))[1] if cands else None
        assert got[pid] == expect, (pid, cands)


@given(
    events=st.lists(
        # (user, minute) WITHOUT uniqueness: duplicate timestamps per
        # user are the point — including duplicates sitting exactly at
        # a session boundary. Minutes cluster near multiples of the
        # 30-min gap so exact-boundary and boundary±1 cases are common.
        st.tuples(
            st.integers(1, 2),
            st.sampled_from([0, 1, 29, 30, 31, 59, 60, 61, 90, 120]),
        ),
        min_size=1,
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_session_islands_match_duckdb_under_ties(spark, events):
    """Cross-engine property: Spark session_stats == the DuckDB
    gaps-and-islands oracle template (with the `ts, new_s DESC` tie
    ordering) on inputs engineered to hit duplicate timestamps at
    session boundaries — the layout where an `ORDER BY ts`-only
    cumulative sum is nondeterministic."""
    import duckdb

    from openaq_data_pipeline_engineering_spark.operators.sessionize import (
        session_stats,
    )

    rows = [
        (u, dt.datetime(2026, 1, 1) + dt.timedelta(minutes=m), i)
        for i, (u, m) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    got = sorted(
        (r["user_id"], r["n_events"], r["session_start"], r["session_end"])
        for r in session_stats(
            df, "user_id", "ts", gap_seconds=1800, order_tiebreaker="event_id"
        ).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (user_id INT, ts TIMESTAMP, event_id INT)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts,
                       sum(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts, new_s DESC
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM flagged
            )
            SELECT user_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM sess GROUP BY user_id, sid
            """
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# MERGE INTO statement semantics vs a brute-force Python model: random
# unique-keyed target/source tables, a random subset of the five clause
# families with random integer thresholds — first-applicable-clause-
# wins, per family, exactly as operators/sqlmerge.py documents.
# ---------------------------------------------------------------------------
_row = st.tuples(
    st.integers(0, 9),  # key
    st.sampled_from(["A", "B", "C"]),  # seg
    st.integers(-50, 50),  # bal (integers: exact cross-model compare)
)


@given(
    base=st.lists(_row, max_size=10),
    src=st.lists(_row, max_size=10),
    use=st.tuples(*[st.booleans()] * 5),
    d1=st.integers(-40, 40),
    d2=st.integers(-40, 40),
    d3=st.integers(-40, 40),
)
@settings(**_SETTINGS)
def test_merge_statement_matches_python_model(spark, base, src, use, d1, d2, d3):
    from openaq_data_pipeline_engineering_spark.operators.sqlmerge import (
        execute_merge,
    )

    base = list({r[0]: r for r in base}.values())  # unique keys
    src = list({r[0]: r for r in src}.values())
    m_del, m_upd, nm_ins, bs_del, bs_upd = use
    if not any(use):
        m_upd = True
    clauses, model = [], []
    if m_del:
        clauses.append(f"WHEN MATCHED AND s.bal < {d1} THEN DELETE")
        model.append(("M", lambda t, s: s[2] < d1, None))
    if m_upd:
        clauses.append(
            "WHEN MATCHED THEN UPDATE SET seg = s.seg, bal = t.bal + s.bal"
        )
        model.append(
            ("M", lambda t, s: True, lambda t, s: (t[0], s[1], t[2] + s[2]))
        )
    if nm_ins:
        clauses.append(f"WHEN NOT MATCHED AND s.bal >= {d2} THEN INSERT *")
        model.append(("N", lambda t, s: s[2] >= d2, lambda t, s: s))
    if bs_del:
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE AND t.bal < {d3} THEN DELETE"
        )
        model.append(("S", lambda t, s: t[2] < d3, None))
    if bs_upd:
        clauses.append(
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET seg = 'Z'"
        )
        model.append(("S", lambda t, s: True, lambda t, s: (t[0], "Z", t[2])))

    # brute-force reference
    smap = {r[0]: r for r in src}
    bkeys = {r[0] for r in base}
    expected = set()
    for t in base:
        s = smap.get(t[0])
        fam = "M" if s is not None else "S"
        for kind, cond, action in model:
            if kind == fam and cond(t, s):
                if action is not None:
                    expected.add(action(t, s))
                break  # first applicable clause wins (DELETE adds nothing)
        else:
            expected.add(t)  # no applicable clause -> row unchanged
    for s in src:
        if s[0] in bkeys:
            continue
        for kind, cond, action in model:
            if kind == "N" and cond(None, s):
                expected.add(action(None, s))
                break

    schema = "k int, seg string, bal int"
    tdf = spark.createDataFrame(base or [(99, "X", 0)], schema)
    if not base:
        tdf = tdf.filter("k < 99")
    sdf = spark.createDataFrame(src or [(99, "X", 0)], schema)
    if not src:
        sdf = sdf.filter("k < 99")
    stmt = "MERGE INTO tgt t USING src s ON t.k = s.k " + " ".join(clauses)
    out = execute_merge(spark, stmt, target_df=tdf, source_df=sdf)
    got = {tuple(r) for r in out.collect()}
    assert got == expected, f"\nstmt: {stmt}\ngot:  {got}\nwant: {expected}"


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # qty (or None below)
            st.sampled_from(["a", "b", None]),  # seg
            st.booleans(),  # qty is NULL
        ),
        min_size=1,
        max_size=30,
    ),
    qty_cut=st.integers(min_value=0, max_value=50),
)
@settings(**_SETTINGS)
def test_expectations_match_python_model(spark, rows, qty_cut):
    """Report and split agree with a plain-Python evaluation of the
    same rules under SQL three-valued semantics (NULL -> fail)."""
    from openaq_data_pipeline_engineering_spark.operators.expectations import (
        expectation_report,
        split_expectations,
    )

    data = [
        (i, None if null_q else float(q), seg)
        for i, (q, seg, null_q) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "id int, qty double, seg string")
    rules = {
        "qty_le_cut": f"qty <= {qty_cut}",
        "seg_present": "seg IS NOT NULL",
    }

    def model(row):
        failed = []
        if not (row[1] is not None and row[1] <= qty_cut):
            failed.append("qty_le_cut")
        if row[2] is None:
            failed.append("seg_present")
        return failed

    exp_fail = {r[0]: model(r) for r in data}
    n = len(data)
    rep = {
        r["rule"]: (r["n_fail"], r["n_rows"])
        for r in expectation_report(df, rules).collect()
    }
    n_q = sum(1 for f in exp_fail.values() if "qty_le_cut" in f)
    n_s = sum(1 for f in exp_fail.values() if "seg_present" in f)
    n_any = sum(1 for f in exp_fail.values() if f)
    assert rep["qty_le_cut"] == (n_q, n)
    assert rep["seg_present"] == (n_s, n)
    assert rep["__any_failed__"] == (n_any, n)
    assert rep["__all_valid__"] == (n - n_any, n)

    valid, quarantine = split_expectations(df, rules)
    assert {r["id"] for r in valid.collect()} == {
        i for i, f in exp_fail.items() if not f
    }
    got = {
        r["id"]: list(r["failed_rules"]) for r in quarantine.collect()
    }
    assert got == {i: f for i, f in exp_fail.items() if f}
