"""Local differential harness mirroring the driver's correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB over the
same sf dir, then compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, exact equality after type
normalization). Stricter than any reasonable hash — if this passes, the
driver's hash-match passes.

Usage: python tools/diffcheck.py [--json=<out>] [sf_dir] [query ...]
Exits 2 without starting Spark when sf_dir does not exist or a named
query is not registered.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    # Typed check BEFORE normalization: the driver's value-hash is typed, so
    # a DuckDB HUGEINT (→ float64 in pandas) against a Spark BIGINT (int64)
    # hash-mismatches even when every value is equal. Catch int↔float family
    # drift here; date/datetime conventions legitimately differ and are
    # handled by normalize().
    for c in spark_df.columns:
        s_int = pd.api.types.is_integer_dtype(spark_df[c])
        s_flt = pd.api.types.is_float_dtype(spark_df[c])
        o_int = pd.api.types.is_integer_dtype(oracle_df[c])
        o_flt = pd.api.types.is_float_dtype(oracle_df[c])
        if (s_int and o_flt) or (s_flt and o_int):
            problems.append(
                f"numeric dtype family differs on '{c}': spark={spark_df[c].dtype} "
                f"oracle={oracle_df[c].dtype} (HUGEINT-class oracle typing? "
                f"wrap the oracle aggregate in CAST(... AS BIGINT/DOUBLE))"
            )
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        if neq.any().any():
            bad_cols = [c for c in a.columns if neq[c].any()]
            i = neq.any(axis=1).idxmax()
            problems.append(
                f"values differ in {bad_cols}; first bad row {i}:\n"
                f"  spark : {a.iloc[i].to_dict()}\n  oracle: {b.iloc[i].to_dict()}"
            )
    return problems


USAGE = "usage: python tools/diffcheck.py [--json=<out>] [sf_dir] [query ...]"


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    json_path = None
    for a in list(args):
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    results: dict[str, dict] = {}

    from openaq_data_pipeline_engineering_spark.plans.registry import get_oracles, get_queries

    # Reject bad arguments before Spark starts: a missing scale dir
    # would fail every query, and an unknown name would match none and
    # still report 0 failures.
    qs = get_queries()
    problems = []
    if not os.path.isdir(sf_dir):
        problems.append(f"no such scale directory: {sf_dir}")
    if only - set(qs):
        problems.append(f"unknown queries: {', '.join(sorted(only - set(qs)))}")
    if problems:
        print("\n".join([USAGE, *problems]), file=sys.stderr)
        return 2

    from openaq_data_pipeline_engineering_spark.engine import get_spark

    # Layout knobs: a run at an unusual parallelism (e.g. CPUS=3,
    # SHUFFLE=5) is the layout-independence check — any query whose
    # values depend on partition count/order fails against the oracle.
    cpus = int(os.environ.get("SPARK_GRAFT_DIFF_CPUS", "8"))
    shuffle = int(os.environ.get("SPARK_GRAFT_DIFF_SHUFFLE", str(cpus)))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = get_oracles()
    n_pass = n_fail = n_noracle = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_noracle += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            results[name] = {"status": "fail", "err": f"oracle: {e}"}
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            results[name] = {"status": "fail", "err": "; ".join(problems)}
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            results[name] = {
                "status": "pass",
                "rows": len(sdf),
                "sec": round(time.time() - t0, 2),
            }
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "results": results}, f, indent=1, sort_keys=True
            )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
