"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, then compares row count, column names, and an
order-insensitive value multiset (columns sorted by name, values
stringified). Usage: python tools/check_entry.py [sf_dir] [q1,q2,...]
(the optional second arg restricts to named queries — fast iteration).
Each line also gives the seconds spent building the query's DataFrame
and the Spark jobs started while building it (schema reads, eager
checkpoints, collects), and a total line sums them.
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from smcchecker_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v))
            else repr(v)
        )
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, only=None) -> int:
    spark = get_spark("check-entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only:
        missing = [n for n in only if n not in qs]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        qs = {n: qs[n] for n in only}
    failures = []
    sc = spark.sparkContext
    build_s_sum, build_jobs_sum, built = 0.0, 0, 0
    for name, fn in qs.items():
        # the query's jobs run under its own group, so the jobs started
        # while its DataFrame is built can be told from the run's
        group = f"check_entry.{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            build_s = time.time() - t0
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sdf = df.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        el = time.time() - t0
        build_s_sum += build_s
        build_jobs_sum += build_jobs
        built += 1
        timing = f"{el:.1f}s; build {build_s:.2f}s, {build_jobs} jobs"
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows ({timing})")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            continue
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            failures.append(name)
            print(
                f"FAIL {name}: cols spark={sorted(sdf.columns)} "
                f"oracle={sorted(odf.columns)}"
            )
            continue
        odf.columns = [c.lower() for c in odf.columns]
        sdf.columns = [c.lower() for c in sdf.columns]
        a, b = _norm(sdf), _norm(odf)
        if not a.equals(b):
            failures.append(name)
            neq = (a != b).any(axis=1)
            print(f"FAIL {name}: value mismatch, first diffs:")
            print(pd.concat(
                {"spark": a[neq].head(3), "oracle": b[neq].head(3)}, axis=1
            ).to_string())
            continue
        print(f"ok   {name}: {len(sdf)} rows match ({timing})")
    print(
        f"\nbuild total: {build_s_sum:.1f}s, {build_jobs_sum} jobs "
        f"over {built} queries"
    )
    print(f"{len(qs) - len(failures)}/{len(qs)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
        sys.argv[2].split(",") if len(sys.argv) > 2 else None,
    ))
