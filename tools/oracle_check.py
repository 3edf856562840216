"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive value content."""

from __future__ import annotations

import os
import sys

import duckdb

# the checkout this script lives in, so an A/B copy tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod
from fhir_data_validation_spark.session import get_spark
from fhir_data_validation_spark.sources.tables import TABLES

ARGS = sys.argv[1:]
ONLY: list[str] = []
if "--only" in ARGS:
    i = ARGS.index("--only")
    ONLY = ARGS[i + 1].split(",")
    ARGS = ARGS[:i] + ARGS[i + 2:]
# --exact: compare floats at FULL precision (repr of the double), like the
# driver's value hash — catches last-ulp cross-engine drift that the
# default 4-decimal re-round forgives
EXACT = "--exact" in ARGS
if EXACT:
    ARGS.remove("--exact")
SF = ARGS[0] if ARGS else "/root/testdata/sf0.01"


def normalize(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row))
        vals = []
        for c in sorted(d):
            v = d[c]
            if isinstance(v, float) and not EXACT:
                v = round(v, 4)
            elif isinstance(v, float):
                # repr of the PLAIN float: numpy>=2 reprs np.float64
                # as 'np.float64(0.1)', which would spuriously fail
                # every exact comparison (round-5 review batch 3)
                v = repr(float(v))
            if isinstance(v, bool):
                v = bool(v)
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


def main():
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        sdf = fn(spark, SF).toPandas()
        s_rows = normalize(sdf.itertuples(index=False, name=None),
                           list(sdf.columns))
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(s_rows)} rows (no oracle)")
            continue
        od = con.execute(oracles[name]).fetchall()
        o_cols = [d[0] for d in con.description]
        o_rows = normalize(od, o_cols)
        status = "OK"
        if sorted(sdf.columns) != sorted(o_cols):
            status = f"SCHEMA MISMATCH spark={sorted(sdf.columns)} duck={sorted(o_cols)}"
        elif len(s_rows) != len(o_rows):
            status = f"ROWCOUNT spark={len(s_rows)} duck={len(o_rows)}"
        elif s_rows != o_rows:
            diff = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
            status = (f"VALUES differ at {len(diff)} rows, first: "
                      f"spark={s_rows[diff[0]]} duck={o_rows[diff[0]]}" if diff
                      else "VALUES differ (unknown)")
        if status != "OK":
            failures += 1
        print(f"{name:24s} {len(s_rows):7d} rows  {status}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
