#!/usr/bin/env python
"""Driver-gate replica: run every __spark_entry__ queries() entry against
its oracle_sql() in DuckDB at an arbitrary scale factor and compare row
count, column-name set, and order-insensitive values (columns sorted by
name, floats rounded to 6 — the driver's comparison shape).

Usage: python scripts/gate_check.py [--sf-dir /root/testdata/sf0.01]
       [--only name1,name2] [--cpus 8]
Prints one line per entry and a final JSON summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_rows(rows: list[dict], cols: list[str]) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    spark = get_spark(
        "gate_check", master=f"local[{args.cpus}]",
        config=EngineConfig(shuffle_partitions=int(args.cpus)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, args.sf_dir)
            cols = sorted(sdf.columns)
            srows = norm_rows([r.asDict() for r in sdf.collect()], cols)
            sql = oracles.get(name)
            if sql is None:
                print(f"{name}: rows={len(srows)} (no oracle; rows-only)")
                continue
            orel = con.sql(sql)
            ocols = sorted(orel.columns)
            orows = norm_rows(
                [dict(zip(orel.columns, r)) for r in orel.fetchall()], ocols
            )
            ok_schema = cols == ocols
            ok_rows = len(srows) == len(orows)
            ok_vals = srows == orows
            # The driver's 6-decimal ABSOLUTE rounding is the gate shape at
            # its sf0.01 scale; at bigger SFs large float sums (~1e9) differ
            # by summation ORDER alone (1 ulp ~ 1e-7 absolute > the rounding
            # grain). Distinguish real value bugs from ulp noise with a
            # relative-tolerance re-check so insurance runs at sf0.1 don't
            # cry wolf: floats equal within rtol 1e-12 (~1e-3 absolute on a
            # 1e9 sum, a few thousand ulps) count as FLOAT-ULP, and the raw
            # max abs/rel diff is printed so the noise stays visible.
            diffs = ok_schema and ok_rows and not ok_vals
            pairs = [(x, y) for sr, orow in zip(srows, orows)
                     for x, y in zip(sr, orow)] if diffs else []
            fl = [(abs(x - y), max(1.0, abs(x), abs(y))) for x, y in pairs
                  if isinstance(x, float) and isinstance(y, float)]
            max_abs = max((d for d, _ in fl), default=0.0)
            max_rel = max((d / m for d, m in fl), default=0.0)
            ulp_only = diffs and max_rel <= 1e-12 and all(
                x == y for x, y in pairs
                if not (isinstance(x, float) and isinstance(y, float)))
            status = ("OK" if (ok_schema and ok_rows and ok_vals)
                      else "OK-FLOAT-ULP" if ulp_only else "FAIL")
            print(f"{name}: {status} spark={len(srows)} oracle={len(orows)} "
                  f"schema={'ok' if ok_schema else f'{cols} vs {ocols}'}"
                  + ("" if ok_vals or ulp_only else " VALUES-DIFFER")
                  + (f" max_abs_diff={max_abs:.3g} max_rel_diff={max_rel:.3g}"
                     if diffs else ""))
            if status == "FAIL":
                if not ok_vals and ok_schema and ok_rows:
                    diff = [
                        (a, b) for a, b in zip(srows, orows) if a != b
                    ][:3]
                    print(f"  first diffs: {diff}")
                failures.append(name)
        except Exception as exc:  # keep going — report every broken entry
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:300]}")
            failures.append(name)
    print(json.dumps({"failures": failures, "n_failures": len(failures)}))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
