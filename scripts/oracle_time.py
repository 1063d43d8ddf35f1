#!/usr/bin/env python3
"""Best-of-N DuckDB wall-clock for oracle SQLs — the denominator side
of bench.json's duckdb_subset_hint. Dev-only tooling (the shipped Scala
engine never depends on this); the driver box has duckdb for the oracle.

Usage:  python3 scripts/oracle_time.py <sfDir> <verifyOutDir> [query ...]

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
named query (default: all) against views over <sfDir>/*.parquet with one
thread per core of the host (the cores graft.Bench runs on), prints
best-of-3 seconds per query and the total.
"""
import json, os, sys, time
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sqls = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    if not names:
        names = sorted(sqls)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        p = Path(sf_dir, f"{t}.parquet")
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    total = 0.0
    for n in names:
        if n not in sqls:
            print(f"SKIP {n}: no oracle sql")
            continue
        best = None
        for _ in range(3):
            t0 = time.time()
            con.execute(sqls[n]).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        total += best
        print(f"{n}: {best:.3f} s (best of 3)")
    print(f"== total {total:.3f} s over {len(names)} queries")


if __name__ == "__main__":
    main()
