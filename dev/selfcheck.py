#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
Scala library has no Python dependency).

Usage: python3 dev/selfcheck.py [sfdir] [outdir]

1. Runs `graft.Verify sfdir outdir` via sbt (Spark results -> parquet,
   oracle SQL -> oracle_sql.json).
2. Registers each testdata parquet as a DuckDB view named after the table.
3. Runs every oracle SQL; compares against the Spark parquet the way the
   DRIVER does: both sides as pandas DataFrames, columns sorted by name,
   rows sorted with pandas sort_values over all columns (this CRASHES on
   array-typed columns, exactly like the driver — r2's m2 lesson), then
   pd.testing.assert_frame_equal with check_dtype=True and
   check_exact=True. dtype drift (e.g. DuckDB HUGEINT -> float64 vs
   Spark int64) is a FAILURE here even when values are equal — r2 shipped
   two red rows because the old repr()-based compare was blind to it.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_df(df):
    """Driver-style canonicalization: columns sorted by name, rows sorted
    by all columns. Raises on unhashable (array) columns like the driver."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(got, want):
    """Returns None if equal under the driver's dtype-strict rules,
    else a short diagnostic string."""
    if sorted(got.columns) != sorted(want.columns):
        return (f"SCHEMA-MISMATCH spark={sorted(got.columns)} "
                f"oracle={sorted(want.columns)}")
    if len(got) != len(want):
        return f"ROWCOUNT-MISMATCH spark={len(got)} oracle={len(want)}"
    g, w = canon_df(got), canon_df(want)
    dt = [(c, str(g[c].dtype), str(w[c].dtype))
          for c in g.columns if g[c].dtype != w[c].dtype]
    if dt:
        return f"DTYPE-MISMATCH (col, spark, oracle)={dt}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return "VALUE-MISMATCH " + str(e).replace("\n", " ")[:300]
    return None


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    skip_run = "--no-run" in sys.argv
    if not skip_run:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            capture_output=True, text=True,
            cwd=Path(__file__).resolve().parents[1])
        tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
        if r.returncode != 0:
            print(tail)
            sys.exit(1)
        if "[verify]" in r.stdout + r.stderr:
            print("verify-time failures:")
            for line in (r.stdout + r.stderr).splitlines():
                if "[verify]" in line:
                    print(" ", line)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    results = {}
    for name in sorted(oracle):
        sql = oracle[name]
        pq = Path(f"{outdir}/{name}")
        if not pq.exists():
            results[name] = "MISSING-RESULT"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE-ERROR: {e}"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{pq}/*.parquet'").fetchdf()
            diag = compare(got, want)
        except Exception as e:
            # the driver's sorter crashes the same way on array columns
            results[name] = f"HARNESS-ERROR: {type(e).__name__}: {e}"
            continue
        results[name] = diag if diag else f"OK ({len(got)} rows)"

    # queries without an oracle: rows-only check — but the driver still
    # runs its sorter over the output, so an unhashable column must fail
    # here too (r2's m2 crashed exactly there despite having no oracle)
    for pq in sorted(Path(outdir).iterdir()):
        if pq.is_dir() and pq.name not in oracle:
            try:
                df = con.execute(f"SELECT * FROM '{pq}/*.parquet'").fetchdf()
                canon_df(df)
            except Exception as e:
                results[pq.name] = f"HARNESS-ERROR: {type(e).__name__}: {e}"
                continue
            n = len(df)
            results[pq.name] = f"ROWS-ONLY ({n} rows)" if n > 0 else "ROWS-ONLY-EMPTY!"

    ok = all(v.startswith(("OK", "ROWS-ONLY (")) for v in results.values())
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith(('OK','ROWS-ONLY (')) else 'FAIL':4} {k}: {v}")
    print("ALL PASS" if ok else "FAILURES PRESENT")
    sys.exit(0 if ok else 2)


if __name__ == "__main__":
    main()
