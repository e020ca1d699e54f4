"""Output checks, run after the timed passes and never timed.

Two sets of outputs are checked: the last set-up's cold pass ("cold",
artifacts trained and published on the way) and an untimed pass on the
warm session after the timed passes ("warm", artifacts loaded). A query
is right only when both sets are.

- A query with an oracle in `SparkEntry.oracleSql` is replayed in DuckDB
  over the same generated tables and compared with the engine's output by
  `dev/selfcheck.py`'s rules (imported, not copied): columns sorted by
  name, rows sorted by every column, dtypes and values exactly equal.
- A query without an oracle must return rows, and every contract boolean
  it reports (`*_ok` columns such as `recall_ok` and `inv_ok`, and sketch
  `within_*` bounds) must hold on every row.
- Each `mr_*` reference query must equal its `q*` twin.
- The paper's prime sum must equal a single-threaded recomputation.

Every failure is recorded with its error class and message.
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

from .build import ROOT

sys.path.insert(0, str(ROOT / "dev"))
from selfcheck import TABLES, canon_df, compare  # noqa: E402

PRIME_QUERY = "mr_paper_prime_sum"


def _fail(kind, msg):
    return {"ok": False, "error_class": kind, "error": msg[:500]}


OK = {"ok": True}


def _via(verdict, how):
    return dict(verdict, via=how)


def connect(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def read_result(con, check_dir, name):
    return con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(check_dir, name)}/*.parquet')").fetchdf()


def contract_columns(df):
    return [c for c in df.columns
            if df[c].dtype == bool and (c.endswith("_ok") or c.startswith("within"))]


def check_contracts(df):
    if len(df) == 0:
        return _fail("EmptyOutput", "query returned no rows")
    canon_df(df)  # raises on unsortable columns, as the selfcheck does
    bad = [c for c in contract_columns(df) if not df[c].all()]
    if bad:
        return _fail("ContractViolated", f"contract columns false on some rows: {bad}")
    return OK


def primes_in(lo, n):
    """(sum, count) of the primes in [lo, lo + n), single-threaded."""
    hi = lo + n
    limit = int(np.sqrt(hi)) + 1
    small = np.ones(limit + 1, bool)
    small[:2] = False
    for i in range(2, int(limit ** 0.5) + 1):
        if small[i]:
            small[i * i::i] = False
    seg = np.ones(n, bool)
    for p in np.nonzero(small)[0]:
        start = max(p * p, (lo + p - 1) // p * p)
        seg[start - lo::p] = False
    if lo < 2:
        seg[:2 - lo] = False
    vals = np.arange(lo, hi, dtype=np.int64)[seg]
    return int(vals.sum()), int(len(vals))


def twin_checks(results):
    """mr_* against q* on the same input; returns {mr_name: verdict}."""
    out = {}

    def pair(mr, q, fn):
        if mr in results and q in results:
            try:
                msg = fn(results[mr], results[q])
            except Exception as e:  # a malformed output is a failed check
                msg = f"{type(e).__name__}: {e}"
            out[mr] = OK if msg is None else _fail("TwinMismatch", f"{mr} vs {q}: {msg}")

    def q1(mr, q):
        got = (float(mr["sum_val"][0]), int(mr["num"][0]))
        want = (float(q["sum_qty"].sum()), int(q["cnt"].sum()))
        return None if got == want else f"(sum, count) {got} != {want}"

    pair("mr_q1_agg", "q1_agg", q1)
    pair("mr_prime_sum", "q2_prime_sum", compare)
    pair("mr_q3_matrix_inverse", "q3_matrix_inverse", compare)
    pair("mr_q4_wordcount", "q4_wordcount", compare)
    return out


def prime_check(df, input_dir):
    cand = pd.read_parquet(os.path.join(input_dir, "candidates.parquet"))["n"]
    want = primes_in(int(cand.iloc[0]), len(cand))
    row = df.iloc[0]
    got = [(int(row["prime_sum"]), int(row["prime_cnt"])),
           (int(row["prime_sum_assoc"]), int(row["prime_cnt_assoc"]))]
    if any(g != want for g in got):
        return _fail("PrimeSumMismatch",
                     f"mapReduce {got[0]}, mapReduceAssociative {got[1]}, serial {want}")
    return OK


def run_checks(con, input_dir, check_dir, names, oracle_sql, written, wants):
    """{query: verdict} for every query of the workload; `written` is the
    harness's record of the executions that wrote the outputs, `wants`
    caches oracle results across output sets."""
    verdicts, results = {}, {}
    runs = {q["name"]: q for q in written}
    for name in names:
        run = runs.get(name, {"error_class": "MissingResult", "error": "not executed"})
        if not run.get("ok", False):
            verdicts[name] = _fail(run["error_class"], run["error"] or "")
            continue
        try:
            got = read_result(con, check_dir, name)
            results[name] = got
            if name == PRIME_QUERY:
                verdicts[name] = _via(prime_check(got, input_dir), "serial recount")
            elif name in oracle_sql:
                if name not in wants:
                    wants[name] = con.execute(oracle_sql[name]).fetchdf()
                diag = compare(got, wants[name])
                verdicts[name] = _via(OK if diag is None else _fail("OracleMismatch", diag),
                                      "oracle")
            else:
                verdicts[name] = _via(check_contracts(got), "contracts")
        except Exception as e:
            verdicts[name] = _fail(type(e).__name__, str(e))
    for name, v in twin_checks(results).items():
        if verdicts[name]["ok"]:
            verdicts[name] = _via(v, verdicts[name]["via"] + " + twin")
    return verdicts


def check_outputs(input_dir, check_dir, names, oracle_sql, written):
    """{query: verdict} over every output set. `written` maps a set's name
    ("cold", "warm") to the harness's record of the executions that wrote
    it under `check_dir/<set>`. A query passes only when every set does;
    otherwise the verdict is the first failing set's, named in `output`."""
    con, wants = connect(input_dir), {}
    per = {k: run_checks(con, input_dir, os.path.join(check_dir, k), names, oracle_sql, w, wants)
           for k, w in written.items()}
    out = {}
    for name in names:
        bad = [dict(per[k][name], output=k) for k in per if not per[k][name]["ok"]]
        out[name] = bad[0] if bad else dict(per[next(iter(per))][name], output="+".join(per))
    return out
