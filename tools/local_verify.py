#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: runs each oracle SQL in
DuckDB over the testdata parquet and compares (sorted columns, sorted
rows) with the Spark result parquet dumped by graft.Verify.

Usage: python3 tools/local_verify.py <sfDir> <verifyOutDir> [jsonOut]

With [jsonOut], also writes a driver-style artifact: one object per
query with rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err (plus oracle_sec timing — scale sweeps care).
"""
import json
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str, json_out: str = None) -> int:
    import os
    con = duckdb.connect()
    for t in TABLES:
        # the driver's testdata is one file per table; Spark-generated
        # scale probes (Sf1Gen/SkewProbe) write directory-style parquet
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # GRAFT_ONLY=<comma-list>: restrict to named queries (the sf1 gate
    # checks only the queries a change touches)
    only = {q for q in os.environ.get("GRAFT_ONLY", "").split(",") if q}
    n_pass = n_fail = 0
    report = {}
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        report[name] = rec
        # optional per-oracle wall budget (GRAFT_ORACLE_TIMEOUT secs):
        # scale sweeps hit quadratic truth-set oracles that are fine at
        # sf0.01 but infeasible at sf1+ — a timeout records an explicit
        # "oracle exceeded budget" row instead of stalling the sweep
        budget = float(os.environ.get("GRAFT_ORACLE_TIMEOUT", "0"))
        timer = None
        if budget > 0:
            import threading
            timer = threading.Timer(budget, con.interrupt)
            timer.start()
        try:
            t0 = time.time()
            expect = canon(con.execute(sql).fetchdf())
            rec["oracle_sec"] = round(time.time() - t0, 3)
            # cancel the budget timer as soon as the oracle completes:
            # it exists to bound the ORACLE, and leaving it armed over
            # the Spark-result read can (a) misreport a slow result
            # fetch as "oracle exceeded budget" and (b) race an
            # interrupt into the next query on the shared connection
            if timer is not None:
                timer.cancel()
                timer = None
            got = canon(con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf())
        except Exception as e:
            msg = str(e).split("\n")[0]
            if budget > 0 and "INTERRUPT" in str(e).upper():
                msg = f"oracle exceeded {budget:.0f}s budget"
            print(f"FAIL {name}: exception {msg}")
            rec["err"] = msg[:300]
            n_fail += 1
            continue
        finally:
            if timer is not None:
                timer.cancel()
        rec["spark_rows"] = len(got)
        rec["oracle_rows"] = len(expect)
        ok_rows = rec["rows_match"] = len(expect) == len(got)
        ok_cols = rec["schema_match"] = \
            list(expect.columns) == list(got.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                # check_dtype=True: the driver's hash canonicalization is
                # type-sensitive (r6 lesson — DECIMAL/HUGEINT/INT96 drift
                # passed locally with check_dtype=False, failed the gate)
                pd.testing.assert_frame_equal(
                    expect, got, check_dtype=True, check_exact=True)
                ok_vals = True
            except AssertionError as e:
                msg = str(e).split("\n")[0]
        rec["hash_match"] = ok_vals
        if ok_rows and ok_cols and ok_vals:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            if not ok_rows:
                print(f"FAIL {name}: rows expect={len(expect)} got={len(got)}")
                rec["err"] = "row count mismatch"
            elif not ok_cols:
                print(f"FAIL {name}: cols expect={list(expect.columns)} "
                      f"got={list(got.columns)}")
                rec["err"] = "schema mismatch"
            else:
                print(f"FAIL {name}: values differ: {msg}")
                rec["err"] = f"values differ: {msg}"[:300]
                merged = expect.compare(got) if expect.shape == got.shape else None
                if merged is not None and len(merged):
                    print(merged.head(5))
    print(f"\n{n_pass} pass / {n_fail} fail "
          f"(+{len(set(sys_queries()) - set(oracle))} rows-only)")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


def sys_queries():
    import os
    out_dir = sys.argv[2]
    return [d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))]


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
