#!/usr/bin/env python3
"""Pin the expected output of every benchmark query, cross-checked
against DuckDB.

    python3 perfbench/pin.py [--seconds 10]

Runs each query workload once with tracing off and takes the row count
and digest (`Digest.scala`) of every query's output; all executions of
one query in the run must agree. Then evaluates the query's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB over the same tables, in the manner of
`tools/check_oracle.py`, and digests that result with `digest.py`.
Writes `expected.json` only when every query has an oracle and the two
digests agree. Run it again only when a query's intended output changes.
"""
import argparse
import json
import os
import shutil
import sys

import duckdb

import digest
import run


def spark_results(workload, seconds, cp, cores):
    run_dir = os.path.join(run.BUILD, "runs", f"pin-{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run.prepare_inputs(workload, 0, run_dir)
        result = run.launch(workload, 0, seconds, False, cp, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    seen = {}
    for op in result["ops"]:
        if op["status"] != "ok":
            raise SystemExit(f"{op['name']} failed: {op['status']} {op.get('error')}")
        seen.setdefault(op["name"], set()).add((op["rows"], op["digest"]))
    for name, outs in seen.items():
        if len(outs) != 1:
            raise SystemExit(f"{name}: executions disagree: {sorted(outs)}")
    return {name: outs.pop() for name, outs in seen.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    cp = run.build()
    cores = len(os.sched_getaffinity(0))
    oracle_path = os.path.join(run.BUILD, "oracle_sql.json")
    code = run.run_process([run.java_bin(), "-cp", cp, "perfbench.Harness", "--oracle-sql",
                            oracle_path], run.ROOT, 120, os.path.join(run.BUILD, "oracle.log"))
    if code != 0:
        raise SystemExit("could not dump the oracle SQL")
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(run.DATA, t)}'")
    pinned, bad = {}, []
    for workload, spec in sorted(run.WORKLOADS.items()):
        if spec["warmup"] == "caic":
            continue
        for name, (rows, dig) in sorted(spark_results(workload, a.seconds, cp, cores).items()):
            if name not in oracle:
                bad.append(f"{name}: no oracle SQL")
                continue
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            o_rows, o_dig = digest.digest(cols, cur.fetchall())
            status = "match" if (o_rows, o_dig) == (rows, dig) else "MISMATCH"
            print(f"{name:28s} spark {rows:6d} {dig}  duckdb {o_rows:6d} {o_dig}  {status}")
            if status != "match":
                bad.append(name)
            pinned[name] = {"rows": rows, "digest": dig}
    if bad:
        print("not pinned: " + ", ".join(bad))
        return 1
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"data": "data/sf0.01", "checked_against": "duckdb " + duckdb.__version__,
                   "queries": pinned}, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pinned)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
