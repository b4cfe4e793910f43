#!/usr/bin/env python3
"""Recompute the benchmark's stored oracle answers (perfbench/expected.json).

    python3 perfbench/expected.py

For every oracle-checked entry of every workload in perfbench/workloads.json,
DuckDB runs the entry's `SparkEntry.oracleSql` over the workload's tables in
perfbench/data, and the answer's row count, column names and value hash in
tools/check.py's canonical form are stored, keyed by a hash of the SQL. A run
compares its results with these; an entry whose SQL no longer matches its
stored key is checked live with tools/check.py instead.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402


def answer(sql, data_dir):
    import duckdb
    con = duckdb.connect()
    try:
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        exp = con.execute(sql).fetchdf()
    finally:
        con.close()
    return {"sql": run.sql_key(sql), "rows": len(exp), "cols": sorted(exp.columns),
            "hash": check.canon(exp)}


def main():
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    wanted = {}
    for w in workloads.values():
        for n in run.oracle_entries(w):
            wanted.setdefault(w["data"], set()).add(n)
    classes = build.build()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        dump = os.path.join(tmp, "oracle_sql.json")
        names = sorted(set().union(*wanted.values()))
        subprocess.run(run.java(classes, tmp, "--dump-oracles", dump, "--entries", ",".join(names)),
                       check=True, stdout=subprocess.DEVNULL)
        sqls = json.load(open(dump))
    lost = sorted(set().union(*wanted.values()) - set(sqls))
    if lost:
        sys.exit(f"expected: no SparkEntry.oracleSql for {', '.join(lost)}")
    expected = {data: {n: answer(sqls[n], os.path.join(HERE, "data", data))
                       for n in sorted(names)}
                for data, names in sorted(wanted.items())}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
