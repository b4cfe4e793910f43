#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of a named workload.

    python3 perfbench/run.py --workload <interactive|graph|selftest>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.py), runs the harness
(perfbench/src/GraftBench.scala) in one JVM on local[nproc] over the
workload's tables in perfbench/data, with the entries in an order drawn
from --seed, checks every result (oracle entries with tools/check.py's
DuckDB compare), and prints one metric per line and, last, one JSON
object. With --trace 0 the JSON carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics, and the run's spans are kept
in .perfbench/traces/<workload>-seed<n>.json for perfbench/compare.py.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DEADLINE_S = 170      # the whole run, build excluded
CHECK_RESERVE_S = 25  # kept back from the JVM for result checks
WARMUP_PASSES = 2     # untimed passes in set-up before the leak baseline
# Untraced runs time at least this many passes, even past --seconds. The
# tail has ten executions beyond it; graph pays its copurchase_pairs build
# once per pass, so with 11 or more passes those ten are always builds and
# the tail does not flip between a build and an ordinary entry across runs.
MIN_PASSES = 11
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    sys.stderr.write(f"graftbench: {msg}\n")
    sys.exit(code)


def metric_spec():
    """(name, unit) of the end-to-end and per-layer metrics in BENCHMARK.json."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def workload_hash(entries):
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]


def check_results(doc, data_dir, out_dir, rows_only, expected):
    """Return {entry: reason} for every entry whose checked result is wrong.

    An oracle entry is compared with its stored DuckDB answer in `expected`
    (perfbench/expected.json) on row count, column names and the value hash
    of tools/check.py's canonical form; one whose SQL has changed since is
    compared live by tools/check.py."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = {}
    for name, err in doc["check"].items():
        if err:
            bad[name] = f"threw: {err}"
            continue
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        got = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas() if files else None
        exp = expected.get(name)
        if name in rows_only:
            if got is None or len(got) == 0:
                bad[name] = "empty result"
            elif rows_only[name] and list(got.columns) != rows_only[name]:
                bad[name] = f"columns {list(got.columns)} vs registered {rows_only[name]}"
        elif exp is None or exp["sql"] != sql_key(sqls[name]):
            print(f"oracle {name}: no stored answer for this SQL, compared live "
                  f"(python3 perfbench/expected.py stores it)")
            said = io.StringIO()
            with contextlib.redirect_stdout(said):
                rc = check.check_one(data_dir, out_dir, name)
            if rc != 0:
                bad[name] = " | ".join(said.getvalue().strip().splitlines())
        elif got is None:
            bad[name] = "no result written"
        elif len(got) != exp["rows"]:
            bad[name] = f"rows {len(got)} vs oracle {exp['rows']}"
        elif sorted(got.columns) != exp["cols"]:
            bad[name] = f"columns {sorted(got.columns)} vs oracle {exp['cols']}"
        elif check.canon(got) != exp["hash"]:
            bad[name] = "value hash differs from oracle"
    return bad


def tail(values):
    """The highest percentile of `values` with at least ten samples beyond
    it (nearest rank N - 10). Returns (value, percentile, n_beyond)."""
    xs = sorted(values)
    rank = max(1, len(xs) - 10)
    return xs[rank - 1], 100.0 * rank / len(xs), len(xs) - rank


def java(classes, tmp_dir, *args):
    # C1 only: Spark's planner keeps C2 compiling for 20+ passes (40 s and
    # more), so a run's window would sit on that curve and move with it; C1
    # gets near its plateau within two passes. C1-only mode would shrink the
    # code cache to 48 MB, which fills in about 45 s and then flushes and
    # recompiles; 240 MB is the size tiered compilation has.
    return (["java"] + ADD_OPENS + [
        "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
        f"-Djava.io.tmpdir={tmp_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graftbench.GraftBench"] + list(args))


def oracle_entries(w):
    """The workload's entries checked against DuckDB: all but the rows-only ones."""
    return [n for n in w["entries"] if n not in w["rows_only"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("engine sources not found next to perfbench/ (src/main/scala/graft)")
    end_to_end, per_layer = metric_spec()
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    data = os.path.join(HERE, "data", w["data"])

    classes = build.build()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(out_dir)
    os.makedirs(tmp_dir)
    try:
        t_start = time.time()
        cpus = os.cpu_count() or 4
        cmd = java(classes, tmp_dir,
                   "--entries", ",".join(w["entries"]), "--oracle", ",".join(oracle_entries(w)),
                   "--dir", data, "--out", out_dir,
                   "--seconds", str(a.seconds), "--seed", str(a.seed),
                   "--trace", str(a.trace), "--cpus", str(cpus),
                   "--warmups", str(WARMUP_PASSES),
                   "--min-passes", str(4 if a.trace else MIN_PASSES))
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=DEADLINE_S - CHECK_RESERVE_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                if p.poll() is None:  # timed out, or interrupted
                    p.kill()
                    p.wait()
        if rc != 0:
            lines = open(os.path.join(run_dir, "jvm.log")).read().splitlines()
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail("harness timed out" if rc is None else f"harness exited {rc}", 3)
        doc = json.load(open(os.path.join(out_dir, "harness.json")))
        expected = json.load(open(os.path.join(HERE, "expected.json"))).get(w["data"], {})
        bad = check_results(doc, data, out_dir, w["rows_only"], expected)
        report(a, w, doc, bad, cpus, end_to_end, per_layer)
        sys.stderr.write(f"graftbench: run took {time.time() - t_start:.1f} s after the build\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, w, doc, bad, cpus, end_to_end, per_layer):
    entries = w["entries"]
    print(f"graftbench workload={a.workload} entries={len(entries)} "
          f"entry_hash={workload_hash(entries)} seed={a.seed} cores={cpus} "
          f"data={w['data']} trace={a.trace}")
    for name in sorted(doc["warmup_errors"]):
        print(f"warm-up error {name}: {doc['warmup_errors'][name]}")

    passes = doc["passes"]
    execs = [x for p in passes for x in p["execs"]]
    attempted = len(execs) + len(doc["check"])
    timed_fails, reasons = {}, dict(bad)
    for n, _, err in execs:
        if err or n in bad:
            timed_fails[n] = timed_fails.get(n, 0) + 1
            reasons.setdefault(n, err)
    failed = sum(timed_fails.values()) + len(bad)
    for n in sorted(reasons):
        print(f"failed {n}: {timed_fails.get(n, 0)} timed + {int(n in bad)} check "
              f"executions; {reasons[n]}")
    # every untraced timed pass counts: medians over the whole measured
    # window, so a burst of host load shorter than half of it does not move them
    plain = [p for p in passes if not p["traced"]]
    pool = [ms for p in plain for n, ms, err in p["execs"] if not err and n not in bad]
    if not pool:
        fail("no successful timed execution", 4)
    pass_s = statistics.median(p["wall_s"] for p in plain)
    tail_ms, tail_pct, beyond = tail(pool)
    metrics = {
        "setup_s": doc["setup_s"],
        "pass_s": pass_s,
        "query_p50_ms": statistics.median(pool),
        "query_tail_ms": tail_ms,
        "retained_heap_mb": doc["retained_heap_mb"],
    }
    units = dict(end_to_end + per_layer)
    notes = {
        "setup_s": f"JVM start to the first timed query, with {WARMUP_PASSES + 1} "
                   f"untimed passes",
        "pass_s": f"median of {len(plain)} timed passes "
                  f"{[round(p['wall_s'], 3) for p in plain]}",
        "query_p50_ms": f"{len(pool)} successful timed executions",
        "query_tail_ms": f"p{tail_pct:.3g} of {len(pool)} executions, {beyond} beyond it",
    }
    if not a.trace:  # a traced run has too few untraced passes to report them
        for name, _ in end_to_end:
            print(f"metric {name} = {metrics[name]:.6g} {units[name]}  {notes.get(name, '')}")
    print(f"metric failed_ratio = {failed / attempted:.6g} ratio  "
          f"{failed} of {attempted} executions")
    print(f"metric leaked_rdds = {doc['leaked_rdds']} count  "
          f"persisted after the last pass and Caches.clear(), "
          f"minus {doc['baseline_rdds']} after the warm-up passes")

    if a.trace:
        traced = [p for p in passes if p["traced"]]
        layers = {n: statistics.median(p["layers"][n] for p in traced)
                  for n in traced[0]["layers"]}
        traced_s = statistics.median(p["wall_s"] for p in traced)
        layers["caches.leaked_rdds"] = doc["leaked_rdds"]
        layers["trace.overhead_ms"] = (traced_s - pass_s) * 1000.0
        print(f"trace pass_s untraced={pass_s:.6g} s traced={traced_s:.6g} s "
              f"overhead={layers['trace.overhead_ms']:.6g} ms "
              f"over {len(traced)} traced passes")
        for name, unit in per_layer:
            print(f"layer {name} = {layers[name]:.6g} {unit}")
        names = sorted({k for p in traced for k in p["self_ms"]})
        self_ms = {k: statistics.median(p["self_ms"].get(k, 0.0) for p in traced)
                   for k in names}
        print("self_ms " + " ".join(f"{k}={v:.6g}" for k, v in self_ms.items()))
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "entry_hash": workload_hash(entries),
                       "end_to_end": metrics, "layers": layers, "self_ms": self_ms,
                       "passes": [{k: p[k] for k in ("pass", "wall_s", "layers", "self_ms")}
                                  for p in traced],
                       "spans": doc["spans"], "jobs": doc["jobs"]}, f)
        result = {n: {"value": layers[n], "unit": u} for n, u in per_layer}
    else:
        result = {n: {"value": metrics[n], "unit": u} for n, u in end_to_end}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
