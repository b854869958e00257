#!/usr/bin/env python3
"""The repository's benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run starts one JVM
(`graft.perfbench.Main`) on 4 local cores, then checks its outputs and
prints, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, and the run also writes
.bench_build/trace/<workload>-seed<n>.json (per-layer metrics, validity
notes, and the tracing overhead against the last untraced run of the same
workload and seed).

    python3 perfbench/run.py --record-digests

runs query_mix once, compares every output with its DuckDB oracle
(SparkEntry.oracleSql) over perfbench/data/sf0.1, and on a full match
records the outputs' digests in perfbench/digests.json, which later runs
compare against.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.json")
CORES = "4"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read()


def run_jvm(classpath, workload, seed, seconds, trace, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            "-cp", classpath, "graft.perfbench.Main",
            workload, str(seed), str(seconds), str(trace), DATA, work, result]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = CORES
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(BUILD, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"run failed with code {rc} (log: {log_path})")
    with open(result) as f:
        return json.load(f)


def output_digest(con, path):
    """Order- and partition-independent digest of one parquet output:
    columns by name, each row rendered by DuckDB, rows sorted."""
    src = f"read_parquet('{path}/*.parquet')"
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    sel = ", ".join(f'"{c}"' for c in cols)
    rows = con.execute(
        f"SELECT CAST(t AS VARCHAR) AS r FROM (SELECT {sel} FROM {src}) t ORDER BY r").fetchall()
    h = hashlib.sha256()
    for (r,) in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def check_digests(res, work):
    import duckdb
    with open(DIGESTS) as f:
        want = json.load(f)
    con = duckdb.connect()
    out = os.path.join(work, "out")
    for q, d in sorted(want.items()):
        res["attempted"] += 1
        try:
            got = output_digest(con, os.path.join(out, q))
        except Exception as e:  # noqa: BLE001 - any read failure is a failed check
            got = f"error: {e}"
        if got != d:
            res["failed"] += 1
            res["correct"] = False
            res["notes"].setdefault("check_failures", []).append(
                f"{q}: output digest {got} != recorded {d}")


def oracle_compare(work):
    """Cell-by-cell comparison of each query output with its DuckDB
    oracle (the same rule as the repository's oracle gate)."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in os.listdir(DATA):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{DATA}/{t}'")

    def canon(df):
        df = df[sorted(df.columns)]
        if len(df):
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        return df.reset_index(drop=True)

    def eq(a, b):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        try:
            import pandas as pd
            if pd.isna(a) and pd.isna(b):
                return True
        except (TypeError, ValueError):
            pass
        return a == b

    bad = []
    for q, sql in sorted(oracles.items()):
        got = canon(con.sql(f"SELECT * FROM '{work}/out/{q}/*.parquet'").df())
        exp = canon(con.sql(sql).df())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) or any(
                not eq(g, w) for c in got.columns
                for g, w in zip(got[c].tolist(), exp[c].tolist())):
            bad.append(q)
        print(f"{'OK  ' if q not in bad else 'FAIL'} {q}: {len(got)} rows", file=sys.stderr)
    return bad


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources (src/main/scala/graft) under the current directory; "
            "run from the repository root")
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    if a.record_digests:
        a.workload, a.trace = "query_mix", 0
    if a.workload not in workloads:
        die(f"--workload must be one of {workloads}")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, a.workload, a.seed, seconds, a.trace, work)
        res.setdefault("notes", {})
        if res["notes"].get("check_failures"):
            res["notes"]["check_failures"] = list(res["notes"]["check_failures"])
        if a.workload == "query_mix":
            if a.record_digests:
                bad = oracle_compare(work)
                if bad:
                    die(f"outputs differ from the DuckDB oracle: {bad}; digests not recorded")
                con = __import__("duckdb").connect()
                digests = {q: output_digest(con, os.path.join(work, "out", q))
                           for q in sorted(os.listdir(os.path.join(work, "out")))}
                with open(DIGESTS, "w") as f:
                    json.dump(digests, f, indent=1, sort_keys=True)
                    f.write("\n")
                print(f"perfbench: recorded {len(digests)} digests", file=sys.stderr)
                return
            check_digests(res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    notes = res["notes"]
    for f in notes.get("check_failures", []):
        print(f"perfbench: CHECK FAILED {f}", file=sys.stderr)
    if "gen_late_ms_max" in notes:
        flag = " OVER SUSTAINABLE RATE" if notes.get("over_rate") else ""
        print(f"perfbench: gen late max {notes['gen_late_ms_max']:.0f} ms, paced backlog "
              f"slope {notes['backlog_slope_slices_per_s']:.2f} slices/s, max "
              f"{notes['backlog_max_slices']:.0f} slices, end "
              f"{notes['backlog_end_slices']:.0f} slices{flag}")

    names = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    source = res["metrics"] if a.trace == 0 else res["layers"]
    # a layer this workload never calls reports 0 (nothing measured there)
    metrics = {m["name"]: {"value": source.get(m["name"], {}).get("value", 0.0),
                           "unit": m["unit"]} for m in names}

    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    key = f"{a.workload}-seed{a.seed}"
    with open(os.path.join(results_dir, f"{key}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    if a.trace == 1:
        trace = {"workload": a.workload, "seed": a.seed, "seconds": seconds,
                 "per_layer": metrics, "notes": notes,
                 "traced_end_to_end": res["metrics"]}
        untraced = os.path.join(results_dir, f"{key}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            trace["tracing_overhead"] = {
                k: {"traced_minus_untraced": v["value"] - base[k]["value"], "unit": v["unit"]}
                for k, v in res["metrics"].items() if k in base}
        else:
            trace["tracing_overhead"] = "no untraced run of this workload and seed yet"
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        trace_path = os.path.join(BUILD, "trace", f"{key}.json")
        with open(trace_path, "w") as f:
            json.dump(trace, f, indent=1)
        print(f"perfbench: trace written to {os.path.relpath(trace_path, ROOT)}")

    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
