#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (the sbt
project in this directory, which depends on the program's own build) into
the sbt target directories; later runs reuse it while the sources are
unchanged. Each run starts one JVM that makes its inputs from the tables in
perfbench/data and the seed, drives the program through its public entry
points, checks its outputs, and writes a result file; this script checks
the catalog results against their oracle SQL in DuckDB, prints every metric
by name and unit, then one JSON object as its last line. The exit code is 0
only when every output was correct. A traced run (--trace 1) also leaves its
spans in .bench_build/trace/<workload>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
BUILD = os.path.join(ROOT, ".bench_build")
WORKROOT = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 175
# The program's build and the sources the harness drives or reuses in place.
REQUIRED = [
    "build.sbt",
    "src/main/scala/graft/app/Engine.scala",
    "src/main/scala/graft/app/Intake.scala",
    "src/main/scala/graft/SparkEntry.scala",
    "src/test/scala/graft/source/BinlogWireSpec.scala",
    "src/test/scala/graft/streaming/KafkaWireSpec.scala",
]
# Per-layer metric prefixes each workload measures; the others do not apply
# to it and read 0.
MEASURES = {
    "cdc_backfill": ("source.", "cdc.", "streaming.", "engine.", "driver.", "sink.",
                     "pubsub.", "kafka.", "other.", "queries.", "trace.", "jvm."),
    "intake_stream": ("intake.", "plans.", "other.", "trace.", "jvm."),
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.exists(f):
            with open(f, "rb") as fh:
                h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness once per source state; returns (classpath, JVM options)."""
    stamp = source_stamp()
    out_file = os.path.join(BUILD, "build.json")
    if os.path.exists(out_file):
        with open(out_file) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"], b["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the same (offline) repositories as the main build
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's boot lock and JNA's scratch files would otherwise land in $HOME
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "-Dsbt.boot.lock=false", f"-Djna.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
           "perfbench/compile", "print perfbench/javaOptions",
           "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    # `print` lists a sequence one element per line, each after "* "
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    if rc != 0 or not cps or not opts:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed (log above)", 3)
    b = {"stamp": stamp, "classpath": cps[-1].strip(), "java_options": opts}
    with open(out_file, "w") as f:
        json.dump(b, f)
    return b["classpath"], b["java_options"]


def run_jvm(cp, java_opts, args, work, seconds_left):
    """One harness JVM; returns its result dict, or None with the log tail."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    result = os.path.join(work, "result.json")
    # the program's own JVM options, with a heap sized for a shared machine
    opts = [o for o in java_opts if not o.startswith("-Xmx")]
    cmd = (["java", "-Xmx6g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"] + opts +
           ["-cp", cp, "graftbench.Main", "--data", DATA, "--work", work, "--out", result] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_CONF", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(5, seconds_left))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if os.path.exists(result):
        with open(result) as f:
            return json.load(f), None
    with open(log, errors="replace") as f:
        return None, f.read()[-4000:]


def check_catalog(work):
    """Compare each catalog result with its oracle SQL run in DuckDB on the
    same tables: same columns, same rows (as multisets, values exact).
    Returns one message per wrong query."""
    import duckdb
    out = os.path.join(work, "catalog")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": os.path.join(work, "tmp")})
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(DATA, f)}'")
    bad = []
    for name, sql in oracle.items():
        sql = sql.strip().rstrip(";")
        got = f"read_parquet('{os.path.join(out, name)}/*.parquet')"
        try:
            cols = sorted(con.sql(sql).columns)
            got_cols = sorted(con.sql(f"SELECT * FROM {got}").columns)
            if cols != got_cols:
                bad.append(f"{name}: columns {got_cols}, oracle {cols}")
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            n_exp, n_got, only_exp, only_got = con.sql(
                f"WITH e AS ({sql}), g AS (SELECT {sel} FROM {got}) SELECT "
                f"(SELECT count(*) FROM e), (SELECT count(*) FROM g), "
                f"(SELECT count(*) FROM (SELECT {sel} FROM e EXCEPT ALL SELECT {sel} FROM g)), "
                f"(SELECT count(*) FROM (SELECT {sel} FROM g EXCEPT ALL SELECT {sel} FROM e))"
            ).fetchone()
            if n_exp != n_got or only_exp or only_got:
                bad.append(f"{name}: {n_got} rows, oracle {n_exp}; {only_got} not in the "
                           f"oracle, {only_exp} of the oracle's missing")
        except Exception as e:  # a result or oracle that cannot be read is wrong
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t_start = time.time()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"program sources not found next to the benchmark: {', '.join(missing)}")
    if not os.path.isdir(DATA):
        die(f"input tables not found: {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if a.workload not in names or a.workload not in MEASURES:
        die(f"unknown workload {a.workload!r}; known: {sorted(names)}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp, java_opts = build()
    work = os.path.join(WORKROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]
        res, log = run_jvm(cp, java_opts, jargs, work, DEADLINE_S - (time.time() - t_start))
        if res is None:
            sys.stderr.write(log or "")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        failures = list(res["failures"])
        failed = res["failed"]
        attempted = res["attempted"]
        if os.path.exists(os.path.join(work, "catalog", "oracle_sql.json")) and not failures:
            wrong = check_catalog(work)
            failed += len(wrong)
            failures += [f"wrong result: {w}" for w in wrong]
        metrics = dict(res["metrics"])
        metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
        if a.trace:  # the end-to-end numbers under tracing, for its overhead
            for m in ("items_per_s", "p50_ms"):
                if m in metrics:
                    metrics[f"trace.{m}"] = metrics[m]
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, "trace", f"{a.workload}.jsonl"))
        for line in res["lines"]:
            print(line)
        for m in ("jvm.rss_peak_mb", "setup_s"):
            print(f"{m:<34} {metrics[m]['value']:14.4f} {metrics[m]['unit']}")
        print(f"{'error_rate':<34} {failed / max(1, attempted):14.6f} failed/attempted "
              f"({failed}/{attempted})")
        out, absent, na = {}, [], []
        for m in wanted:
            v = metrics.get(m["name"])
            if v is not None and v["value"] is not None:
                out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
            elif a.trace and not m["name"].startswith(MEASURES[a.workload]):
                out[m["name"]] = {"value": 0.0, "unit": m["unit"]}
                na.append(m["name"])
            else:
                absent.append(m["name"])
        if a.trace:
            for name, v in out.items():
                if name not in na:
                    print(f"{name:<44} {v['value']:16.4f} {v['unit']}")
            print(f"not measured on {a.workload} (reported as 0): {len(na)} metrics")
        failures += [f"metric {m} was not measured" for m in absent]
        if absent:
            failed = max(failed, 1)
        for fl in failures[:30]:
            print(f"FAILED {fl}")
        correct = failed == 0 and not failures
        print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                          "failed": failed if failed or correct else 1, "metrics": out}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORKROOT)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
