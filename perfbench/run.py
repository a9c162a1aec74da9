#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) through the
harness's own sbt build; later runs reuse the build while no source
changes. Build output, generated tables, logs and run directories live
under .bench_build/. The run prints every metric as `name value unit`
and, as its last line, one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. A run whose outputs fail
a check prints correct=false and exits 1; a run that cannot build or
crashes exits non-zero without a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest_passthrough", "ingest_curate", "index_maintain",
             "query_mix"]
TABLE_WORKLOADS = {"index_maintain", "query_mix"}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in d for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution of the first spark-submit on the PATH that
    sits in one (a distribution has a jars/ directory)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    return None


def build():
    """Compile engine + harness; return the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: no engine sources at {engine}; "
                 "run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        home = spark_home()
        if home:
            env["SPARK_HOME"] = home
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log("building engine + harness (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def tables():
    """The seeded sf0.1 tables, generated once per checkout."""
    sys.path.insert(0, HERE)
    import datagen
    data = os.path.join(BUILD, f"data-v{datagen.VERSION}")
    digest_file = os.path.join(data, "digest.txt")
    if not os.path.exists(digest_file):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        digest = datagen.generate(tmp)
        with open(os.path.join(tmp, "digest.txt"), "w") as f:
            f.write(digest)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(digest_file) as f:
        return data, f.read()


def check_queries(run_dir, data, digest):
    """query_mix: each warm-up result must hash equal to its DuckDB oracle."""
    import oracle
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(data, os.path.join(run_dir, "tmp"))
    want = oracle.expected_hashes(con, data, digest, sql)
    problems = []
    for q in sql:
        res = os.path.join(run_dir, "results", q)
        if not os.path.isdir(res):
            problems.append(f"{q}: no result")
        elif oracle.result_hash(con, res) != want[q]:
            problems.append(f"{q}: result hash differs from the DuckDB oracle")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    cp = build()
    data, digest = tables() if a.workload in TABLE_WORKLOADS else ("", "")

    run_dir = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-trace{a.trace}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir, "--data", data,
            "--spans", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        with open(log_path, "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        result_path = os.path.join(run_dir, "result.json")
        if r.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(f"perfbench: the run crashed (exit {r.returncode}; log {log_path})")
        with open(result_path) as f:
            res = json.load(f)
        if a.workload == "query_mix":
            bad = check_queries(run_dir, data, digest)
            res["failed"] += len(bad)
            res["problems"] += bad
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(run_dir):
        res["problems"].append(f"run directory {run_dir} could not be removed")

    for name, got in res["metrics"].items():
        print(f"{name} {got['value']} {got['unit']}")
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            res["problems"].append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for p in res["problems"]:
        log(f"FAIL {p}")
    correct = not res["problems"]
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"] + (0 if correct or res["failed"] else 1),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
