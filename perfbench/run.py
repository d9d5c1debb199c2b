#!/usr/bin/env python3
"""Benchmark of the export CLI and the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
the checkout's sources (sbt, offline) and writes the catalog tables;
later runs reuse both. Each run starts one JVM for one workload, so no
state carries over between workloads. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end set of BENCHMARK.json, with
--trace 1 the per-layer set. The line before it names every metric
with its unit, the error rate and the host canary.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, ".data")
CATALOG_SCALE = "0.01"
WORKLOADS = ("export", "catalog")
JVM_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_hash():
    """Hash of everything the build compiles, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in (os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program and harness with sbt; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temporary files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + "\nbuild failed, see " + os.path.join(BUILD, "sbt.log") + "\n")
        sys.exit(1)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def java(cp, work, args, log_name):
    """Runs perfbench.Main in a fresh JVM; the launch time is passed in so
    set-up time counts from process start."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Dderby.system.durability=test",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--work", work, "--launched-ms", str(int(time.time() * 1000))] + args)
    # the program reads SPARK_GRAFT_* dials and Spark honours
    # SPARK_LOCAL_DIRS; neither may leak in from the caller
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(os.path.join(work, log_name), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write(f"JVM killed after {JVM_TIMEOUT_S} s, see {log.name}\n")
            sys.exit(1)
    if rc != 0:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"JVM exited with {rc}\n")
        sys.exit(1)


def catalog_data(cp, scale):
    """Writes the fixed catalog tables of one scale once per checkout."""
    data = os.path.join(DATA, "sf" + scale)
    done = os.path.join(data, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        work = os.path.join(WORK, "gen")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        java(cp, work, ["--gen-data", data, "--scale", scale], "gen.log")
        open(done, "w").close()
    return data


def oracle_check(work, data):
    """DuckDB oracle compare of the checked query results (tools/check.py,
    read-only). Returns the failed query lines."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                        os.path.join(work, "verify"), "--only-present"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=20)
    with open(os.path.join(work, "check.log"), "w") as f:
        f.write(r.stdout)
    fails = [l for l in r.stdout.splitlines() if re.match(r"(FAIL|TYPEFAIL) ", l)]
    passes = [l for l in r.stdout.splitlines() if l.startswith("PASS ")]
    return fails, passes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("no program sources next to the benchmark (src/main/scala/graft)\n")
        sys.exit(2)
    units = {m["name"]: m["unit"] for m in spec()["per_layer" if a.trace else "end_to_end"]}

    cp = build()
    catalog = a.workload == "catalog"
    data = catalog_data(cp, CATALOG_SCALE) if catalog else ""
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java(cp, work, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--data", data], "jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    failures = list(res["failures"])
    attempted, failed = int(res["attempted"]), len(failures)
    if catalog:
        fails, passes = oracle_check(work, data)
        queries = res["info"]["queries"].split(",")
        checked = {l.split()[1].rstrip(":") for l in fails + passes}
        failures += [f"oracle {l}" for l in fails]
        failures += [f"oracle: {q} not checked" for q in queries if q not in checked]
        attempted += len(queries)
        failed = len(failures)

    values = res["layers"] if a.trace else res["metrics"]
    metrics = {k: {"value": values.get(k), "unit": u} for k, u in units.items()}
    missing = [k for k, m in metrics.items() if not isinstance(m["value"], (int, float))]
    for f in failures:
        print(f"FAILED {f}")
    info = res["info"]
    shown = " ".join(f"{k}={m['value']} {m['unit']}" for k, m in metrics.items())
    extra = {k: v for k, v in info.items() if k != "queries"}
    print(f"{a.workload} seed={a.seed}: {shown} error_rate={failed / max(1, attempted)} "
          f"(failed {failed} of {attempted}) {json.dumps(extra)}")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
