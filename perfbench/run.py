#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. The first run builds the engine
and the harness from source (sbt, offline) into .bench_build/, and the
batch workload generates its input tables there once. Each run then starts
one JVM (perfbench.Main), which writes its result to a run directory under
.bench_build/runs/; this script turns that into the JSON line, printing
before it the output checks and the workload's own named metrics.

With --trace 0 the JSON carries the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A traced run also keeps its spans in
.bench_build/traces/ and reports tracing overhead as its own end-to-end
numbers minus those of the last untraced run of the same workload.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("stream", "batch_sql")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 165

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        default_opts = (f"-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={repos} " + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BENCH, env, log, BUILD_TIMEOUT_S)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_child(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group; on timeout, or when this script is
    terminated, kill the whole group. Always waits for the child to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)

    def stop(signum=None, frame=None):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        if signum is not None:
            sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        return -9
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; nothing to build")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark install with jars/")
    with open(spec_path) as f:
        spec = json.load(f)

    build()

    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--run-dir", run_dir, "--data-root", os.path.join(BUILD, "data"),
              "--expected", os.path.join(BENCH, "expected", "batch_sql.txt")])
    log_path = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log_path, "w") as log:
        code = run_child(cmd, ROOT, dict(os.environ), log, RUN_TIMEOUT_S)
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run failed (exit {code}); log in {log_path}")
    with open(result_path) as f:
        res = json.load(f)
    if code != 0:
        res["correct"] = False
        res["info"].append(f"JVM exited with code {code} after writing its result")
    spans = os.path.join(run_dir, "spans.json")
    if os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "traces",
                                        f"{a.workload}-s{a.seed}.spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    m = res["metrics"]
    e2e = spec["end_to_end"]
    per_layer = spec["per_layer"]
    for line in res["info"]:
        print(f"# {line}")
    units = {x["name"]: x["unit"] for x in per_layer}
    e2e_names = {x["name"] for x in e2e}
    for k, v in m.items():
        if k not in e2e_names:
            print(f"# {a.workload} {k} = {v} {units.get(k, '')}".rstrip())

    missing = [x["name"] for x in e2e if m.get(x["name"]) is None]
    if missing and res["correct"]:
        fail(f"end-to-end metrics not measured: {missing}")
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    last_untraced = os.path.join(results_dir, f"{a.workload}.json")
    out = {}
    if a.trace == 0:
        for x in e2e:
            # a metric a failed run could not measure reads 0, beside correct: false
            v = m.get(x["name"])
            out[x["name"]] = {"value": 0.0 if v is None else v, "unit": x["unit"]}
        with open(last_untraced, "w") as f:
            json.dump({k: m.get(k) for k in (x["name"] for x in e2e)}, f)
    else:
        base = {}
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
        else:
            print("# no untraced run of this workload yet: overhead reported as 0")
        for x in e2e:
            n = x["name"]
            if base.get(n) is not None and m.get(n) is not None:
                m[f"overhead.{n}"] = m[n] - base[n]
        na = []
        for x in per_layer:
            v = m.get(x["name"])
            if v is None:
                na.append(x["name"])
                v = 0.0
            out[x["name"]] = {"value": v, "unit": x["unit"]}
        if na:
            print(f"# not measured on {a.workload} (reported as 0): {' '.join(na)}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": out}))


if __name__ == "__main__":
    main()
