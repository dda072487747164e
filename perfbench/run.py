#!/usr/bin/env python3
"""Runs one benchmark workload against the program, built from source.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark with perfbench/build.py, runs the
workload in one JVM with Spark at local[nproc], and prints as its last
line one JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end ones with --trace 0, per-layer ones with
--trace 1). Traced runs also write their spans under .bench_build/work/traces/.
Exits non-zero, printing no result, when anything fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s once the program is built
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Per-layer metrics (names or name prefixes) of the parts of the program a
# workload does not run: a traced run reports them as 0. Every other
# per-layer metric must be measured.
NOT_RUN = {
    "index": ("command.", "ops."),
    "window": ("index.open_serving_s", "index.storage_mib", "index.term_stats_us",
               "search.local.", "search.serving_mib", "search.dist.", "search.batch.", "ops."),
    "clean": ("index.", "search.", "command."),
}


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(1)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        sp = spec()
    except (OSError, ValueError) as e:
        fail("cannot read BENCHMARK.json: %s" % e)
    if a.workload not in [w["name"] for w in sp["workloads"]]:
        fail("unknown workload %r" % a.workload)
    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build: %s" % e)

    t_start = time.time()
    base = os.path.join(build.BUILD, "work")
    work = os.path.join(base, "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(build.BUILD, "last-%s.log" % a.workload)
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xss4m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--nproc", str(nproc)]
    proc = None
    try:
        with open(log, "w") as errf:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=errf,
                                    env=env, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                fail("workload did not finish within %d s" % DEADLINE_S, log)
        if proc.returncode != 0:
            fail("benchmark exited with code %d" % proc.returncode, log)
        lines = out.decode(errors="replace").strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            fail("no result line", log)
        names = {m["name"]: m["unit"] for m in sp["per_layer" if a.trace else "end_to_end"]}
        if a.trace:
            for n, u in names.items():
                if n not in res["metrics"] and n.startswith(NOT_RUN.get(a.workload, ())):
                    res["metrics"][n] = {"value": 0.0, "unit": u}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != names:
            fail("metrics differ from BENCHMARK.json: missing %s, extra %s, units %s" % (
                sorted(set(names) - set(got)), sorted(set(got) - set(names)),
                sorted(k for k in names if k in got and got[k] != names[k])), log)
        if any(v["value"] is None for v in res["metrics"].values()):
            fail("a metric has no value", log)
        with open(log, errors="replace") as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        print(json.dumps(res))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
