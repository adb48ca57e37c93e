#!/usr/bin/env python3
"""Layered benchmark of graft: gold reads, daily lake ingest, LLM curation.

    python3 lakebench/run.py --workload gold_read --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds the graft
sources together with the benchmark (sbt, offline) into .bench_build/;
later runs reuse that build while the sources are unchanged. One JVM runs
the named workload closed-loop on local[4], checks its outputs, and writes
a raw run record; this script turns the record into metrics and prints
them as the last line of stdout. The exit code is non-zero when an output
check fails or the run cannot complete.
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
BUILD = os.path.join(ROOT, ".bench_build", "lakebench")
WORKLOADS = ("gold_read", "daily_ingest", "curation")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

sys.path.insert(0, HERE)
import metrics  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under %s/src/main/scala" % ROOT)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            same, cp = fh.read().strip() == stamp, cf.read().strip()
        # the classes live under lakebench/target, which can vanish apart
        # from the stamp
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                                  stderr=fh, timeout=BUILD_TIMEOUT_S,
                                  stdin=subprocess.DEVNULL)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail("build failed: %s" % e)
    lines = [ln.strip() for ln in proc.stdout.decode().splitlines()
             if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (exit %d), see %s" % (proc.returncode, log))
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args):
    """Run one workload in a fresh JVM; return the raw run record."""
    work = os.path.join(ROOT, ".bench_build", "runs",
                        "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "run.json")
    java = "java"
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
           "-Djava.io.tmpdir=" + work] + opens + [
        "-cp", cp, "lakebench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--work", work]
    log_path = os.path.join(ROOT, ".bench_build", "lakebench",
                            "last-%s.log" % args.workload)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("workload did not finish within %d s" % JVM_TIMEOUT_S, 3)
    try:
        with open(out) as fh:
            record = json.load(fh)
    except (OSError, ValueError):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail("workload exited %d without a run record" % code, 3)
    shutil.copy(out, os.path.join(BUILD, "last-%s.json" % args.workload))
    shutil.rmtree(work, ignore_errors=True)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    cp = build()
    record = run_jvm(cp, args)
    values, detail = metrics.end_to_end(record)
    attempted, failed = metrics.error_counts(
        len(record["op_ms"]), record["failed_ops"], record["checks"])
    bad = [c for c in record["checks"] if not c["ok"]]
    correct = not bad and record["failed_ops"] == 0 and len(record["op_ms"]) > 0
    if args.trace:
        chosen = metrics.per_layer(record)
        units = metrics.PER_LAYER_UNITS
    else:
        chosen = values
        units = metrics.E2E_UNITS
    # detail line: sample counts, tail percentile, workload-named metrics,
    # input sizes and every check
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "detail": detail,
                      "op_ms": record["op_ms"],
                      "phase_s": {k: record[k] for k in (
                          "session_s", "generate_s", "load_s", "warmup_s",
                          "setup_s", "measure_s", "checks_s")},
                      "inputs": record["inputs"],
                      "checks": record["checks"],
                      "errors": record["errors"],
                      "wall_s": round(time.time() - started, 3)}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]}
                    for k in units}}))
    for c in bad:
        print("lakebench: check failed: %s: %s" % (c["name"], c["detail"]),
              file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
