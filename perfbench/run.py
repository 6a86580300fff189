#!/usr/bin/env python3
"""Benchmark command for graft: runs one workload in one JVM and prints its
figures.

    python3 perfbench/run.py --workload analyst-sql --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the harness
(graft's sources plus perfbench/harness) with sbt; later runs reuse the
build until a source file changes. Everything the run writes goes under
.bench_build/ in the checkout; its scratch directory is removed at the end.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones, with --trace 1
the per-layer ones (a separate, traced run). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Per workload: warm-up passes, and the nominal length of one timed pass
# in seconds (timed passes = --seconds / nominal, at least 1). Every run of
# a workload does the same work whatever the machine's speed; the sizes
# keep a run near 45 s on a 4-core machine, the cold first pass included.
PASSES = {"analyst-sql": (4, 5.0), "crawl-etl": (1, 10.0), "prep-pipelines": (2, 9.0)}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (Spark's launcher adds
# the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the harness compiles and runs with."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4 installation (its jars/ directory is the classpath)")
    return home


def source_stamp():
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src", "main"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group on timeout and waits for it. Returns the exit code."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    with open(path, "rb") as f:
        lines = f.read().decode("utf-8", "replace").splitlines()
    return "\n".join(lines[-n:])


def build():
    stamp_path = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    log = os.path.join(BUILD, "build.log")
    try:
        code = run_logged(["sbt", "-batch", "compile"], HARNESS, dict(os.environ), log, BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(os.path.join(CLASSES, "perfbench", "Main.class")):
        print(tail(log), file=sys.stderr)
        fail("build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)


def jvm(args, work, result_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(spark_home(), "jars", "*")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    warm, nominal = PASSES[args.workload]
    timed = max(1, round(args.seconds / nominal))
    cmd = [java, "-Xmx3g", "-Xms3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/tmp",
        "-cp", os.pathsep.join([CLASSES, spark_jars]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--warm-passes", str(warm), "--timed-passes", str(timed),
        "--trace", str(args.trace), "--root", ROOT, "--work", work, "--result", result_path,
    ]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    try:
        code = run_logged(cmd, work, env, log, JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {JVM_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(result_path):
        print(tail(log), file=sys.stderr)
        fail(f"run failed (exit {code}); see {log}")
    return log


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed part of the run, in nominal passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full-result", help="also write the run's whole result (both metric sets) here")
    ap.add_argument("--record", help="write observed query digests to this file instead of checking")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("run this from the root of a graft checkout (src/main/scala and BENCHMARK.json)")
    with open(spec_path) as f:
        spec = json.load(f)
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    spark_home()
    build()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_path = os.path.join(work, "result.json")
        jvm(args, work, result_path)
        with open(result_path) as f:
            res = json.load(f)
        if args.full_result:
            shutil.copy(result_path, args.full_result)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers, notes = res["end_to_end"], res["per_layer"], res["notes"]
    print(f"workload {args.workload}, seed {args.seed}: {res['attempted']} operations, "
          f"{res['failed']} failed; warm passes {res['warm_pass_s']}, timed passes {res['timed_pass_s']}")
    print(f"  error_rate = {e2e['error_rate']} (failed or wrong / attempted)")
    print(f"  query_tail_s is p{notes['tail_percentile']:.1f} of {int(notes['tail_samples'])} samples")
    print("  wall clock, host steal not removed: " +
          ", ".join(f"{k} = {v:.4f} s" for k, v in res["wall_clock"].items()))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {}
    for m in wanted:
        value = source.get(m["name"])
        if value is None:
            fail(f"the run did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']} = {value} {m['unit']}")
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
