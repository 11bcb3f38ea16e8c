"""CDC epoch benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from the checkout's sources (sbt, into perfbench/target) and
builds the seed-independent base data set (perfbench/.cache); later runs
reuse both. Each run then starts the benchmark JVM, stages the seeded inputs
beside its start-up, and prints one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A failed correctness check
makes "correct" false. The JVM's log and the full result of the last run of
each workload stay in perfbench/.out.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(1)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def classpath():
    """The benchmark JVM's runtime classpath, rebuilt when any source is newer."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft: run from a checkout root")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
             "-Dsbt.color=false", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l and "[" not in l]
    if rc != 0 or not lines:
        fail("build failed, see %s" % log)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(cp, args, work, log):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, work, str(args.seconds), str(args.trace)]
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    t_start = time.monotonic()
    work = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "%s.log" % args.workload)
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = run_jvm(cp, args, work, log)
            gen.generate(args.workload, args.seed, work, CACHE)
            left = RUN_LIMIT_S - (time.monotonic() - t_start)
            try:
                rc = proc.wait(timeout=max(left, 1))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("benchmark JVM %s" % ("timed out" if rc is None else "exited with %d" % rc))
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(OUT, "%s-trace%d.json" % (args.workload, args.trace)), "w") as f:
        json.dump(result, f)
    attempted, failed = metrics.attempts(result)
    correct = all(c["ok"] for c in result["checks"])
    for c in result["checks"]:
        if not c["ok"]:
            print("check %s failed: %s" % (c["name"], c["detail"]))
    if args.trace:
        values = metrics.per_layer(result)
        out = {k: {"value": values[k], "unit": metrics.per_layer_unit(k)}
               for k in metrics.per_layer_names()}
    else:
        values, info = metrics.end_to_end(result)
        for k in ("epoch_tail_s", "report_tail_s"):
            v, q, beyond = info[k]
            print("%s is p%d (%d samples beyond it)" % (k, q, beyond))
        print("%d measured epochs, %d report passes" % (info["epochs"], info["report_passes"]))
        out = {k: {"value": values[k], "unit": u} for k, u in metrics.END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
