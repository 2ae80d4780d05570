#!/usr/bin/env python3
"""Repository benchmark: builds graft and the benchmark's Scala sources from
this checkout, runs one workload in a fresh JVM on local[nproc], and prints
the result as the last line of standard output.

    python3 bench/run.py --workload sales_landing --seed 1 --seconds 20 --trace 0

Workloads: sales_landing, rag_serve (see bench/METRICS.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Run it from the repository root. Build output goes to .bench_build/, and
each run works in a private directory under .bench_work/ that is removed
when it ends.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
# A run must end within 180 s. On 4 quiet cores the longest, a traced
# sales_landing run with its curation round, takes about 80 s, so this
# leaves room for runs slowed about 2x by CPU steal.
RUN_TIMEOUT_S = 175
# processes to stop if we are told to stop
CHILDREN = []
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources at {main}; run from the repository root")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """The Spark jar directory the build uses (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    jars = m.group(1) if m else os.path.join(
        os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars: set unmanagedBase in build.sbt or SPARK_HOME")
    return jars


def build(jars):
    """Compile src/main and bench/src with the Scala compiler Spark ships;
    reuse an earlier build of the same sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    scalac = subprocess.Popen(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
        stdout=sys.stderr)
    CHILDREN.append(scalac)
    rc = scalac.wait()
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compile failed (exit {rc})")
    os.replace(tmp, out)
    print(f"bench: built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def cpu_ticks():
    """(busy, steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    idle = f[3] + f[4]
    steal = f[7] if len(f) > 7 else 0
    return sum(f) - idle, steal, sum(f)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sales_landing", "rag_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    work = None

    def stop(*_):
        for p in CHILDREN:
            if p.poll() is None:
                p.kill()
                p.wait()
        if work:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    sources()
    jars = spark_jars()
    classes = build(jars)
    want = expected_metrics(a.trace)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "bench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cpus", str(cpus)]
    log_path = os.path.join(work, "jvm.log")
    proc = None
    result = None
    t0, ticks0 = time.time(), cpu_ticks()
    try:
        with open(log_path, "w") as log:
            # the JVM exits when its stdin closes, so it cannot outlive us
            proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                    stdout=subprocess.PIPE, stderr=log,
                                    text=True)
            CHILDREN.append(proc)
            timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
            timer.daemon = True
            timer.start()
            out = proc.stdout.read()
            proc.wait()
            timer.cancel()
            proc.stdin.close()
            if proc.returncode < 0:
                print("bench: run timed out", file=sys.stderr)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        ticks1 = cpu_ticks()
        if ticks0 and ticks1:
            busy, steal, total = (b - a for a, b in zip(ticks0, ticks1))
            print(json.dumps({"host": {
                "run_wall_s": round(time.time() - t0, 2),
                "cpu_busy_share": round(busy / max(total, 1), 4),
                "cpu_steal_share": round(steal / max(total, 1), 4)}}))
        if proc.returncode == 0 and lines:
            result = json.loads(lines[-1])
            keys = set(result)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if keys != {"correct", "attempted", "failed", "metrics"}:
                print(f"bench: bad result keys {sorted(keys)}", file=sys.stderr)
                result = None
            elif got != want:
                print(f"bench: metrics {sorted(got)} != {sorted(want)}",
                      file=sys.stderr)
                result = None
            elif not all(isinstance(v["value"], (int, float))
                         for v in result["metrics"].values()):
                print("bench: a metric has no value", file=sys.stderr)
                result = None
        if result is None:
            with open(log_path) as fh:
                tail = fh.read().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass
    if result is None:
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
