#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's
sources together with the harness in perfbench/ (sbt, offline, against the
Spark jars under $SPARK_HOME); later runs reuse the build until a source
file changes. Build outputs and run state go under .bench_build/ in the
checkout. The JVM prints its report on stdout; the last line is one JSON
object with the keys correct, attempted, failed and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("kv_lookup", "ingest_mixed", "analytics")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (the same list as the root build's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath")
    want = digest(sources())
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")
    print("perfbench: building", file=sys.stderr)
    p = subprocess.run([sbt, "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from a checkout of the repository")

    cp = build()
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(WORK, "scratch")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else shutil.which("java")
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = out.splitlines()
    last = lines[-1] if lines else ""
    body = lines[:-1]
    try:
        result = json.loads(last)
    except ValueError:
        sys.stdout.write(out)
        fail(f"the run printed no result (exit {proc.returncode})", proc.returncode or 5)
    want = declared_metrics(a.trace == 1)
    if want is not None and set(result["metrics"]) != want:
        sys.stdout.write("\n".join(body) + "\n")
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ want)}", 6)
    sys.stdout.write("\n".join(body + [last]) + "\n")
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
