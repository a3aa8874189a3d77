#!/usr/bin/env python3
"""Transit benchmark entry point.

    python3 transitbench/run.py --workload feed_live --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source (plain scalac against the
Spark jars, output under transitbench/target/), runs one workload in a JVM,
and prints that JVM's JSON result as the last line of standard output.

    --workload all      runs the three workloads one after another and ends
                        with one line holding every metric under its own name
    --selftest          runs the harness's own tests instead of a workload
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
JAR = os.path.join(TARGET, "transitbench.jar")
# Class-data-sharing archive recorded at build time: it halves JVM + Spark
# start-up on a 4-core box (about 18 s to 8.5 s to the first job).
CDS = os.path.join(TARGET, "transitbench.jsa")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ["feed_live", "feed_backfill", "mart_dashboard"]
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("[run.py] Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        sys.exit(f"[run.py] library sources not found under {lib}: run from a full checkout")
    out = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile library + benchmark once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = spark_jars()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-2.13.17.jar")
                        for m in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={TARGET}",
                        "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", os.path.join(jars, "*"), "-d", CLASSES] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("[run.py] compilation failed")
    if os.path.exists(JAR):
        os.remove(JAR)
    subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."], check=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    train = os.path.join(TARGET, "train")
    jvm(["--train", "1", "--work", train], RUN_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off"])
    shutil.rmtree(train, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"compiled in {time.time() - t0:.1f} s")


def jvm(args, timeout, flags=None):
    """Run transitbench.Main; return its stdout lines (echoed to stderr)."""
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    # The JVM keeps its default (G1) collector, as the library's own runs do.
    # The heap is capped at 4 GB, half the library's default: no workload
    # gets near it, and the benchmark should leave the host's memory alone.
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + flags
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", JAR + ":" + os.path.join(spark_jars(), "*"), "transitbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"[run.py] JVM exceeded {timeout} s and was killed")
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if p.returncode != 0:
        sys.exit(f"[run.py] JVM exited with {p.returncode}")
    return lines


def run_one(workload, seed, seconds, trace):
    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    lines = jvm(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace), "--work", work], RUN_TIMEOUT_S)
    if not lines or not lines[-1].startswith("{"):
        sys.exit("[run.py] the JVM printed no result line")
    result = json.loads(lines[-1])
    notes = [l for l in lines if l.startswith("[transitbench]")]
    e2e = next((json.loads(l.split(" e2e ", 1)[1]) for l in notes if " e2e " in l), {})
    results = os.path.join(TARGET, "results")
    os.makedirs(results, exist_ok=True)
    saved = os.path.join(results, f"{workload}-untraced.json")
    if trace == 0:
        with open(saved, "w") as f:
            json.dump(e2e, f)
    else:
        notes.append(overhead(workload, e2e, saved))
    shutil.rmtree(work, ignore_errors=True)
    return result, notes


def overhead(workload, traced, saved):
    """The traced run's end-to-end numbers against the last untraced run's."""
    if not os.path.exists(saved):
        return f"[transitbench] {workload} tracing overhead: no untraced run recorded in this checkout yet"
    with open(saved) as f:
        plain = json.load(f)
    parts = []
    for k, v in traced.items():
        if k in plain and plain[k]["value"]:
            parts.append(f"{k} {v['value']:.4g} traced vs {plain[k]['value']:.4g} untraced "
                         f"({100 * (v['value'] / plain[k]['value'] - 1):+.1f}%)")
    return f"[transitbench] {workload} tracing overhead: " + "; ".join(parts)


def run_all(seed, seconds):
    """Every workload in turn; the last line names each metric by workload."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in WORKLOADS:
        result, notes = run_one(w, seed, seconds, 0)
        for n in notes:
            print(n)
        correct &= result["correct"]
        attempted += result["attempted"]
        failed += result["failed"]
        metrics[f"{w}.setup_s"] = result["metrics"]["setup_s"]
        for n in notes:
            for part in n.split():
                name = part.split("=")[0]
                if "=" in part and name.endswith("_s") and name != "setup_s":
                    k, v = part.split("=", 1)
                    try:
                        metrics[k] = {"value": float(v), "unit": "rows/s" if k.endswith("_per_s") else "s"}
                    except ValueError:
                        pass
        metrics[f"{w}.error_rate"] = {"value": result["failed"] / max(1, result["attempted"]),
                                      "unit": "ratio"}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build()
    if a.selftest:
        lines = jvm(["--selftest", "1", "--work", os.path.join(TARGET, "selftest")], RUN_TIMEOUT_S)
        print(lines[-1] if lines else "no output")
        return
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        run_all(a.seed, a.seconds)
        return
    result, notes = run_one(a.workload, a.seed, a.seconds, a.trace)
    for n in notes:
        print(n)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
