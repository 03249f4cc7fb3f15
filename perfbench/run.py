#!/usr/bin/env python3
"""Benchmark entry point for the extraction job and corpus pipeline.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala, with its own build.sbt) and the harness (perfbench/src)
with sbt and records the runtime classpath; later runs reuse both while
the sources are unchanged. Each run starts one JVM (perfbench.Main) that
runs the workload as a closed loop of one job at a time on a local[4]
Spark session. The last line of standard output
is the result JSON; everything else goes to standard error. Work files
(cached inputs, outputs, reports, spans) live under .bench_build/perfbench.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["extract_mixed", "extract_bigdoc", "extract_resume_fat", "corpus_dedup"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Same module openings the engine's build.sbt gives forked Spark mains.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(d, n) for d in (ROOT, HERE) for n in ("build.sbt", "project/build.properties")]
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources changed; returns the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        with open(CLASSPATH) as fh:
            return fh.read().strip()
    log("compiling engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"])
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                        "export perfbench/Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = r.stdout.splitlines()
    print("\n".join(lines[:-1]), file=sys.stderr)
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit(f"[perfbench] build failed (exit {r.returncode})")
    classpath = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(classpath + "\n")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


def run_jvm(args, classpath):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(WORK, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] {args.workload} exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines:
        raise SystemExit(f"[perfbench] no result from the JVM (exit {proc.returncode})")
    return proc.returncode, json.loads(lines[-1])


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(result, trace):
    """The result line must carry exactly the declared metrics, with units."""
    problems = []
    want = expected_metrics(trace)
    got = result.get("metrics", {})
    for name, unit in want.items():
        if name not in got:
            problems.append(f"missing metric {name}")
        elif got[name].get("unit") != unit:
            problems.append(f"metric {name} has unit {got[name].get('unit')}, declared {unit}")
        elif not isinstance(got[name].get("value"), (int, float)):
            problems.append(f"metric {name} has no numeric value")
    problems += [f"undeclared metric {n}" for n in got if n not in want]
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"[perfbench] engine sources not found at {ENGINE_SRC}")
    code, result = run_jvm(args, build())
    problems = check_result(result, args.trace) if code == 0 else []
    if problems:
        for p in problems:
            log(p)
        result["correct"] = False
        code = 1
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
