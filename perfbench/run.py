#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the benchmark from source with sbt (perfbench/build.sbt, offline) and keeps
the classpath in perfbench/.build; later runs reuse it until a source file
changes. Each run starts a fresh JVM with its own java.io.tmpdir under
perfbench/.run, removed when the run ends. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json when --trace 0 and the per-layer ones
when --trace 1. See perfbench/README.md.
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
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ["serial", "task-storm"]
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "sbt.log")
    print("perfbench: building with sbt (log in perfbench/.build/sbt.log)", file=sys.stderr)
    with open(log_path, "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=log, stderr=subprocess.STDOUT).returncode
    with open(log_path) as log:
        lines = [l.strip() for l in log if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        print("\n".join(lines[-30:]), file=sys.stderr)
        die(f"sbt build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def tracing_overhead(workload, trace, lines):
    """Compare this run's pass_s with the last run of the other mode."""
    pass_s = next((float(l.split()[2]) for l in lines if l.startswith("e2e  pass_s")), None)
    if pass_s is None:
        return
    os.makedirs(OUT, exist_ok=True)
    mine = os.path.join(OUT, f"pass-{workload}-trace{trace}.txt")
    other = os.path.join(OUT, f"pass-{workload}-trace{1 - trace}.txt")
    with open(mine, "w") as f:
        f.write(repr(pass_s))
    if os.path.exists(other):
        with open(other) as f:
            o = float(f.read())
        traced, untraced = (pass_s, o) if trace else (o, pass_s)
        print(f"tracing overhead: pass_s traced {traced:.3f} s - untraced {untraced:.3f} s"
              f" = {traced - untraced:+.3f} s ({100 * (traced / untraced - 1):+.1f} %)")
    else:
        print(f"tracing overhead: no {'un' if trace else ''}traced run of {workload} yet to compare")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload '{a.workload}' (have: {', '.join(WORKLOADS)})")
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from the root of a source checkout")

    cp = classpath()
    run_dir = os.path.join(HERE, ".run", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap: with a growable one, peak RSS follows the collector's
    # sizing decisions more than the program's memory use. No perf-data
    # file, which the JVM would otherwise write outside the checkout.
    cmd = (["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected.json"), "--out", OUT,
            "--launched-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        die(f"run did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for l in lines[:-1] if result is not None else lines:
        print(l)
    if proc.returncode != 0 or result is None:
        die(f"benchmark JVM exited {proc.returncode} without a result")
    want = metric_names(a.trace)
    if set(result["metrics"]) != want:
        die(f"metrics {sorted(set(result['metrics']) ^ want)} disagree with BENCHMARK.json")
    tracing_overhead(a.workload, a.trace, lines)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
