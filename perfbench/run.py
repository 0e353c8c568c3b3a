#!/usr/bin/env python3
"""Benchmark of the graft engine: catalog, metadata-backend and index-route layers.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: catalog_ops, index_serving.

The first run in a checkout compiles the program (src/main/scala) and the
harness (perfbench/scala) with the Scala compiler that ships among the
Spark jars named by build.sbt's `unmanagedBase`, into .bench_build/ (or
$CARGO_TARGET_DIR), and generates the input fixture there once. Every run
then gets its own directory under .bench_build/runs/, which holds all of
its state (temp dir, Spark warehouse and local dirs, catalog files, the
embedded metastore's Derby store, indexes, outputs) and is deleted at the
end. A run that finds another run's directory, or that leaves files
anywhere else in the checkout, reports it as a failure.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics of a
traced pass when --trace 1. The full report (every failure with its class
and message, the environment stamp, the workload's own figures, the
tracing overhead) goes to stderr and to .bench_build/reports/.

Extra options for the benchmark's own tests: --cores N (Spark local[N]),
--plant-wrong (corrupt one answer; the checks must catch it).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["catalog_ops", "index_serving"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("no build.sbt in the checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler among the jars in {d!r}")
    return d


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala")
    if not bench:
        raise BenchError("no harness sources under perfbench/scala")
    return main, bench


def tail(path, n):
    with open(path) as f:
        return f.read()[-n:]


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def build(root, build_dir, jars):
    """Compiles program and harness once per source digest."""
    main, bench = sources(root)
    key = digest(main + bench, extra="\n".join(sorted(os.listdir(jars))))
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.isfile(os.path.join(classes, "DONE")):
        return classes
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.time()
    jar_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    scalac(jars, jar_cp, os.path.join(classes, "main"), main)
    scalac(jars, os.path.join(classes, "main") + ":" + jar_cp, os.path.join(classes, "bench"), bench)
    with open(os.path.join(classes, "DONE"), "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def java_cmd(classes, jars, run_dir):
    """The JVM the program runs in under `sbt run` (build.sbt's javaOptions:
    default JIT and collector, 8g heap), plus the run's own directories."""
    cp = ":".join([os.path.join(classes, "bench"), os.path.join(classes, "main"),
                   os.path.join(jars, "*")])
    return (["java", "-Xmx8g"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
             "-Duser.timezone=UTC", "-cp", cp, "graftbench.Main"])


def run_jvm(cmd, cwd, log_path, timeout):
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BenchError(f"JVM did not finish within {timeout}s")


def generate(build_dir, prefix, key, marker, classes, jars, args):
    """Runs a JVM step that writes `<prefix>-<key>/` once, unless it exists."""
    out = os.path.join(build_dir, f"{prefix}-{key}")
    if os.path.isfile(os.path.join(out, marker)):
        return out
    for old in glob.glob(os.path.join(build_dir, f"{prefix}-*")):
        shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    rc = run_jvm(java_cmd(classes, jars, work) + args + [os.path.join(work, "data")],
                 work, os.path.join(work, "jvm.log"), 600)
    if rc != 0 or not os.path.isfile(os.path.join(work, "data", marker)):
        raise BenchError(f"{prefix} step failed:\n" + tail(os.path.join(work, "jvm.log"), 3000))
    os.rename(os.path.join(work, "data"), out)
    shutil.rmtree(work, ignore_errors=True)
    log(f"made {prefix} in {time.time() - t0:.1f}s")
    return out


def fixture(root, build_dir, classes, jars):
    """The read-only input data, generated once per checkout."""
    key = digest([os.path.join(HERE, "scala/graftbench/Fixture.scala"),
                  os.path.join(root, "src/main/scala/graft/tools/Scale10xGen.scala")])
    return generate(build_dir, "fixture", key, "manifest.json", classes, jars, ["fixture"])


def indexes(build_dir, classes, jars, fx):
    """Every index family over the 10x fixture, built once per program
    build; each run starts from a copy."""
    key = os.path.basename(classes).split("-", 1)[1] + os.path.basename(fx).split("-", 1)[1]
    return generate(build_dir, "indexes", hashlib.sha256(key.encode()).hexdigest()[:16],
                    "builds.json", classes, jars, ["indexes", fx])


def checkout_listing(root, build_dir):
    """Every path in the checkout outside the build directory."""
    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        if os.path.abspath(dirpath) == os.path.abspath(build_dir):
            dirnames[:] = []
            continue
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) != build_dir]
        for n in dirnames + filenames:
            out.add(os.path.relpath(os.path.join(dirpath, n), root))
    return out


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--plant-wrong", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cores = a.cores or len(os.sched_getaffinity(0))
    try:
        jars = spark_jars(root)
        os.makedirs(build_dir, exist_ok=True)
        classes = build(root, build_dir, jars)
        fx = fixture(root, build_dir, classes, jars)
        idx = indexes(build_dir, classes, jars, fx)
    except BenchError as e:
        log(str(e))
        return 2

    failures = []
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    for stale in sorted(os.listdir(runs)):
        failures.append({"workload": a.workload, "op": "isolation", "class": "StaleRunState",
                         "message": f"found {stale} left by an earlier run"})
        shutil.rmtree(os.path.join(runs, stale), ignore_errors=True)
    before = checkout_listing(root, build_dir)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    report_path = os.path.join(run_dir, "report.json")
    cmd = java_cmd(classes, jars, run_dir) + [
        "run", a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, fx, idx, str(cores),
        report_path] + (["plant-wrong"] if a.plant_wrong else [])
    try:
        rc = run_jvm(cmd, run_dir, os.path.join(run_dir, "jvm.log"), JVM_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(report_path):
            raise BenchError(f"run failed (exit {rc}):\n" + tail(os.path.join(run_dir, "jvm.log"), 4000))
        with open(report_path) as f:
            report = json.load(f)
    except (BenchError, subprocess.SubprocessError, ValueError, KeyError) as e:
        log(str(e))
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(run_dir):
        failures.append({"workload": a.workload, "op": "isolation", "class": "RunStateKept",
                         "message": f"could not delete {run_dir}"})
    for p in sorted(checkout_listing(root, build_dir) - before):
        failures.append({"workload": a.workload, "op": "isolation", "class": "StrayOutput",
                         "message": f"the run wrote {p} outside its directory"})

    failures = report["failures"] + failures
    attempted = max(1, int(report["attempted"]))
    report["failures"] = failures
    report["failed"] = len(failures)
    report["failed_frac"] = len(failures) / attempted
    report["env"]["git_commit"] = git_commit(root)
    report["env"]["source_digest"] = os.path.basename(classes).split("-", 1)[1]
    report["args"] = vars(a)
    text = json.dumps(report, indent=1)
    print(text, file=sys.stderr)
    reports = os.path.join(build_dir, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        f.write(text)
    metrics = report["layers"] if a.trace else report["metrics"]
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
