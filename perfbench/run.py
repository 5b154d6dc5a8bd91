#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke 1]

The first run builds the library and the benchmark from the checkout's
sources (one sbt project in this directory); later runs reuse the build
while the sources are unchanged. Each run starts one JVM with a local
Spark session and one closed-loop client, and removes its work
directory when it ends. A traced run (`--trace 1`) also writes its spans
to `.bench_out/` and prints per-layer metrics instead of end-to-end ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import summarize  # noqa: E402

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    return sorted(f for f in files if f.endswith((".scala", ".java", ".sbt", ".properties")))


def digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, home, src_digest):
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == src_digest:
        return classes
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    # sbt's own output goes to stderr: stdout carries only the result
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(src_digest)
    return classes


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0,
                    help="tiny inputs, for the benchmark's own test")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout (no BENCHMARK.json here)")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")

    home = spark_home()
    src_digest = digest(root)
    classes = build(root, home, src_digest)

    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    trace_out = os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.jsonl")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--smoke", str(a.smoke),
           "--work", work, "--trace-out", trace_out, "--commit", git_commit(root),
           "--src-digest", src_digest]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"timed out after {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if result is None:
        fail(f"the run printed no result (exit {proc.returncode})")

    if a.trace:
        records = summarize.load([trace_out])
        layers = [m["name"] for m in spec["per_layer"]]
        print(summarize.table(records))
        values = summarize.layer_metrics(records, a.workload, layers)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        result["metrics"] = {n: {"value": values[n], "unit": units[n]} for n in layers}
    print(json.dumps(result), flush=True)
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
