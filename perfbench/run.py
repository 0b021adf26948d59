#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON result as the last line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the library and the benchmark from
source with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Everything the run writes goes under .bench_build/
in the checkout. Exit code 0 means the last stdout line is the result.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(OUT, "launch.json")
STAMP = os.path.join(OUT, "sources.sha256")
WORKLOADS = ("workflow_run", "corpus_dedup")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building library and benchmark with sbt")
    t0 = time.time()
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                        cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"build failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the library: {', '.join(missing)} missing next to perfbench/")
        return 2
    os.makedirs(OUT, exist_ok=True)
    build()

    with open(LAUNCH) as f:
        launch = json.load(f)
    work = os.path.join(OUT, "work")
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ)
    # Spark's scratch space and the JVM's temp files stay in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"] + launch["jvm_options"] +
           ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work])
    code, out = run_child(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE)
    lines = out.decode().splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        log(f"benchmark exited with {code}")
        return code or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
