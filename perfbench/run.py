#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run gets its own scratch
directory under .bench_run/ (java.io.tmpdir, Spark local dirs, stream
dirs), so no staged state carries over between runs. A traced run
(--trace 1) also leaves its spans in .bench_run/trace-<workload>-<seed>.jsonl.
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
SPEC = os.path.join(HERE, "target", "run-spec.txt")
STAMP = os.path.join(HERE, "target", "run-spec.sha256")
WORKLOADS = ("registry_sweep", "cdc_mixed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "-Xmx2g"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        sys.exit(3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(sha):
    if os.path.exists(SPEC) and os.path.exists(STAMP) and open(STAMP).read().strip() == sha:
        return
    log("building engine and harness (sbt writeRunSpec)")
    # dependencies come from the local caches only
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRunSpec"],
                        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL, env=env)
    if code != 0 or not os.path.exists(SPEC):
        log(f"build failed (exit {code})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(sha + "\n")


def main():
    # a terminated run still stops its JVM (run_group's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log(f"no engine sources under {ROOT}/src: run from the root of a full checkout")
        sys.exit(2)
    sha = source_sha()
    build(sha)

    lines = open(SPEC).read().split("\n")
    i = lines.index("--classpath")
    jvm_opts, classpath = lines[:i], lines[i + 1]
    runs = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={run_dir}/tmp"] + jvm_opts +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", os.path.join(HERE, "data", "sf0.01"),
            "--manifest", os.path.join(HERE, "manifest.tsv"), "--run-dir", run_dir,
            "--source-sha", sha])
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(runs, f"trace-{a.workload}-{a.seed}.jsonl")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not result:
        log(f"harness exited with {code}")
        sys.exit(code or 4)
    last = json.loads(result[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        log(f"unexpected result line: {result[-1][:200]}")
        sys.exit(4)
    # the run description (seed, source digest, session config), then the result
    print("\n".join(result))


if __name__ == "__main__":
    main()
