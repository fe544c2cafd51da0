#!/usr/bin/env python3
"""Build the library and the benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_text_bulk --seed 1 --seconds 20 --trace 0

The benchmark is a separate sbt build in this directory (see build.sbt). It is
compiled on the first run, and again whenever a source or build file of the
library or the benchmark changes. Each run then starts one JVM, which prints
progress on stderr and one JSON result object as the last line of stdout.
Generated inputs and corpora live in a scratch directory under `.bench_work/`
at the repository root, removed when the run ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_text_bulk", "ingest_ragged_small", "curate_neardup")
# Driver heap for the single local-mode JVM. Fixed rather than derived from
# the host, so that every run of every commit measures the same JVM; the
# library's build falls back to 24g, more than a 15 GiB host without swap.
HEAP = "4g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
# Inputs of the build: a change to any of these triggers a rebuild.
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            fail(f"missing {rel}; run from a full checkout of the repository")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile when the sources changed; return (jvm options, classpath)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.digest")
    digest = source_digest()
    current = os.path.exists(launch) and os.path.exists(stamp) and \
        open(stamp).read().strip() == digest
    if not current:
        print("perfbench: building", file=sys.stderr)
        try:
            code, _ = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
                stdout=sys.stderr, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if code != 0 or not os.path.exists(launch):
            fail(f"build failed (sbt exit {code})")
        with open(stamp, "w") as fh:
            fh.write(digest + "\n")
    with open(launch) as fh:
        opts_line, cp_line = fh.read().split("\n")[:2]
    return [o for o in opts_line.split("\u0001") if o], cp_line


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    opts, cp = build()
    cores = min(4, os.cpu_count() or 1)
    work_root = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    cmd = ["java", *opts, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", work]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, text=True,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
