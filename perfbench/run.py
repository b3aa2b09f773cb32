#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source on first use (see build.py),
runs the benchmark main in one JVM with a Spark local[nproc] session, and
relays its output. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. Everything the run writes stays
under .bench_build/ in the checkout; the run's scratch dir is deleted at the
end. The exit code is non-zero when the build fails, a correctness gate
fails or an operation throws.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 175
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap (Xms = Xmx): the collector never resizes it, so GC work
    # does not depend on when it chose to grow the heap
    return (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def run_java(cmd, env, log_path):
    """Runs the JVM to completion (killed at the timeout); returns its exit
    code and stdout lines. stderr goes to the log file."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
            print(f"[perfbench] killed after {TIMEOUT_S}s", file=sys.stderr)
            return 124, out.splitlines()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", name)
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    if a.selftest:
        cmd = java_cmd(cp, "graft.perfbench.SelfTest", [], tmp)
    else:
        cmd = java_cmd(cp, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work], tmp)
    log_path = os.path.join(logs, f"{name}.log")
    try:
        rc, lines = run_java(cmd, env, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        if not line.startswith("[graft-"):  # IndexBuilder's own phase log
            print(line)
    sys.stdout.flush()
    if rc != 0:
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "[perfbench]" in l or "Exception" in l]
        print("\n".join(tail[-20:]), file=sys.stderr)
        print(f"[perfbench] exit code {rc}; full log: {log_path}", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
