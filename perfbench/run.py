#!/usr/bin/env python3
"""Event-store benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the store
and the benchmark from source with sbt (perfbench/build.sbt depends on
the program's own build one directory up) and caches the classpath in
.bench_build/, keyed by a hash of every source and build file; later runs
launch the JVM directly. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics. The exit
code is 0 only when the run finished and every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("append_subscribe", "read_mix", "ingest_curate")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [
        (ROOT, ["build.sbt"]),
        (os.path.join(ROOT, "project"), None),
        (os.path.join(ROOT, "src", "main"), None),
        (BENCH_DIR, ["build.sbt"]),
        (os.path.join(BENCH_DIR, "project"), None),
        (os.path.join(BENCH_DIR, "src", "main"), None),
    ]
    out = []
    for base, names in roots:
        if names is not None:
            out += [os.path.join(base, n) for n in names if os.path.isfile(os.path.join(base, n))]
            continue
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building from source (first run in this checkout)", file=sys.stderr)
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        fail("build failed" if code is not None else "build timed out")
    for name in ("classpath.txt", "javaopts.txt"):
        shutil.copy(os.path.join(BENCH_DIR, "target", name), os.path.join(BUILD, name))
    with open(os.path.join(BUILD, "build.stamp"), "w") as fh:
        fh.write(stamp)


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    # a terminated launcher must not leave its build or JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources (build.sbt, src/main/scala) beside the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = fingerprint(source_files())
    stamp_file = os.path.join(BUILD, "build.stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        build(stamp)

    # runs are sequential: whatever a killed run left behind is stale
    shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(BUILD, "javaopts.txt")) as fh:
        jopts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + jopts + [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", a.trace,
                            "--out", BUILD, "--git-head", git_head(), "--source-hash", stamp[:16]]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not valid_result(lines[-1]):
        sys.stdout.write(out)
        fail(f"run printed no result (exit {code})", code or 4)
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)
    result = json.loads(lines[-1])
    if code != 0 or not result["correct"]:
        fail("output checks failed" if not result["correct"] else f"exit {code}", code or 1)


if __name__ == "__main__":
    main()
