#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine's POS pipeline and curation chain.

Usage (from the repository root):

    python3 perfbench/run.py --workload pos --seed 1 --seconds 2 --trace 0

Builds the engine from `src/main` together with the benchmark program in
`perfbench/src` (one sbt build, reused while the sources are unchanged),
runs one workload in a fresh JVM on `local[N]` with N = the CPUs this
process may use, and prints the result as the last line of stdout:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones; a traced run also leaves its spans and jobs in
`perfbench/work/spans-<workload>-<seed>.jsonl`. Everything the run
writes stays under `perfbench/`
(sbt and coursier keep their usual caches in the home directory).
Exits non-zero without a result line if the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, cwd, timeout, env=None, stdout=None):
    """Run a command in its own process group; kill the group on timeout,
    or when this script is told to stop, and wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                            stderr=sys.stderr, start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return None, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    return proc.returncode, out


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The build's runtime classpath, building first if sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine + benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc, out = run(["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                   "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
                  HERE, BUILD_TIMEOUT_S, env, stdout=subprocess.PIPE)
    if rc != 0 or not out:
        log(f"build failed (rc={rc})")
        if out:
            sys.stderr.write(out[-4000:])
        return None
    cp = out.strip().splitlines()[-1].strip()
    log(f"build took {time.time() - t0:.0f}s")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["pos", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
        return 2
    cp = classpath()
    if cp is None:
        return 3

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir, "--cores", str(cores),
              "--result", result,
              "--spans", os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")])
    rc, _ = run(cmd, ROOT, RUN_TIMEOUT_S)
    try:
        if rc != 0 or not os.path.exists(result):
            log(f"run failed (rc={rc})")
            return 4
        with open(result) as fh:
            line = json.dumps(json.load(fh))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
