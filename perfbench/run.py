#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload dedup_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds graft and the
benchmark with sbt (offline) and caches the launch classpath; later runs
start the JVM directly. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("dedup_pipeline", "lakehouse_rw")
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


_children = []


def start(cmd, **kw):
    """Starts `cmd` in its own process group, stopped with us on a signal."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(proc)
    return proc


def stop_children(signum, _frame):
    for proc in _children:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(128 + signum)


def testdata_dir(root, sf):
    """The sf directory TESTDATA.md documents (graft.Bench's default)."""
    try:
        with open(os.path.join(root, "TESTDATA.md")) as f:
            m = re.search(r"\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", f.read())
        return m.group(1).rstrip("/") if m else ""
    except OSError:
        return ""


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile with sbt when sources changed; returns (classpath, jvm flags)."""
    launch = os.path.join(root, "perfbench", "target", "launch.txt")
    stamp_file = os.path.join(root, "perfbench", "target", "launch.stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f:
                    lines = f.read().splitlines()
                return lines[0], lines[1:]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    sbt = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                cwd=os.path.join(root, "perfbench"), env=env,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    out, _ = sbt.communicate()
    if sbt.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", action="store_true",
                    help="write the output fingerprints to perfbench/refs.json instead of checking them")
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    data = os.environ.get("SPARK_GRAFT_SF_DIR") or testdata_dir(root, "0.1")
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"no sf0.1 tables in {data}; set SPARK_GRAFT_SF_DIR")

    cp, jvm_flags = build(root)

    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # these would override spark.local.dir and share scratch space across runs
    for var in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS"):
        env.pop(var, None)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}"] + jvm_flags +
           ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--run-dir", run_dir,
            "--refs", os.path.join(root, "perfbench", "refs.json"),
            "--trace-out", os.path.join(root, ".bench_out", f"trace-{a.workload}-{a.seed}.json"),
            "--record", "1" if a.record_refs else "0"])
    try:
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = start(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                out, _ = proc.communicate()
        lines = out.splitlines()
        result = lines[-1] if lines and lines[-1].startswith("{") else None
        for line in lines[:-1] if result else lines:
            print(line)
        if proc.returncode != 0 or result is None:
            with open(log_path) as log:
                sys.stderr.writelines(line for line in log if "INFO" not in line)
            fail(f"benchmark JVM exited with code {proc.returncode}")
        if json.loads(result).get("attempted", 0) < 1:
            fail("no operation ran")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
