#!/usr/bin/env python3
"""Run one workload of the benchmark and print its record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) into .bench_build/; later runs
reuse that build until a source file changes. The JVM's standard output
is passed through; its last line is the JSON record. Spark's log goes to
.bench_build/perfbench/logs/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BUILD, "launch.txt")
CDS = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("ingest_compact", "dashboard_http", "select_highcard")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# a fixed 3 GB heap (one that grew from a small start, and shrank again
# at the forced collections after set-up, made the first measured
# operations 10-20% slower than later ones), and no hsperfdata file under
# the system temp directory
JVM = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and always wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build():
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log_path, "w") as log:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "launchFile"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env)
    if code != 0 or not os.path.exists(LAUNCH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return False
    share_classes()
    return True


def share_classes():
    """Archive the classes a short dashboard run loads (class-data
    sharing), so every run's JVM maps them instead of loading them:
    about 10 s less start-up per run on a 4-core host. Best effort: the
    runs work without the archive."""
    if os.path.exists(CDS):
        os.remove(CDS)
    launch = read_launch()
    class_list = os.path.join(BUILD, "classes.lst")
    work = os.path.join(BUILD, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(BUILD, "logs", "share_classes.log"), "w") as log:
        code, _ = run_group(
            ["java"] + JVM + [f"-XX:DumpLoadedClassList={class_list}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + launch
            + ["perfbench.Main", "--workload", "dashboard_http", "--seed", "0",
               "--seconds", "1", "--trace", "0", "--work", work],
            RUN_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        if code == 0:
            run_group(["java", "-XX:-UsePerfData", "-Xshare:dump", f"-XX:SharedClassListFile={class_list}",
                       f"-XX:SharedArchiveFile={CDS}"] + launch[launch.index("-cp"):],
                      RUN_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)


def read_launch():
    with open(LAUNCH) as f:
        return [line for line in f.read().splitlines() if line]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        return fail(2, f"program sources not found under {ROOT}; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        return fail(2, "sbt and java must be on PATH")
    if not os.path.exists(LAUNCH) or os.path.getmtime(LAUNCH) < newest_source_mtime():
        if not build():
            return fail(3, "build failed")

    launch = read_launch()
    if os.path.exists(CDS):
        launch = [f"-XX:SharedArchiveFile={CDS}"] + launch
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for d in ("records", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    detail = os.path.join(BUILD, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = (["java"] + JVM + ["-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}"]
           + launch
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--detail", detail])
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                  stderr=log, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        return fail(4, f"run exceeded {RUN_TIMEOUT_S} s and was killed; log: {log_path}")
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines and lines[-1].startswith("{") else lines) + "\n")
        return fail(5, f"run failed with exit code {code} after {time.time() - t0:.1f} s; log: {log_path}")
    sys.stdout.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
