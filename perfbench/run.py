#!/usr/bin/env python3
"""Crawl-and-read benchmark: one command, two workloads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_wide --seed 7 --seconds 30 --trace 0

Builds the harness (perfbench/build.sbt compiles ../src/main/scala together
with perfbench/src) when its sources changed, runs one workload in a fresh
JVM at local[<cores>], checks every output against its oracle and prints
one JSON result object as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_wide", "read_suite")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def build(root, build_dir):
    """Compile with sbt when any source changed; return the classpath."""
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"no library sources at {lib}: run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(build_dir)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def spark_home():
    """The Spark installation whose jars the harness compiles against."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def heap():
    """Driver heap: half the machine's memory, clamped to 2-4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, work, args):
    """Run the harness; return (its result dict or None, peak RSS in MB)."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "expected"),
            "--result", result]
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            BENCH, ".traces", f"{args.workload}-seed{args.seed}.json")]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    rss_mb = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux
    if proc.returncode != 0 or not os.path.exists(result):
        return None, rss_mb
    with open(result) as fh:
        return json.load(fh), rss_mb


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR",
                    help="read_suite only: rewrite the pinned expectations "
                         "and dump every output to DIR for "
                         "tools/check_oracle.py (see README.md)")
    args = ap.parse_args()

    build_dir = os.path.join(BENCH, ".build")
    cp = build(os.getcwd(), build_dir)
    work = os.path.join(BENCH, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, rss_mb = run_jvm(cp, work, args)
        if res is None:
            fail("harness failed; see its log above")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        res["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
