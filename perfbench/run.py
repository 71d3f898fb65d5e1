#!/usr/bin/env python3
"""Runs one workload of graft's benchmark of record and prints its result.

    python3 perfbench/run.py --workload repl_mapreduce --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the benchmark program with sbt (perfbench/build.sbt); later runs reuse
the build until a source file changes. The JVM then runs the workload
under a closed loop and prints every metric with its unit; the last
line of standard output is the JSON result. `--selftest` checks the
benchmark's own helpers instead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
# Workload and metric names live in BENCHMARK.json only; graftbench.Main
# reads the metric list from the same file.
SPEC = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
# A fixed heap: left to grow, G1 sizes it by timing and peak_rss_mb
# spread over 20 % between seeds. With it fixed, peak_rss_mb shows the
# heap plus off-heap memory, and graftbench.Main prints the live heap's
# peak (heap_after_gc_peak_mb) beside it.
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when the session starts outside
# spark-submit; the engine's build.sbt passes the same list to its tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def check_sources(root):
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail(2, f"no engine sources under {root}: run from the root of a graft checkout")


def build(root):
    """Compiles the engine and the benchmark once; returns the classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.isfile(cp_file):
        built = os.path.getmtime(cp_file)
        if all(os.path.getmtime(f) <= built for f in source_files(root)):
            with open(cp_file) as f:
                return f.read().strip()
    print("perfbench: building (sbt writeClasspath)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                            "writeClasspath"],
                           cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, f"build failed: {e}")
    if r.returncode != 0 or not os.path.isfile(cp_file):
        fail(3, f"build failed with exit code {r.returncode}")
    with open(cp_file) as f:
        return f.read().strip()


def tree_stamp(root):
    """Git SHA and dirty flag when the checkout is a git work tree, and
    always a digest of the sources the build reads."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = {"tree_sha256": digest.hexdigest()[:16], "git_sha": "none", "git_dirty": "none"}
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                 text=True, timeout=30).stdout.strip()
            dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                   cwd=root, capture_output=True, text=True, timeout=30).stdout
            stamp.update(git_sha=sha or "none", git_dirty=str(bool(dirty.strip())).lower())
        except (OSError, subprocess.TimeoutExpired):
            pass
    return stamp


def data_root():
    """The read-only TPC-H-ish tables of TESTDATA.md."""
    return os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))


def java(root, cp, work, main_args, stdout=None, timeout=JVM_TIMEOUT_S):
    """Runs graftbench.Main in a fresh JVM whose temporary files stay in `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--work-dir", work] + main_args
    proc = subprocess.Popen(cmd, cwd=root, stdout=stdout)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(4, f"the JVM did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    with open(SPEC) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=workloads)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    check_sources(root)
    expected = os.path.join(BENCH, "expected", "sf0.1.json")
    if a.workload == "interactive_queries" and not os.path.isdir(os.path.join(data_root(), "sf0.1")):
        fail(2, f"no sf0.1 tables under {data_root()} (set GRAFT_TESTDATA)")
    cp = build(root)
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(root, ".bench_work", f"{name}-{os.getpid()}")
    try:
        if a.selftest:
            code = java(root, cp, work, ["--selftest"])
        else:
            stamp = tree_stamp(root)
            args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data_root(), "--expected", expected, "--benchmark", SPEC,
                    "--out-dir", os.path.join(root, ".bench_out")]
            for k, v in stamp.items():
                args += ["--stamp", k, v]
            args += ["--launch-ms", str(int(time.time() * 1000))]
            code = java(root, cp, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if code != 0:
        fail(1, f"the JVM exited with code {code}")


if __name__ == "__main__":
    main()
