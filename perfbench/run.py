#!/usr/bin/env python3
"""Run one benchmark workload of the graft library and print its result.

    python3 perfbench/run.py --workload exact_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run compiles the library's
sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run is one
JVM with a local[N] Spark session (N = min(4, cpus)).

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it is the run record: the
resolved Spark and JVM configuration, seed, sizes and data digests.

Exit status: 0 when every output check passed; 1 when a check failed (the
result line reports it); 2 on any other failure, with no result line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
LIBRARY_SOURCES = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench-sources.sha256")
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    """SPARK_HOME, or the distribution holding the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home or ""


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [LIBRARY_SOURCES, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + benchmark unless the last build saw the same sources."""
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, SPARK_HOME=SPARK_HOME)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid_result(line, trace):
    """The result line has exactly the contract's keys and exactly the
    metrics BENCHMARK.json names for this mode, each a finite number."""
    try:
        res = json.loads(line)
    except ValueError:
        return None
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    want = expected_metrics(trace)
    got = res["metrics"]
    if not isinstance(got, dict) or set(got) != set(want):
        return None
    for name, m in got.items():
        if set(m) != {"value", "unit"} or m["unit"] != want[name]:
            return None
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or v != v or abs(v) == float("inf"):
            return None
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int) and isinstance(res["correct"], bool)):
        return None
    if res["correct"] != (res["failed"] == 0):
        return None
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="corrupt one expected output, to show that checks fail loudly")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIBRARY_SOURCES, "graft")):
        fail(f"no library sources under {LIBRARY_SOURCES}; run from the repository root")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("no BENCHMARK.json in the working directory")
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cpus = max(1, min(4, os.cpu_count() or 1))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([CLASSES, os.path.join(SPARK_JARS, "*")]),
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus),
              "--commit", commit(), "--corrupt", str(args.corrupt)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    res = valid_result(lines[-1], args.trace == 1) if lines else None
    if proc.returncode not in (0, 1) or res is None or (proc.returncode == 0) != res["correct"]:
        sys.stderr.write(out)
        fail(f"no valid result (JVM exit {proc.returncode})")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
