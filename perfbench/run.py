#!/usr/bin/env python3
"""Cold end-to-end benchmark of the graft Spark library.

One run = build (only when the sources changed), generate the seeded inputs,
launch one JVM on the library's classpath, let the harness run the
workload's set-up and one timed round of its ops (``workloads.py``), then
check every result against the DuckDB oracle (``tools/check.py``) outside
the timed region. The round always holds every op once, so per-op numbers
do not step with speed; ``--seconds`` is the least time the round is meant
to measure, and a shorter round is reported on standard error.

Usage (from the repository root):

    python3 perfbench/run.py --workload markt_reference --seed 1 --seconds 5 --trace 0

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it is
the full record of the run (sizes, cpus, heap, Spark version, seed,
per-op latencies, failure messages, tail percentile).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
HARNESS = HERE / "harness"
HARNESS_CLASSES = HARNESS / "target" / "scala-2.13" / "classes"
LIB_CLASSES = ROOT / "target" / "scala-2.13" / "classes"
HEAP = "3g"
CHECK_TIMEOUT_S = 30
BUILD_TIMEOUT_S = 600

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The harness reads the JIT compiler threads' CPU time from HotSpot; a
# compiler thread that exits takes its time with it, so the count is fixed.
JIT_ACCOUNTING = ["--add-exports=java.management/sun.management=ALL-UNNAMED",
                  "-XX:-UseDynamicNumberOfCompilerThreads"]

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            f"{Path.home()}/.sbt/repositories -Dsbt.offline=true -Xmx1g")


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties", HARNESS / "build.sbt"]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars() -> str:
    """The Spark jar directory the library's build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        fail("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def build() -> None:
    """Compile the library and the harness with sbt, once per source state."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no library sources under {ROOT} (build.sbt, src/main)")
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    built = (HARNESS_CLASSES / "perfbench" / "Harness.class").is_file() and LIB_CLASSES.is_dir()
    if built and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS, SPARK_JARS=spark_jars())
    deadline = time.monotonic() + BUILD_TIMEOUT_S
    with open(BUILD / "build.log", "w") as log:
        for cwd in (ROOT, HARNESS):
            try:
                r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                   cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=deadline - time.monotonic())
            except subprocess.TimeoutExpired:
                fail(f"sbt compile in {cwd} exceeded the {BUILD_TIMEOUT_S}s build budget")
            if r.returncode != 0:
                fail(f"sbt compile failed in {cwd}; see {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)


def launch(workload: str, data: Path, out: Path, trace: int) -> dict:
    classpath = ":".join([str(HARNESS_CLASSES), str(LIB_CLASSES), f"{spark_jars()}/*"])
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    # the cross-JVM frozen store stays off: set-up must build, not load
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_FROZEN_DIR"}
    launch_ms = int(time.time() * 1000)
    cmd = ["java", f"-Xmx{HEAP}", *OPENS, *JIT_ACCOUNTING, f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "perfbench.Harness",
           workload, str(data), str(out), str(trace), str(launch_ms),
           ",".join(f"{layer}/{op}" for layer, op in WORKLOADS[workload].ops)]
    timeout = WORKLOADS[workload].timeout_s
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {timeout}s", 3)
    if code != 0 or not (out / "run.json").is_file():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"harness JVM exited with {code}:\n{tail}", 3)
    return json.loads((out / "run.json").read_text())


def oracle_check(data: Path, results: Path) -> dict:
    """Runs tools/check.py; returns {row: failure message} for failing rows."""
    try:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(data), str(results)],
                           capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"*": f"tools/check.py exceeded {CHECK_TIMEOUT_S}s"}
    failed = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            failed[name] = f"oracle mismatch: {why}"
    if r.returncode != 0 and not failed:
        failed["*"] = f"tools/check.py exited with {r.returncode}: {r.stderr[-500:]}"
    return failed


def main() -> None:
    ap = argparse.ArgumentParser(description="perfbench: cold end-to-end workload run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="least time the timed round measures")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    build()
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data, out = work / "data", work / "out"
    try:
        w = WORKLOADS[a.workload]
        t0 = time.monotonic()
        gen.generate(w.kind, a.seed, str(data), **w.sizes)
        t1 = time.monotonic()
        run = launch(a.workload, data, out, a.trace)
        t2 = time.monotonic()
        oracle_failures = oracle_check(data, out / "results")
        t3 = time.monotonic()
        record, result = metrics.summarize(run, oracle_failures, a.trace == 1)
        record.update(seed=a.seed, seconds=a.seconds, sizes=w.sizes,
                      input_mb=round(sum(f.stat().st_size for f in data.rglob("*.parquet")) / 2**20, 3),
                      phase_s={"generate": t1 - t0, "jvm": t2 - t1, "oracle_check": t3 - t2})
        timed_s = sum(s for _, s in record["op_latencies"])
        if timed_s < a.seconds:
            print(f"perfbench: the timed round took {timed_s:.1f}s, under --seconds {a.seconds}",
                  file=sys.stderr)
        print(json.dumps(record, sort_keys=True))
        print(json.dumps(result))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
