#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload exact-db --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark from source
(perfbench/build.py), checks that the host has the disk and memory the
workload needs, runs the measuring JVM (graft.perfbench.PerfBench) and
prints its one-line JSON result as the last line of stdout. Exits non-zero,
without a result, when the build fails or the host cannot run the workload;
exits 1, after the result, when an output check failed.

Everything the run writes stays under the build dir ($CARGO_TARGET_DIR, or
.bench_build): the inputs, Spark's local dir and the outputs go to a work
dir that is removed afterwards; the JVM log, the per-seed output digests and
the traced runs' span JSONL stay under perfbench/records/."""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("exact-db", "near-skew")

# Free disk and memory a run needs before it starts. Measured on a 4-core
# host: the work dir (inputs, Spark's local dir, outputs) peaks under 100 MB;
# the JVM's resident set peaks at ~2.2 GB (exact-db) and ~3.7 GB (near-skew)
# with the heap capped at HEAP.
NEEDS_MB = {
    "exact-db": {"disk": 500, "mem": 3000},
    "near-skew": {"disk": 500, "mem": 4000},
}
HEAP = "3g"
TIMEOUT_S = 175

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def mem_available_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def host_shortfall(workload, path):
    need = NEEDS_MB[workload]
    free_disk = shutil.disk_usage(path).free // (1024 * 1024)
    free_mem = mem_available_mb()
    short = []
    if free_disk < need["disk"]:
        short.append(f"{free_disk} MB free disk under {path}, needs {need['disk']} MB")
    if free_mem < need["mem"]:
        short.append(f"{free_mem} MB available memory, needs {need['mem']} MB")
    return short


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    root = os.getcwd()

    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_dir(root)
    short = host_shortfall(a.workload, out)
    if short:
        print(f"perfbench: workload {a.workload} is not measurable on this host: "
              + "; ".join(short), file=sys.stderr)
        return 3

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", tag)
    records = os.path.join(out, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graft.perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--records", records,
              "--build", os.path.basename(classes)])
    logpath = os.path.join(records, tag + ".log")
    try:
        with open(logpath, "w") as logf:
            p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                print(f"perfbench: run exceeded {TIMEOUT_S} s; log in {logpath}", file=sys.stderr)
                return 4
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        result = os.path.join(work, "result.json")
        if not os.path.exists(result):
            with open(logpath) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: no result (exit {rc}); log in {logpath}", file=sys.stderr)
            return rc or 5
        with open(result) as fh:
            line = fh.read().strip()
        if rc != 0:
            print(f"perfbench: output checks failed; log in {logpath}", file=sys.stderr)
        print(line, flush=True)
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
