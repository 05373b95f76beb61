#!/usr/bin/env python3
"""Run one workload of the archive benchmark and print its result.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py). Each run then starts one JVM with a local
Spark session (4 cores), builds the workload's archive from seeded
synthetic swaths, and times a closed loop of operations. Every output is
checked against a brute-force reference. The last stdout line is the result
JSON: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Traced runs also print a per-layer self-time table and write every span to
.bench_build/traces/<workload>-seed<seed>.jsonl. Set-up data lives under
.bench_build/runs/ and is removed when the run ends.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("point_reads", "regional_cube")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build.build()
    root = build.ROOT
    work = root / ".bench_build" / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    trace_out = root / ".bench_build" / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work / "data"), "--trace-out", str(trace_out)]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1] + [json.dumps(result)]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
