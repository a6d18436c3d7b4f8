#!/usr/bin/env python3
"""Benchmark runner: builds the classes (perfbench/build.py), runs one
workload in a fresh JVM and prints its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <crawl-bulk|query-pass>
                           --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it carry the
workload's figures under their own names (`info`) and, in a traced run, the
per-layer figures (`layers`). Traced runs also write their spans to
<build dir>/traces/. Everything a run writes stays under the build dir
(CARGO_TARGET_DIR if set, else .bench_build), and the run's work tree is
deleted at exit. Exits non-zero without a result when the build, the run or
its time limit fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("crawl-bulk", "query-pass")
RUN_LIMIT_S = 170  # a run must end within 180 s after the build
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    classes = build.ensure(build_dir)

    work = build_dir / f"work-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (build_dir / "traces").mkdir(exist_ok=True)
    (build_dir / "logs").mkdir(exist_ok=True)
    trace_out = build_dir / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    log = build_dir / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"

    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed heap and young generation keep the resident-set peak a
    # property of the workload rather than of adaptive heap sizing
    cmd = ["java", *opens, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", str(BENCH / "data" / "sf0.01"),
           "--work", str(work), "--pins", str(BENCH / "pins.json"),
           "--trace-out", str(trace_out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work, env=env, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(f"perfbench: run exceeded {RUN_LIMIT_S} s (log: {log})\n")
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}); log: {log}\n")
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
