#!/usr/bin/env python3
"""Runs one benchmark workload and prints its summary as the last line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --record     # rewrite perfbench/expected.json

Builds the program and the benchmark first (build.py), then runs them
in one JVM on local Spark with one core per processor. Per-run detail
(every op, set-up repetitions, host-noise probes, per-layer figures)
goes to perfbench/results/<workload>-seed<n>-trace<t>.json, spans of a
traced run to perfbench/results/<workload>-seed<n>-spans.jsonl. Scratch
files live under perfbench/.work and are removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("notebook", "curation", "streams", "etl_ticks")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(work, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), *opens, "-XX:+UseParallelGC", "-Xmn512m", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark'}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
            "-cp", build.classpath(), "perfbench.Main",
            "--data", str(build.BENCH / "data"), "--work", str(work), *main_args]


def run_jvm(main_args, timeout_s):
    """Runs the benchmark JVM in a scratch directory; returns (code, stdout lines)."""
    work = build.BENCH / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(jvm_command(work, main_args), cwd=work,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except BaseException as e:  # timeout, or SIGTERM/SIGINT: never leave the JVM behind
        proc.kill()
        proc.communicate()
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
        print(f"perfbench: run exceeded {timeout_s} s", file=sys.stderr)
        return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    build.build()
    if a.record:
        code, lines = run_jvm(["--record", str(build.BENCH / "expected.json"),
                               "--oracle", str(build.BENCH / "results" / "oracle_sql.json")], 3600)
        print("\n".join(lines), file=sys.stderr)
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    results = build.BENCH / "results"
    code, lines = run_jvm(
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--expected", str(build.BENCH / "expected.json"),
         "--out", str(results)], JVM_TIMEOUT_S)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(code or 1)
    summary = json.loads(lines[-1])
    if set(summary) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed summary line")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
