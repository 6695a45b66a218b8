#!/usr/bin/env python3
"""Run one versioned-join benchmark workload and print its result.

    python3 perfbench/run.py --workload hot_keys --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark harness (perfbench/src)
into .bench_build/perfbench; later runs reuse the classes while the
sources are unchanged. The last line of stdout is the result JSON; the
exit code is non-zero when the output check failed or the run broke.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
from build import ROOT, BUILD_DIR, build, classpath  # noqa: E402

WORKLOADS = ("hot_keys", "cold_keys", "snapshot_join")
RUN_LIMIT_S = 170  # the JVM's share of one run's 180 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def java_command(classes, tmpdir):
    """JVM invocation for the harness classes (Spark 4 on JDK 17 needs
    the module opens that spark-submit would otherwise add)."""
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmpdir}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(ROOT, "perfbench", "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath(classes)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny runs the same code on toy inputs (self-test)")
    a = ap.parse_args()

    classes = build()
    work = os.path.join(BUILD_DIR, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_command(classes, os.path.join(work, "tmp")) + [
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--size", a.size]
    # Spark's scratch space stays inside the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    # a terminated runner takes the JVM's process group down with it
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    lines = out.strip().splitlines()
    trace = os.path.join(work, "trace.json")
    if os.path.exists(trace):
        dest = os.path.join(BUILD_DIR, "traces",
                            f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(trace, dest)
        print(f"perfbench: trace written to {os.path.relpath(dest)}",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.exit(f"perfbench: {a.workload} printed no result "
                 f"(exit code {proc.returncode})")
    for line in lines[:-1]:
        print(line)
    print(lines[-1])
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
