"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workload.py`` and ``README.md``) in a child
process, from the root of a checkout, and prints the child's result: one
``metric``/``info`` line per number, then one JSON object as the last
line.  Everything the run writes lands under ``.bench_work/`` in the
checkout.  Exits non-zero, without a result line, when the engine package
is missing or the run fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "airflow_postgres_to_s3_pipeline_spark"
TIMEOUT_S = 170


def child_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    # Spark's Python workers import the package by name: without the
    # checkout on PYTHONPATH every mapInPandas task fails to import it
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # session.py falls back to local[32].  Spark's task threads get half
    # the usable CPUs; the other half runs this process, the JVM's JIT and
    # GC threads and the Python workers, so the JIT finishes warming before
    # the timed phase (see README.md)
    env["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # py4j's connection-info file and other Python temp files
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return env


def spark_cpus() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``.  The JVM and Spark's Python daemon stay
    in the child's session even though the daemon makes its own process
    group."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # process ended between listdir and open
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # zombies hold nothing
            pids.append(int(d))
    return pids


def wait_session_gone(sid: int, limit_s: float) -> None:
    """Wait until every process the child started has ended; kill what is
    left after ``limit_s``."""
    deadline = time.monotonic() + limit_s
    while pids := session_pids(sid):
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    # cwd=work keeps spark-warehouse/ and derby.log out of the checkout root
    proc = subprocess.Popen(cmd, cwd=work, env=child_env(work),
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        wait_session_gone(proc.pid, 0)
        print(f"error: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 3
    wait_session_gone(proc.pid, 10)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        for line in lines:
            if not line.startswith("{"):
                print(line)
        print(f"error: workload exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print(out.strip())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
