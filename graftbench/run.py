"""Benchmark entry point.

    python3 graftbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

Runs one workload in a fresh Spark JVM (``local[nproc]``) with a
private warehouse, local dir and temp dir under
``.graftbench_runs/<run>/``, reaps the JVM and Python-worker process
tree, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones. Raw samples
and spans stay in the run's ``artifact.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_mix", "curate_ingest")
TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:  # field 6 of stat: session id
                pids.append(int(entry))
    return pids


def tree_rss_mb(sid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total / (1024.0 * 1024.0)


def reap(sid: int) -> None:
    """Wait for the run's process session (the JVM, Python workers) to
    exit; after a grace period terminate, then kill, what is left."""
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def child_env(run_dir: str, cpus: int) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONDONTWRITEBYTECODE="1",
        # Every JVM (launcher and Spark): temp files in the run directory,
        # no hsperfdata file under /tmp.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "minoan_athenaeum_spark", "__init__.py")):
        print("graftbench: minoan_athenaeum_spark not found beside graftbench/", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        ROOT, ".graftbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "root": run_dir,
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=ROOT,
        env=child_env(run_dir, cpus),
        start_new_session=True,
        stdout=sys.stderr,
    )
    peak = [0.0]
    stop = threading.Event()

    def sample():
        while not stop.wait(0.25):
            peak[0] = max(peak[0], tree_rss_mb(proc.pid))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = -1
    stop.set()
    sampler.join()
    reap(proc.pid)
    proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        print(f"graftbench: worker exited with {code}", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        result = json.load(fh)
    if args.trace:
        result["metrics"]["proc.peak_rss_mb"] = {"value": peak[0], "unit": "MB"}
    for entry in os.listdir(run_dir):
        if entry not in ("artifact.json", "result.json"):
            shutil.rmtree(os.path.join(run_dir, entry), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
