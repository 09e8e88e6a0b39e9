"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload rag_ingest --seed 1 --seconds 15 --trace 0

Each run starts a fresh worker process (``perfbench.worker``) in its own
process group, so set-up time is real and no two Spark sessions overlap,
and stops that whole group before it exits. Inputs are generated from the
seed under ``.perfbench/`` in the repository root; the query tables are
generated once and reused by later runs. ``--trace 1`` makes a traced run
that prints the per-layer metrics and writes its spans as JSON lines to
``.perfbench/traces/``. Exits non-zero, printing no result, if the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
TIMEOUT_S = 170
DRIVER_MEMORY = "1g"  # the inputs are small; a capped heap keeps RSS meaningful and steady


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``: the worker, the JVM
    and the Python workers, which sit in process groups of their own."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
            if state != "Z" and os.getsid(int(name)) == sid:
                out.append(int(name))
        except (OSError, IndexError):
            continue  # the process ended while we looked
    return out


def stop_session(proc: subprocess.Popen) -> None:
    """SIGKILL whatever is left of the worker's session and wait until
    every member has ended."""
    deadline = time.monotonic() + 30
    while True:
        for pid in session_members(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()
        if not session_members(proc.pid) or time.monotonic() > deadline:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(STATE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=STATE)
    result = os.path.join(work, "result.json")
    trace_out = ""
    if args.trace:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_out = os.path.join(STATE, "traces", f"{args.workload}-{args.seed}.jsonl")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("MIDDLEWARES", "SPARK_GRAFT_EXTRA_CONF", "SPARK_MASTER")
    }
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (launcher and driver) keeps its files inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.makedirs(env["TMPDIR"])
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", os.path.join(STATE, "data"),
        "--result", result, "--trace-out", trace_out,
    ]

    def interrupted(signum, frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, interrupted)  # the finally blocks still run
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            code = -1
        finally:
            stop_session(proc)
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
