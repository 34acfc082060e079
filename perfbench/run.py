"""The benchmark of record for flumedb_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (``serve``, ``replay`` or ``catalog``; see README.md)
in a fresh worker process with a fresh run directory under
``.perfbench_runs/`` in the checkout. The worker is killed, with
everything it started, if it outlives ``--timeout``; the
run directory is deleted either way, and this process returns only
once no process the worker started is left, reaped ones included.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). Any failure to run exits non-zero
without a result line.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "replay", "catalog")
MARKER = "PERFBENCH_RUN"
PR_SET_CHILD_SUBREAPER = 36


def run_members(token: str) -> list[int]:
    """Live (non-zombie) processes carrying this run's marker in their
    environment. Every process the worker starts inherits it: the JVM,
    and the pyspark.daemon that moves itself to its own process group."""
    marker = f"{MARKER}={token}".encode() + b"\0"
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if marker not in f.read():
                    continue
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2] != "Z":
            pids.append(int(entry))
    return pids


def become_subreaper() -> None:
    """Make orphaned descendants of the worker (the launcher JVM that
    ``spark-submit`` leaves behind, a killed worker's JVM) children of
    this process instead of init, so that :func:`reap` collects them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_all(token: str, sig: int) -> None:
    for pid in run_members(token):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_run(token: str, grace_s: float = 10.0) -> int:
    """Let the run's processes exit by themselves for ``grace_s``, then
    SIGTERM and finally SIGKILL what is left; return once none is
    alive. Returns how many had to be signalled."""
    def wait(seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while run_members(token) and time.monotonic() < deadline:
            reap()
            time.sleep(0.1)
        reap()

    wait(grace_s)
    left = run_members(token)
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        kill_all(token, sig)
        wait(wait_s)
    if run_members(token):
        raise RuntimeError(f"processes of run {token} survived SIGKILL")
    return len(left)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=150.0,
                    help="hard limit on the worker's wall time, seconds")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "flumedb_spark")):
        print(f"perfbench: no flumedb_spark package under {ROOT}", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(runs, "traces")
    os.makedirs(run_dir)
    os.makedirs(traces, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir,
        "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
    ]
    become_subreaper()
    token = f"{os.getpid()}-{time.time_ns()}"
    proc = subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
        env={**os.environ, MARKER: token},
    )
    timed_out = False
    try:
        stdout, _ = proc.communicate(timeout=args.timeout)
    except subprocess.TimeoutExpired:
        timed_out = True
        kill_all(token, signal.SIGKILL)
        stdout, _ = proc.communicate()
    finally:
        signalled = stop_run(token)
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = stdout.strip().splitlines()
    print("# supervisor " + json.dumps({
        "run": token, "exit": proc.returncode, "timed_out": timed_out,
        "signalled_after_exit": signalled,
    }), flush=True)
    if timed_out or proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines) + "\n")
        print(f"perfbench: worker failed (exit {proc.returncode}, "
              f"timed out: {timed_out})", file=sys.stderr)
        return proc.returncode or 3
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
