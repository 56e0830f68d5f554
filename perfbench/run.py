"""Repository benchmark entry point.

    python3 perfbench/run.py --workload {tpch,pgwire_mixed,pipeline,all} \
        --seed N --seconds S --trace {0,1}

Runs each workload in a fresh child process (``perfbench/workloads.py``)
that leads its own session, relays its output, and prints the workload's
result object as the last line.  ``--workload all`` runs the three in turn
and prints one result line each.

No process outlives the command.  This process makes itself the child
subreaper, so the Spark gateway JVMs, Python workers and the pgwire server
the child starts are reparented here when their parents exit, and it reaps
them.  The child leads a new session; every descendant stays in it (Spark's
Python daemon moves to a process group of its own, but not to another
session).  When the child has exited, or on error or SIGTERM/SIGINT, this
process sends SIGTERM to every member of that session, waits a grace
period, sends SIGKILL, and waits until no member is left.
"""

from __future__ import annotations

import argparse
import ctypes
import errno
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tpch", "pgwire_mixed", "pipeline")
GRACE_S = 10.0
PR_SET_CHILD_SUBREAPER = 36


class Terminated(Exception):
    pass


def _on_signal(signum, _frame):
    raise Terminated(signum)


def child_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the build
    directory, and let Spark's Python workers import the repository."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    pp = env.get("PYTHONPATH", "")
    env["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # every JVM, the spark-submit launcher too: no hsperfdata in the
    # system temporary directory
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"--conf spark.local.dir={os.path.join(tmp, 'spark-local')}",
            "pyspark-shell",
        ]
    )
    return env


def session_members(sid: int) -> list[int]:
    """Processes still in the child's session, zombies included."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(d))
    return out


def reap_all() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int, grace: float) -> None:
    """SIGTERM the session, wait up to ``grace``, SIGKILL what is left,
    and wait until nothing in it remains (reaping as we go)."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        for pid in session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while time.time() < deadline:
            reap_all()
            if not session_members(sid):
                return
            time.sleep(0.05)
    reap_all()


def run_one(args, workload: str) -> tuple[int, str | None]:
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--profile", args.profile,
    ]
    if args.fail_after is not None:
        cmd += ["--fail-after", str(args.fail_after)]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(), stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, start_new_session=True, text=True,
    )
    sid = proc.pid
    print(f"# workload {workload}: session {sid}", file=sys.stderr, flush=True)
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if last is not None:
                print(last, flush=True)
            last = line
        rc = proc.wait()
    finally:
        if proc.stdout is not None:
            proc.stdout.close()
        kill_session(sid, GRACE_S if proc.poll() is None else 2.0)
        proc.wait()
    left = session_members(sid)
    if left:
        print(f"# processes left in session {sid}: {left}", file=sys.stderr)
        return 1, None
    return rc, last


def main() -> int:
    ap = argparse.ArgumentParser(prog="python3 perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("full", "tiny"), default="full")
    ap.add_argument("--fail-after", type=float, default=None,
                    help="self-test hook: the workload raises after this many seconds")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "risinglight_spark")):
        print("perfbench: risinglight_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        # still safe: the session sweep below kills every descendant; only
        # reaping of orphans falls back to init
        print(
            f"perfbench: prctl(PR_SET_CHILD_SUBREAPER): "
            f"{errno.errorcode[ctypes.get_errno()]}",
            file=sys.stderr,
        )
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    # scratch of the previous run (executor staging, Spark local dirs, spans)
    shutil.rmtree(os.path.join(BUILD, "tmp"), ignore_errors=True)
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    try:
        for w in workloads:
            rc, last = run_one(args, w)
            try:
                result = json.loads(last) if rc == 0 and last else None
            except json.JSONDecodeError:
                result = None
            if result is None:
                if last:
                    print(last, flush=True)
                print(f"perfbench: workload {w} failed (exit {rc})", file=sys.stderr)
                return 1
            results.append(result)
    except Terminated as t:
        print(f"perfbench: terminated by signal {t.args[0]}", file=sys.stderr)
        return 128 + t.args[0]
    finally:
        reap_all()
    for r in results:
        print(json.dumps(r), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
