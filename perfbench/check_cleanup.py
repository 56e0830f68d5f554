"""Self-test: no process the benchmark starts outlives its command.

    python3 perfbench/check_cleanup.py

Runs ``perfbench/run.py`` on the tiny input profile three ways:

1. a normal exit (pgwire_mixed: a server process and two gateway JVMs),
2. an injected failure part-way through (pipeline, ``--fail-after``),
3. SIGTERM to ``run.py`` once the workload's JVM is up (pipeline).

This process makes itself the child subreaper, so anything that escaped
``run.py``'s session would be reparented here.  After each case it asserts
that nothing is left in the workload's session and that this process has
no children, live or zombie.  Exits 0 when all three cases hold.
"""

from __future__ import annotations

import ctypes
import os
import re
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def session_members(sid: int) -> list[int]:
    return [
        int(d) for d in os.listdir("/proc")
        if d.isdigit() and (st := _stat(d)) and int(st[3]) == sid
    ]


def my_children() -> list[int]:
    me = os.getpid()
    return [
        int(d) for d in os.listdir("/proc")
        if d.isdigit() and (st := _stat(d)) and int(st[1]) == me
    ]


def java_in(sid: int) -> bool:
    for pid in session_members(sid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return True
        except OSError:
            pass
    return False


def start(workload: str, *extra: str) -> tuple[subprocess.Popen, int]:
    """Start run.py; return it and the session it names on stderr.  A
    thread keeps draining stderr so Spark's log cannot fill the pipe."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--profile", "tiny", "--seed", "1", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    found: list[int] = []
    seen = threading.Event()

    def drain() -> None:
        for line in proc.stderr:
            m = re.match(r"# workload \S+: session (\d+)", line)
            if m and not found:
                found.append(int(m.group(1)))
                seen.set()
        seen.set()

    threading.Thread(target=drain, daemon=True).start()
    seen.wait(timeout=300)
    assert found, "run.py never named its workload session"
    return proc, found[0]


def finish(proc: subprocess.Popen, sid: int, name: str, timeout: float = 600) -> tuple[int, str]:
    out = proc.stdout.read()
    proc.wait(timeout=timeout)
    time.sleep(0.5)
    left = session_members(sid)
    kids = my_children()
    assert not left, f"{name}: processes left in session {sid}: {left}"
    assert not kids, f"{name}: orphans reparented to the self-test: {kids}"
    return proc.returncode, out


def main() -> int:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    p, sid = start("pgwire_mixed", "--seconds", "2")
    rc, out = finish(p, sid, "normal exit")
    assert rc == 0 and out.strip().splitlines()[-1].startswith('{"correct": true'), (rc, out[-500:])
    print("normal exit: ok")

    p, sid = start("pipeline", "--seconds", "60", "--fail-after", "25")
    rc, out = finish(p, sid, "injected failure")
    assert rc != 0 and '"correct"' not in out, (rc, out[-500:])
    print("injected failure: ok")

    p, sid = start("pipeline", "--seconds", "60")
    deadline = time.time() + 300
    while not java_in(sid):
        assert time.time() < deadline, "the workload never started its JVM"
        time.sleep(0.2)
    time.sleep(3)
    p.send_signal(signal.SIGTERM)
    rc, out = finish(p, sid, "SIGTERM")
    assert rc != 0 and '"correct"' not in out, (rc, out[-500:])
    print("SIGTERM mid-run: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
