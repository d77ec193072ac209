"""Find and stop every process a benchmark run started.

Each run gets a token.  The workload child is started with the
environment variable ``PERFBENCH_RUN=<token>``, and everything it starts
inherits it: the py4j JVM, and through the JVM the ``pyspark.daemon``
Python workers.  The daemon moves itself into a process group of its own,
so the child's process group does not reach it; the token in
``/proc/<pid>/environ`` does.  Only ``/proc`` is read (psutil is not
available).
"""

from __future__ import annotations

import os
import signal
import time

MARKER = "PERFBENCH_RUN"


def marked_pids(token: str) -> list[int]:
    """Live processes whose environment carries ``PERFBENCH_RUN=<token>``.

    Zombies are left out: their environment can no longer be read, and
    they hold no resources beyond the process-table slot."""
    needle = f"{MARKER}={token}".encode()
    me = os.getpid()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:  # exited meanwhile, or not readable by us
            continue
        if needle in env.split(b"\0"):
            found.append(int(name))
    return sorted(found)


def describe(pid: int) -> str:
    """``pid: command line`` for a report, or ``pid: ?`` once it is gone."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        cmd = "?"
    return f"{pid}: {cmd[:160]}"


def wait_gone(token: str, timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for the run's processes to exit;
    return the ones still alive."""
    deadline = time.monotonic() + timeout
    while True:
        alive = marked_pids(token)
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.1)


def _signal_all(pgid: int | None, pids: list[int], sig: int) -> None:
    if pgid is not None:
        try:
            os.killpg(pgid, sig)
        except (ProcessLookupError, PermissionError):
            pass
    for pid in pids:
        try:
            os.kill(pid, sig)
        except (ProcessLookupError, PermissionError):
            pass


def reap(token: str, pgid: int | None, grace: float) -> tuple[list[str], list[str]]:
    """Stop what is left of a run.

    Waits ``grace`` seconds for the run's processes to exit by themselves
    (the JVM exits once the driver's stdin pipe closes, the Python
    daemon once the JVM is gone).  Whatever survives the grace period is
    a leak: it is described, sent SIGTERM, then SIGKILL.  Returns
    ``(leaked, unkillable)`` as descriptions; a clean run returns two
    empty lists."""
    alive = wait_gone(token, grace)
    leaked = [describe(p) for p in alive]
    if alive:
        _signal_all(pgid, alive, signal.SIGTERM)
        alive = wait_gone(token, 5.0)
    if alive:
        _signal_all(pgid, alive, signal.SIGKILL)
        alive = wait_gone(token, 5.0)
    return leaked, [describe(p) for p in alive]
