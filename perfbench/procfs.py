"""Process-tree helpers over ``/proc`` (no psutil).

A benchmark run starts one worker process as the leader of a new
session, with a run tag in its environment. Every process it causes —
the Spark gateway JVM, the ``pyspark.daemon`` and its forked Python
workers — inherits either the session id or the tag, so the run's
processes can be found even after they are re-parented.
"""

from __future__ import annotations

import os
import signal
import time

TAG_VAR = "PERFBENCH_RUN_TAG"


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _has_tag(pid: int, tag: str) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            return f"{TAG_VAR}={tag}".encode() in f.read().split(b"\0")
    except OSError:
        return False


def run_members(session_id: int, tag: str | None = None) -> list[int]:
    """Live (non-zombie) processes in ``session_id`` or carrying ``tag``,
    excluding the caller."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        pid = int(name)
        fields = _stat_fields(pid)
        if fields is None or fields[0] == "Z":
            continue
        if int(fields[3]) == session_id or (tag and _has_tag(pid, tag)):
            out.append(pid)
    return out


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        cmd = "?"
    return f"{pid} {cmd[:160]}"


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (``VmHWM``) of one process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_gone(session_id: int, tag: str | None, timeout_s: float) -> list[int]:
    """Poll until no run member is alive or ``timeout_s`` passes; return
    the survivors."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = run_members(session_id, tag)
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.1)


def kill_all(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK
