"""Process-tree and host accounting read from ``/proc``.

A run's processes (the worker, its JVM and the JVM's Python workers) share
one session id: the worker's pid, since ``run.py`` starts it in a new
session.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def session_pids(sid: int) -> list[int]:
    """Processes whose session id is ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(entry)
            if fields is not None and int(fields[3]) == sid:  # state ppid pgrp session
                pids.append(int(entry))
    return pids


def _thread_ticks(pid: int, prefix: str) -> int:
    """utime + stime of the live threads of ``pid`` whose name starts
    with ``prefix``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(prefix):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"{pid}/task/{tid}")
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(sid: int) -> tuple[float, float]:
    """CPU time, user plus system, used so far by the session's processes
    (including their children that have exited and been reaped), and the
    part of it spent in the JVM's JIT compiler threads.  A process is
    charged only while it runs, so time the hypervisor gives to other
    guests (steal) is not in it."""
    ticks = jit = 0
    for pid in session_pids(sid):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if fields[0] != "Z":
            jit += _thread_ticks(pid, "C1 Compiler") + _thread_ticks(pid, "C2 Compiler")
    return ticks / CLK_TCK, jit / CLK_TCK


def tree_rss_mb(sid: int) -> float:
    """Resident memory of the session's processes, counted as proportional
    set size so that pages shared between forked Python workers count once."""
    total_kb = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


def stop_session(sid: int) -> None:
    """Kill every process left in the session and wait until all are gone."""
    deadline = time.monotonic() + 10
    while True:
        pids = session_pids(sid)
        if not pids or time.monotonic() > deadline:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.05)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)
