"""Host probes and process bookkeeping for the benchmark, all read from /proc.

The benchmark starts its Spark worker with ``start_new_session=True``, so
every process it leads to (driver python, JVM, pyspark daemon and python
workers) shares the worker's session id even after the pyspark daemon moves
into its own process group. Session membership is what the RSS sampler sums
and what the final wait drains. The benchmark is also the child subreaper of
those processes: one orphaned by the exit of its parent becomes the
benchmark's child, and the final wait reaps it, so none is left behind even
as a zombie.
"""

from __future__ import annotations

import ctypes
import os
import re
import shutil
import signal
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, float]:
    out: dict[str, float] = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemFree", "MemAvailable"):
                out[key] = int(rest.split()[0]) / 1024.0
    return out


def driver_mem() -> str:
    """Spark driver heap for this host: a quarter of MemTotal (so that it
    does not change from run to run), at most half of MemAvailable, in
    256 MiB steps between 1 and 4 GiB. The session factory's own default
    (48g) assumes a far larger machine."""
    mem = meminfo_mb()
    mb = min(mem["MemTotal"] / 4, mem["MemAvailable"] / 2, 4096)
    return f"{max(int(mb) // 256 * 256, 1024)}m"


def host_snapshot() -> dict:
    mem = meminfo_mb()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "nproc": nproc(),
        "loadavg": load,
        # cumulative since boot; the difference over a run is the CPU time
        # the hypervisor gave to other guests while this one wanted it
        "cpu_steal_s": int(cpu[8]) / hz,
        "cpu_idle_s": int(cpu[4]) / hz,
        "mem_free_mb": round(mem["MemFree"], 1),
        "mem_available_mb": round(mem["MemAvailable"], 1),
    }


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_dead(parent: Path, pattern: str) -> list[str]:
    """Remove ``parent/<name>`` entries whose name matches ``pattern`` (one
    group capturing a pid) and whose pid is dead. Such entries leak when a
    run is SIGKILLed, because atexit handlers never run then."""
    removed = []
    if not parent.is_dir():
        return removed
    rx = re.compile(pattern)
    for entry in parent.iterdir():
        m = rx.fullmatch(entry.name)
        if m and not pid_alive(int(m.group(1))):
            shutil.rmtree(entry, ignore_errors=True)
            removed.append(str(entry))
    return removed


def become_subreaper() -> None:
    """Adopt the orphaned descendants of this process (Linux prctl)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rfind(")") + 2:].split()


def session_pids(sid: int, zombies: bool = False) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        # after the name: state ppid pgrp session ...; a zombie holds no
        # memory
        if (fields is not None and int(fields[3]) == sid
                and (zombies or fields[0] != "Z")):
            pids.append(int(name))
    return pids


def session_rss_mb(sid: int) -> dict[str, float]:
    """RSS of the session's processes, split into the JVM and the rest."""
    pages = {"jvm": 0, "python": 0}
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/statm") as f:
                pages[kind] += int(f.read().split()[1])
        except OSError:
            continue
    return {k: v * _PAGE / 2**20 for k, v in pages.items()}


def drain_session(sid: int, grace_s: float) -> None:
    """Wait until no process of the session is left, zombies included
    (after ``become_subreaper`` the orphaned ones are reaped here); SIGKILL
    what still runs after ``grace_s`` seconds, then wait for those too."""
    deadline = time.monotonic() + grace_s
    while True:
        _reap_children()
        if not session_pids(sid, zombies=True):
            return
        if time.monotonic() > deadline:
            for pid in session_pids(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)
