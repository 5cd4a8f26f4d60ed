"""Process-tree accounting from ``/proc``: CPU seconds, peak RSS and the
hypervisor steal counter.

The benchmark's process tree is the Spark driver's Python process (this
one), the JVM it launches, and the JVM's Python workers. CPU and peak RSS
are read from the kernel's own counters at pass boundaries, so nothing
samples while a pass runs: CPU is ``utime + stime`` plus the reaped children's
share (``cutime + cstime``, which keeps exited Python workers counted
through the worker daemon), and peak RSS is ``VmHWM``, reset at pass
start through ``/proc/<pid>/clear_refs``.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # field 2 (comm) is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, str]:
    """``{pid: kind}`` for ``root`` and all its descendants, where kind is
    ``jvm`` (a java process), ``pyworker`` (anything below the JVM) or
    ``driver`` (the rest: the Spark driver's Python process and helpers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(int(name))[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    kinds = {root: "driver"}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if pid not in kinds and ppid in kinds:
                if kinds[ppid] in ("jvm", "pyworker"):
                    kinds[pid] = "pyworker"
                else:
                    kinds[pid] = "jvm" if _comm(pid) == "java" else "driver"
                changed = True
    return kinds


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_seconds(pids) -> dict[int, float]:
    """Cumulative CPU seconds (own + reaped children) per live pid."""
    out = {}
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        out[pid] = sum(int(x) for x in f[11:15]) / CLK_TCK
    return out


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_jiffies() -> int:
    """Summed hypervisor steal counter (USER_HZ) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class PassMeter:
    """CPU, peak RSS and steal share of one pass of the process tree."""

    def __init__(self, root: int, ncpu: int):
        self.root = root
        self.ncpu = ncpu

    def start(self) -> None:
        self.kinds = tree(self.root)
        reset_peak_rss(self.kinds)
        self.steal0 = steal_jiffies()
        self.cpu0 = cpu_seconds(self.kinds)

    def stop(self, wall_s: float) -> dict:
        kinds = tree(self.root)
        cpu1 = cpu_seconds(kinds)
        by_kind = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, kind in kinds.items():
            if pid in cpu1:
                by_kind[kind] += cpu1[pid] - self.cpu0.get(pid, 0.0)
        stolen = (steal_jiffies() - self.steal0) / CLK_TCK
        return {
            "cpu_s": sum(by_kind.values()),
            "driver_cpu_s": by_kind["driver"],
            "jvm_cpu_s": by_kind["jvm"],
            "pyworker_cpu_s": by_kind["pyworker"],
            "peak_rss_mb": peak_rss_mb(kinds),
            "steal_share": stolen / (self.ncpu * max(wall_s, 1e-9)),
        }


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that Python workers whose JVM has
    ended are reparented here and can be waited for. Best effort."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _alive(pid: int, start: str, root: int) -> bool:
    """Whether ``pid`` is still the process that started at ``start`` and
    has not ended. A zombie of ``root``'s has not ended until ``root``
    reaps it; any other zombie is some other process's to reap."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return False
    return f[19] == start and (f[0] != "Z" or int(f[1]) == root)


def stop_tree(root: int, grace_s: float = 20.0) -> None:
    """Stop every descendant of ``root`` and wait until each has ended.

    The Spark JVM is ``root``'s child through the py4j gateway: closing
    the gateway and its stdin makes it exit on its own, and its Python
    workers with it. Whatever is left after ``grace_s`` gets SIGTERM,
    then SIGKILL. Children of ``root`` are reaped, orphans too when
    ``root`` is a subreaper (:func:`become_subreaper`); any others are
    polled until they are gone."""
    import signal
    import time

    def descendants() -> dict[int, str]:
        found = {}
        for pid in tree(root):
            if pid != root:
                try:
                    found[pid] = _stat_fields(pid)[19]
                except OSError:
                    pass
        return found

    def reap() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return

    procs = descendants()
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:
                pass
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            popen = getattr(gateway, "proc", None)
            if popen is not None and popen.stdin is not None:
                try:
                    popen.stdin.close()
                except OSError:
                    pass
            SparkContext._gateway = None
            SparkContext._jvm = None
    except ImportError:
        pass

    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        procs.update(descendants())
        if sig is not None:
            for pid, start in procs.items():
                if _alive(pid, start, root):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            reap()
            procs.update(descendants())
            if not any(_alive(pid, start, root) for pid, start in procs.items()):
                return
            time.sleep(0.05)
    reap()
