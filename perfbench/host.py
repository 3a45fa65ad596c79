"""Host facts recorded with every result, and process-tree memory and CPU
readers.

Wall-clock numbers on a shared host swing with load and CPU steal, so each
result carries the core count, memory, versions, and load/steal measured
before and after the run.
"""

from __future__ import annotations

import os
import subprocess
import threading


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS`` set)."""
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) / 1024.0
    return out


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _java_version() -> str:
    try:
        res = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({e.__class__.__name__})"
    lines = (res.stderr or res.stdout).strip().splitlines()
    return lines[0] if lines else "unknown"


class HostProbe:
    """Snapshot of load average and /proc/stat taken at construction;
    :meth:`facts` adds the after-snapshot and the steal share between."""

    def __init__(self):
        with open("/proc/loadavg") as f:
            self.load_before = [float(x) for x in f.read().split()[:3]]
        self.cpu_before = _cpu_times()

    def facts(self) -> dict:
        import pyspark

        with open("/proc/loadavg") as f:
            load_after = [float(x) for x in f.read().split()[:3]]
        cpu_after = _cpu_times()
        delta = [a - b for a, b in zip(cpu_after, self.cpu_before)]
        total = sum(delta[:8]) or 1  # guest time is already inside user
        steal = delta[7] if len(delta) > 7 else 0
        mem = _meminfo_mb()
        return {
            "nproc": cores(),
            "mem_total_mb": round(mem.get("MemTotal", 0.0), 1),
            "mem_available_mb": round(mem.get("MemAvailable", 0.0), 1),
            "pyspark": pyspark.__version__,
            "java": _java_version(),
            "loadavg_before": self.load_before,
            "loadavg_after": load_after,
            "cpu_steal_share": round(steal / total, 6),
            "cpu_busy_share": round(1.0 - (delta[3] + delta[4]) / total, 6),
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k. Python workers fork from one daemon and share
    most of their pages, so summing plain RSS over them would count those
    pages once per worker alive at the sample."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants (the
    driver, the JVM it launched, and the JVM's Python workers)."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_bytes(pid)
        stack.extend(kids.get(pid, ()))
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, with the children each has reaped. Unlike wall-clock
    figures, CPU time leaves out the time a shared host's hypervisor steals
    from the machine."""
    kids = _children_map()
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's resident memory on a daemon thread;
    ``peak_mb``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)
