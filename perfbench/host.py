"""Host record and process-tree accounting, read from /proc.

The host record lets a run taken on a loaded host be discarded by rule:
it carries the core count, load average at start and end, and the steal
and iowait shares of all CPU time over the run.
"""

from __future__ import annotations

import os
import platform
import time
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def total_ram_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _cpu_jiffies() -> dict[str, int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    first = Path("/proc/stat").read_text().splitlines()[0].split()
    return dict(zip(names, (int(x) for x in first[1:9])))


class HostRecord:
    """Snapshot at construction; :meth:`finish` adds the end-of-run view."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self._t0 = time.time()
        self._load0 = _loadavg()
        self._jiffies0 = _cpu_jiffies()

    def finish(self, spark_conf: dict, java_version: str) -> dict:
        import pyspark

        j1 = _cpu_jiffies()
        delta = {k: j1[k] - self._jiffies0[k] for k in j1}
        total = sum(delta.values()) or 1
        return {
            "nproc": nproc(),
            "ram_gb": round(total_ram_bytes() / 2**30, 1),
            "loadavg_start": self._load0,
            "loadavg_end": _loadavg(),
            "steal_share": delta["steal"] / total,
            "iowait_share": delta["iowait"] / total,
            "wall_s": time.time() - self._t0,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java_version,
            "seed": self.seed,
            "spark_conf": spark_conf,
        }


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process exited while we walked /proc
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of this process tree (the JVM and the Python
    workers included), counting reaped children through cutime/cstime."""
    ticks = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in process_tree():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def wait_for_children(timeout_s: float = 60.0) -> list[int]:
    """Wait until this process has no descendants left; returns the pids
    still alive at the deadline."""
    deadline = time.time() + timeout_s
    while True:
        alive = [p for p in process_tree() if p != os.getpid()]
        if not alive or time.time() > deadline:
            return alive
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
