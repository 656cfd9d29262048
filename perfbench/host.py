"""Host facts the benchmark sizes itself from and records: cpus, memory,
load, other Spark JVMs, and the resident memory of the Spark process
tree (read from ``/proc``; psutil is not assumed)."""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def meminfo_mb() -> Dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb() -> int:
    """An eighth of MemAvailable in 256 MB steps, between 512 MB and
    1 GB: the workloads' data is tens of MB."""
    avail = meminfo_mb().get("MemAvailable", 4096)
    return max(512, min(1024, avail // 8 // 256 * 256))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> Dict[str, int]:
    """Host-wide ``steal``, ``idle`` (with iowait) and ``total`` jiffies
    from ``/proc/stat``: steal is time this machine's cpus were runnable
    but given to another tenant."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return {"steal": vals[7] if len(vals) > 7 else 0,
            "idle": vals[3] + vals[4], "total": sum(vals)}


def steal_share(before: Dict[str, int], after: Dict[str, int]) -> float:
    """Share of the busy (non-idle) cpu time between two readings that
    was stolen."""
    busy = (after["total"] - after["idle"]) - (before["total"] - before["idle"])
    return (after["steal"] - before["steal"]) / busy if busy > 0 else 0.0


def tree_cpu_s(root: int) -> float:
    """User plus system cpu seconds of ``root`` and its descendants,
    including their reaped children."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(root):
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            fields = stat.rpartition(")")[2].split()
            total += sum(int(x) for x in fields[11:15])
    return total / hz


def jit_cpu_s(pid: int) -> float:
    """User plus system cpu seconds of the JVM's JIT compiler threads
    (named ``C1 CompilerThread<n>`` / ``C2 CompilerThread<n>``). The JVM
    must keep them alive (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or the time of an exited one leaves this sum."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir) if os.path.isdir(task_dir) else ():
        if "CompilerThre" in (_read(f"{task_dir}/{tid}/comm") or ""):
            stat = _read(f"{task_dir}/{tid}/stat")
            if stat:
                total += sum(int(x) for x in
                             stat.rpartition(")")[2].split()[11:13])
    return total / hz


def _read(path: str) -> Optional[str]:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return None


def _pids() -> List[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms(exclude: Optional[int] = None) -> List[int]:
    """Pids of live Spark JVMs other than ``exclude``."""
    found = []
    for pid in _pids():
        if pid == exclude:
            continue
        cmd = _read(f"/proc/{pid}/cmdline")
        if cmd and "java" in cmd and "org.apache.spark" in cmd:
            found.append(pid)
    return found


def _tree(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for pid in _pids():
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            # the command name may hold spaces: ppid follows its ')'
            ppid = int(stat.rpartition(")")[2].split()[1])
            children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _pss_kb(pid: int) -> int:
    for line in (_read(f"/proc/{pid}/smaps_rollup") or "").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def rss_mb(root: int) -> Dict[str, float]:
    """Resident memory of ``root`` (the JVM: its RSS) and of its
    descendants (the forked Python daemons and workers: their PSS, which
    splits the pages they share instead of counting them once each)."""
    tree = _tree(root)
    workers = sum(_pss_kb(p) for p in tree[1:]) / 1024
    jvm = _status_kb(root, "VmRSS") / 1024
    return {"total_mb": jvm + workers, "jvm_mb": jvm,
            "workers_mb": workers, "workers": len(tree) - 1}


class RssSampler:
    """Polls the resident memory of a process tree on a thread and keeps
    the peak over the whole run and over the current window, each with
    its split at that moment. ``close`` stops and joins the thread."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak = self.window = {"total_mb": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        now = rss_mb(self.root)
        if now["total_mb"] > self.window["total_mb"]:
            self.window = now
        if now["total_mb"] > self.peak["total_mb"]:
            self.peak = now

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def take_window(self) -> Dict[str, float]:
        """The peak since the previous call (or the start); starts a new
        window."""
        self._sample()
        window, self.window = self.window, {"total_mb": 0.0}
        return window

    def close(self) -> Dict[str, float]:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak
