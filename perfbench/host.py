"""Host probes: peak RSS and CPU time of this process tree and, around
the timed window, the CPU steal/idle shares and the load average.

The RSS sampler sums ``VmRSS`` over this process and every descendant
(the driver JVM and its Python workers) on a background thread and
keeps the maximum. The steal, idle and load figures are kept beside the
metrics, not in them, so a drift between runs can be attributed to the
host instead of the code.
"""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return kids


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_pids(root: int, memory_owners: bool = False) -> list[int]:
    """This process and its descendants. With ``memory_owners``, leave
    out the JVM's helper children that are not Python workers: the
    processes Hadoop forks to run ``chmod`` and the like share the JVM's
    memory until they exec, so counting them would count the JVM twice."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        kids = _children(pid)
        if memory_owners and _exe(pid) == "java":
            kids = [c for c in kids if _exe(c).startswith("python")]
        todo.extend(kids)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> dict[int, int]:
    return {p: _rss_kb(p) for p in tree_pids(root, memory_owners=True)}


class RssSampler:
    """Background sampler of this process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total_mb = sum(tree_rss_kb(root).values()) / 1024.0
            self.peak_mb = max(self.peak_mb, total_mb)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user nice system
    idle iowait irq softirq steal (jiffies)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    return {
        "steal_pct": 100.0 * delta[7] / total,
        "idle_pct": 100.0 * (delta[3] + delta[4]) / total,
    }


def load_average() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_ticks(root: int) -> dict[int, int]:
    """User plus system CPU ticks of each process in this tree, its
    reaped children included."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return out


def cpu_s_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree spent between two ``tree_cpu_ticks`` reads;
    a process that started in between counts from zero."""
    return _TICK_S * sum(t - before.get(pid, 0) for pid, t in after.items())

