"""Process-tree CPU and memory, and hypervisor steal, read from ``/proc``.

The program runs as one Python driver, the JVM it launches and the Python
workers the JVM forks. CPU of the whole tree is the sum over live
descendants of user+system time including reaped children (``cutime`` and
``cstime``), so a worker that exits between two readings still counts,
through the parent that reaped it. Only reads ``/proc``; changes nothing.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants that are alive now."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_s() -> tuple[float, float]:
    """User+system CPU seconds, reaped children included, of the whole
    tree and of its Python workers (Python processes below the root)."""
    root = os.getpid()
    total = workers = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after the name: utime=11, stime=12, cutime=13, cstime=14
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        total += ticks
        if pid != root and _comm(pid).startswith("python"):
            workers += ticks
    return total / _TICK, workers / _TICK


def tree_rss_mb(pids: list[int]) -> dict[int, float]:
    """Resident MB of each process that is still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE / 2**20
        except OSError:
            pass
    return out


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def stretch_free(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """``wall_s`` with hypervisor steal taken out. While the op ran, its
    processes got ``cpu_s`` of CPU and the machine's runnable vCPUs lost
    ``steal_s`` to other guests; the op's parallelism was
    ``(cpu_s + steal_s) / wall_s``, so the same CPU at that parallelism
    with nothing stolen takes ``wall_s * cpu_s / (cpu_s + steal_s)``."""
    return wall_s * cpu_s / (cpu_s + steal_s) if cpu_s > 0 else wall_s


class RssSampler:
    """Samples the tree's summed RSS on a background thread and keeps the
    peak. The process list is refreshed every ``refresh`` samples, so
    Python workers forked later are picked up. Only the JVM and Python
    processes count: a child the JVM forks (``chmod``, via vfork) shares
    the JVM's memory until it execs and would count it twice."""

    def __init__(self, interval_s: float = 0.05, refresh: int = 10):
        self.interval_s = interval_s
        self.refresh = refresh
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % self.refresh == 0:
                pids = [p for p in tree_pids() if _comm(p) == "java" or _comm(p).startswith("python")]
            rss = tree_rss_mb(pids)
            total = sum(rss.values())
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_parts = {f"{pid}:{_comm(pid)}": round(mb) for pid, mb in rss.items()}
            n += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
