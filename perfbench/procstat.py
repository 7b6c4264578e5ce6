"""CPU time and resident memory of this process and all its
descendants (the session's JVM and its Python workers), read from
``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[str]:
    """Pids of ``root`` (default: this process) and its descendants."""
    root = str(root or os.getpid())
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st:
                parent[pid] = st[1]
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def cpu_seconds(pids: list[str] | None = None) -> float:
    """User + system CPU seconds of the tree, counting reaped children
    (exited Python workers) through their parent's cutime/cstime."""
    total = 0
    for pid in pids or tree():
        st = _stat(pid)
        if st:  # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[str] | None = None) -> int:
    total = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def memory_pids() -> list[str]:
    """This process, its JVM (a ``java`` child) and the Python workers
    below it.  Helpers the JVM forks (to run ``readlink`` and the like)
    share its pages until they exec and carry the forking thread's name
    or ``java``, so adding their RSS would count the JVM twice."""
    me = str(os.getpid())
    out = []
    for p in tree():
        k, st = _comm(p), _stat(p)
        if k.startswith("python") or (k == "java" and st and st[1] == me):
            out.append(p)
    return out


def _by_kind(per: dict[str, int]) -> dict:
    """RSS in MB and process count by process name (java, python...)."""
    out: dict = {}
    for pid, b in per.items():
        kind = _comm(pid)
        mb, n = out.get(kind, (0.0, 0))
        out[kind] = (mb + b / 1e6, n + 1)
    return out


class PeakRss:
    """Background sampler of the summed RSS of :func:`memory_pids`;
    ``peak`` is the high-water mark since the last :meth:`reset`."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.parts: dict = {}
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, n = memory_pids(), 0
        while not self._stop.wait(self.interval):
            n += 1
            if n % 10 == 0:  # workers come and go: refresh the tree
                pids = memory_pids()
            if self.active:
                per = {p: rss_bytes([p]) for p in pids}
                total = sum(per.values())
                if total > self.peak:
                    self.peak = total
                    self.parts = _by_kind(per)

    def reset(self) -> None:
        self.peak = rss_bytes(memory_pids())
        self.parts = {}

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
