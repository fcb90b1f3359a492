"""Process-tree CPU and memory from ``/proc``.

The tree is this (driver) Python process and its descendants: the JVM
that PySpark launches and the Python worker daemon and workers the JVM
forks.  Each process is put in one of three roles:

* ``driver_py`` - this process;
* ``jvm`` - any ``java`` descendant;
* ``python_worker`` - any other descendant (``pyspark.daemon`` and the
  workers it forks).

Memory is proportional set size (PSS, from ``smaps_rollup``): pages
shared between processes - the forked workers share most of theirs
with the daemon - are split among them instead of counted in each.

CPU-seconds per role are cumulative user+system time.  A worker that
exits is reaped by its parent, whose ``cutime``/``cstime`` then carry
its time, so children's time is added for the JVM and the daemon (the
reaping parents inside the tree) but not for this process, whose
reaped children are the benchmark's own helper processes.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
ROLES = ("driver_py", "jvm", "python_worker")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces or parens; fields resume after the last ')'
    f = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(f[1])
    own = (int(f[11]) + int(f[12])) / _TICK
    kids = (int(f[13]) + int(f[14])) / _TICK
    return ppid, own, kids


def _pss(pid: int) -> int:
    """Proportional set size of ``pid`` in bytes (0 once it exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    """Snapshots of the process tree rooted at ``root`` (default: this
    process).  ``snapshot()`` is synchronous and cheap (one ``/proc``
    scan); ``start_sampling()`` adds a background thread that tracks
    the peak memory between ``start_sampling()`` and
    ``stop_sampling()``."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5) -> None:
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self.peak_mem = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._roles: dict[int, str] = {}

    def _tree(self) -> dict[int, tuple[int, float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        members = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, s in stats.items():
                if pid not in members and s[0] in members:
                    members.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in members if pid in stats}

    def _role(self, pid: int) -> str:
        role = self._roles.get(pid)
        if role is None:
            if pid == self.root:
                role = "driver_py"
            elif os.path.basename(_cmd(pid)) == "java":
                role = "jvm"
            else:
                role = "python_worker"
            self._roles[pid] = role
        return role

    def snapshot(self) -> dict:
        """CPU-seconds per role of the tree now."""
        cpu = dict.fromkeys(ROLES, 0.0)
        for pid, (_, own, kids) in self._tree().items():
            role = self._role(pid)
            cpu[role] += own + (kids if role != "driver_py" else 0.0)
        return cpu

    def memory(self) -> int:
        """Total PSS bytes of the tree now."""
        return sum(_pss(pid) for pid in self._tree())

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mem = max(self.peak_mem, self.memory())

    def start_sampling(self) -> None:
        self.peak_mem = self.memory()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, name="proctree-sampler", daemon=True)
        self._thread.start()

    def stop_sampling(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self.peak_mem = max(self.peak_mem, self.memory())
        return self.peak_mem


def process_start_time() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process
    started, from ``/proc/self/stat`` and ``/proc/uptime``."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK
