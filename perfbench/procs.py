"""Process-tree helpers (Linux ``/proc``): resident memory of the tree
(this process, the Spark JVM it launched, the Python workers the JVM
forks), CPU pinning of every thread in it, and stopping the JVM's tree."""

from __future__ import annotations

import os
import signal
import threading
import time


def _parents() -> dict[int, int]:
    """{pid: ppid} for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        out[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int, parents: dict[int, int] | None = None) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in (parents or _parents()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process tree: the summed RSS at the
    fullest of the samples a daemon thread takes every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int) -> None:
        parents = _parents()
        total = 0
        for p in descendants(me, parents):
            exe = _exe(p)
            if exe.endswith("/java") and exe == _exe(parents.get(p, 0)):
                continue  # a JVM fork not yet exec'd: the parent's pages again
            total += _rss_kb(p)
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample(os.getpid())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def pin_tree(cpus: set[int]) -> None:
    """Restrict every thread of every process in this tree to ``cpus``.
    Threads and processes created later inherit the mask of their
    creator, so the whole tree stays inside it."""
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_tree(root: int, timeout: float = 10.0) -> None:
    """SIGTERM ``root`` and every process below it, SIGKILL those still
    running after ``timeout`` seconds, and wait until all have ended."""
    procs = descendants(root)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in procs:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for p in procs:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:  # not our child, or reaped
                    pass
            if not any(_alive(p) for p in procs):
                return
            time.sleep(0.1)
