"""Resident memory and CPU time of this Python process, the JVM that
PySpark launches and the JVM's Python workers, read from /proc.

CPU time is the cost measure that CPU steal on a shared host does not
inflate: a stolen interval stretches wall time but is charged to no
process. The JVM's JIT compiler threads are counted apart: compiling is the
JVM warming itself, and their CPU time per operation falls over a process's
first minutes and varies from run to run by more than the work the program
was asked to do."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
#: names of the JVM's JIT compiler and code-cache sweeper threads, as /proc
#: shows them (cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0  # the process has exited between listing and reading


def children(pid: int) -> list[int]:
    """Pids of the processes `pid`'s threads started."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return ""


def _stat(path: str) -> tuple[str, float]:
    """(name, user + system CPU seconds) from a /proc stat file."""
    try:
        with open(path, encoding="utf-8") as f:
            raw = f.read()
    except OSError:
        return "", 0.0
    fields = raw.rsplit(")", 1)[1].split()
    return raw[raw.index("(") + 1:raw.rindex(")")], (int(fields[11]) + int(fields[12])) / _TICK


def _cpu_seconds(pid: int) -> float:
    """User + system CPU time of `pid` (all its threads, exited ones too)."""
    return _stat(f"/proc/{pid}/stat")[1]


def _tree(root_pids: list[int]) -> list[int]:
    """The given processes and, below them, every Python process and the
    first JVM. A JVM starts helpers (shell commands) with a vfork-style
    spawn: until the exec, the child shares the JVM's memory and /proc shows
    the JVM's RSS for it too, so a JVM's children count only when they are
    Python (the workers)."""
    out, seen, todo = [], set(), list(root_pids)
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out.append(pid)
        parent_is_jvm = _comm(pid) == "java"
        for child in children(pid):
            comm = _comm(child)
            if comm.startswith("python") or (comm == "java" and not parent_is_jvm):
                todo.append(child)
    return out


def tree_rss_bytes(root_pids: list[int]) -> int:
    return sum(_rss_bytes(p) for p in _tree(root_pids))


@dataclass
class CpuSnapshot:
    #: CPU seconds used so far by the processes of the tree
    total: float
    #: (pid, tid) → CPU seconds of each live JIT thread of a JVM in the tree
    jit: dict


def cpu_snapshot(root_pids: list[int] | None = None) -> CpuSnapshot:
    """CPU time used so far by this process (or `root_pids`) and the
    processes below it that _tree counts, with its JVMs' JIT threads."""
    total, jit = 0.0, {}
    for pid in _tree(root_pids or [os.getpid()]):
        total += _cpu_seconds(pid)
        if _comm(pid) != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            name, secs = _stat(f"/proc/{pid}/task/{tid}/stat")
            if name.startswith(_JIT_THREADS):
                jit[(pid, tid)] = secs
    return CpuSnapshot(total, jit)


def cpu_between(a: CpuSnapshot, b: CpuSnapshot) -> tuple[float, float]:
    """(CPU seconds outside JIT threads, CPU seconds in JIT threads) from
    snapshot `a` to `b`. A JIT thread that exits in between is counted
    outside from `a` on, so run.py starts the JVM with a fixed set of
    compiler threads (by default the JVM stops idle ones and starts new)."""
    jit = sum(v - a.jit.get(k, 0.0) for k, v in b.jit.items())
    return b.total - a.total - jit, jit


class PeakRss:
    """Samples every `interval_s` until closed; `peak_mb` is the largest sum
    seen over the process tree rooted here."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.pids = [os.getpid()]
        self.peak_b = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        self.peak_b = max(self.peak_b, tree_rss_bytes(self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_b / 2**20
