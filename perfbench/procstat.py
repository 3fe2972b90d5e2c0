"""CPU time and resident memory of a process tree, read from ``/proc``.

``psutil`` is not a dependency of the project, so this module parses
``/proc/<pid>/stat`` directly.  CPU time is ``utime + stime`` of each
live descendant plus ``cutime + cstime`` (the CPU of its children that
already exited and were reaped), split by process kind: the JVM
(``comm == "java"``) and Python processes (the PySpark daemon and its
forked UDF workers).  The root process itself is left out of the CPU
split; its RSS counts toward the tree total, which covers the root, the
JVM and the Python processes.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Dict, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcInfo:
    pid: int
    ppid: int
    comm: str
    cpu_s: float        # own utime+stime plus reaped children's
    rss_bytes: int


def _read_proc(pid: int) -> Optional[ProcInfo]:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm is parenthesised and may itself contain spaces or ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1:rpar]
    fields = raw[rpar + 2:].split()
    # fields[0] is state (field 3 of stat); utime is field 14 -> index 11
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ProcInfo(pid, ppid, comm,
                    (utime + stime + cutime + cstime) / _CLK_TCK,
                    rss_pages * _PAGE)


def tree(root_pid: int) -> Dict[int, ProcInfo]:
    """``root_pid`` and every live descendant, keyed by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            info = _read_proc(int(name))
            if info is not None:
                procs[info.pid] = info
    children: Dict[int, list] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            stack.extend(children.get(pid, ()))
    return out


def kind(info: ProcInfo) -> str:
    if info.comm == "java":
        return "jvm"
    if info.comm.startswith("python"):
        return "python"
    return "other"


@dataclass(frozen=True)
class CpuSplit:
    jvm_s: float
    python_s: float

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_s

    def __sub__(self, other: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.jvm_s - other.jvm_s,
                        self.python_s - other.python_s)


class ProcTreeSampler:
    """Polls the tree below ``root_pid`` on a background thread.

    ``cpu()`` reads the current JVM/Python CPU split on demand; the thread
    keeps the peak of the summed RSS of the root, the JVM and the Python
    processes between ``reset_peak()`` calls.  Use as a context manager so the thread is
    joined.
    """

    def __init__(self, root_pid: Optional[int] = None,
                 interval_s: float = 0.1):
        self.root_pid = root_pid if root_pid is not None else os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop,
                                        name="proc-sampler", daemon=True)

    def __enter__(self) -> "ProcTreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample_rss()
            self._stop.wait(self.interval_s)

    def sample_rss(self) -> int:
        # short-lived helpers the JVM spawns (jspawnhelper and the commands
        # it runs) briefly show the JVM's own pages; counting them would
        # double the JVM at random moments
        rss = sum(p.rss_bytes for p in tree(self.root_pid).values()
                  if p.pid == self.root_pid or kind(p) != "other")
        with self._lock:
            self._peak = max(self._peak, rss)
        return rss

    def peak_rss_bytes(self) -> int:
        self.sample_rss()
        with self._lock:
            return self._peak

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def cpu(self) -> CpuSplit:
        jvm = py = 0.0
        for p in tree(self.root_pid).values():
            if p.pid == self.root_pid:
                continue
            k = kind(p)
            if k == "jvm":
                jvm += p.cpu_s
            elif k == "python":
                py += p.cpu_s
        return CpuSplit(jvm, py)
