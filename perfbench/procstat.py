"""CPU and memory of the JVM and its Python workers, read from /proc.

Python-worker CPU is the cumulative CPU of the JVM's descendant
processes: each live descendant counts its own time plus that of the
children it has reaped, and the JVM's own ``cutime``/``cstime`` holds
its reaped children (a ``pyspark.daemon`` that exited, with all the
workers it reaped).  A worker that exits between two readings thus
moves from one term to another instead of vanishing, so the total does
not go backwards.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Proc:
    pid: int
    ppid: int
    utime: float
    stime: float
    cutime: float
    cstime: float
    rss: int
    cmd: str


def parse_stat(pid: int, text: str) -> Proc:
    # comm (field 2) may hold spaces and parentheses; fields resume after the last ')'
    comm = text[text.index("(") + 1 : text.rindex(")")]
    rest = text[text.rindex(")") + 2 :].split()
    return Proc(
        pid=pid,
        ppid=int(rest[1]),
        utime=int(rest[11]) / _TICK,
        stime=int(rest[12]) / _TICK,
        cutime=int(rest[13]) / _TICK,
        cstime=int(rest[14]) / _TICK,
        rss=int(rest[21]) * _PAGE,
        cmd=comm,
    )


def read_procs() -> dict[int, Proc]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = parse_stat(int(name), f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listed
    return out


def descendants(procs: dict[int, Proc], root: int) -> list[Proc]:
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(procs[pid])
        todo.extend(kids.get(pid, []))
    return out


@dataclass
class Usage:
    jvm_cpu: float
    py_cpu: float
    rss: int
    worker_pids: frozenset[int]


def tree_usage(procs: dict[int, Proc], jvm_pid: int) -> Usage:
    """JVM CPU, descendant (Python worker) CPU including reaped ones,
    and the tree's current RSS."""
    jvm = procs[jvm_pid]
    desc = descendants(procs, jvm_pid)
    py = jvm.cutime + jvm.cstime + sum(p.utime + p.stime + p.cutime + p.cstime for p in desc)
    return Usage(
        jvm_cpu=jvm.utime + jvm.stime,
        py_cpu=py,
        rss=jvm.rss + sum(p.rss for p in desc),
        worker_pids=frozenset(p.pid for p in desc if p.cmd.startswith("python")),
    )


class Sampler:
    """Background reader of the JVM tree: peak RSS and worker PIDs seen."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss = 0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="procstat-sampler", daemon=True)

    def usage(self) -> Usage:
        u = tree_usage(read_procs(), self.jvm_pid)
        self.peak_rss = max(self.peak_rss, u.rss)
        self.worker_pids |= u.worker_pids
        return u

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                self.usage()
            except KeyError:
                return  # the JVM is gone

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
