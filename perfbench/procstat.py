"""Process-tree CPU time and memory, read from ``/proc``.

A PySpark driver is one Python process; it starts the JVM as a child, and
the JVM starts the Python UDF workers (``pyspark.daemon`` and the workers it
forks). Time spent in any of them is work the job did, so the benchmark sums
CPU over the whole tree rooted at its own pid.

CPU of a process that has exited and been reaped moves into its parent's
``cutime``/``cstime``; summing ``utime + stime + cutime + cstime`` over the
live tree therefore never loses a finished worker and never counts one twice.

The JVM's JIT compiler threads are counted apart (``jit_cpu_s``): in a run
of a few passes they are still compiling, and their CPU falls from pass to
pass whatever the program does. With ``-XX:-UseDynamicNumberOfCompilerThreads``
those threads live as long as the JVM, so their CPU stays attributable.

Memory is the summed proportional set size (PSS, from ``smaps_rollup``)
of the tree's processes other than the JVM: the Python workers are forked
from one daemon and share most of their pages, which a plain RSS sum would
count once per worker. The JVM is left out because its resident size follows
the heap setting more than the work (the benchmark reads the heap in use
after a GC instead).

``proc_root`` is a parameter so the parser can be tested on a recorded fake
tree instead of the live ``/proc``.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    ticks: int      # utime + stime + cutime + cstime
    rss_pages: int


#: thread names (truncated to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass(frozen=True)
class TreeUsage:
    cpu_s: float      # whole tree
    py_cpu_s: float   # Python processes below the root (the UDF workers)
    jit_cpu_s: float  # JIT compiler threads of the JVMs in the tree
    n_procs: int

    @property
    def work_cpu_s(self) -> float:
        """The tree's CPU without JIT compilation."""
        return self.cpu_s - self.jit_cpu_s


def parse_stat(text: str) -> Proc:
    """One ``/proc/<pid>/stat`` line -> Proc (see proc(5))."""
    # comm is parenthesised and may itself contain spaces or parentheses
    head, _, tail = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = tail.split()
    # tail starts at field 3 (state): ppid is field 4, utime..cstime 14..17,
    # rss 24 -> tail indices 1, 11..14, 21
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return Proc(int(pid_s), int(f[1]), comm, ticks, int(f[21]))


def scan(proc_root: str = "/proc") -> dict[int, Proc]:
    procs = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as fh:
                p = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listing and reading
        procs[p.pid] = p
    return procs


def subtree(procs: dict[int, Proc], root: int) -> list[Proc]:
    """``root`` and every descendant that is still in ``procs``."""
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
    return out


def jit_ticks(pid: int, proc_root: str = "/proc") -> int:
    """CPU ticks of the JIT compiler threads of process ``pid``."""
    task_dir = os.path.join(proc_root, str(pid), "task")
    total = 0
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return 0
    for tid in tids:
        try:
            with open(os.path.join(task_dir, tid, "stat")) as fh:
                t = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
        if t.comm in JIT_THREADS:
            total += t.ticks  # a thread's cutime/cstime are always 0
    return total


def tree_usage(root: int, proc_root: str = "/proc") -> TreeUsage:
    tree = subtree(scan(proc_root), root)
    ticks = sum(p.ticks for p in tree)
    py = sum(p.ticks for p in tree if p.pid != root and p.comm.startswith("python"))
    jit = sum(jit_ticks(p.pid, proc_root) for p in tree if p.comm == "java")
    return TreeUsage(ticks / CLK_TCK, py / CLK_TCK, jit / CLK_TCK, len(tree))


def pss_kb(pid: int, proc_root: str = "/proc") -> int | None:
    """The ``Pss:`` line of ``smaps_rollup``, or None if it is unreadable."""
    try:
        with open(os.path.join(proc_root, str(pid), "smaps_rollup")) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def tree_pss_mb(root: int, proc_root: str = "/proc") -> float:
    """Summed PSS of the tree without the JVM; a process without
    ``smaps_rollup`` counts its RSS."""
    total_kb = 0
    for p in subtree(scan(proc_root), root):
        if p.comm == "java":
            continue
        kb = pss_kb(p.pid, proc_root)
        total_kb += kb if kb is not None else p.rss_pages * PAGE_SIZE // 1024
    return total_kb / 1024


def descendants(root: int, proc_root: str = "/proc") -> list[int]:
    return [p.pid for p in subtree(scan(proc_root), root) if p.pid != root]


class PeakMemory:
    """Background sampler of :func:`tree_pss_mb`; ``peak_mb`` is the largest
    sample taken inside the ``with`` block."""

    def __init__(self, root: int, interval_s: float = 0.2, proc_root: str = "/proc"):
        self.root, self.interval_s, self.proc_root = root, interval_s, proc_root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root, self.proc_root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()  # so a window shorter than the interval still counts
