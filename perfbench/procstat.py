"""CPU and resident memory of the Spark process tree, read from ``/proc``.

The tree is the JVM that PySpark launched plus every descendant, which
includes the ``pyspark.daemon`` and the Python workers it forks.  CPU counts
``utime + stime`` of each live process plus ``cutime + cstime`` (children
that already exited and were reaped), so a short-lived worker's CPU is not
lost when it ends.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> dict[int, list[str]]:
    """``root`` and all its descendants, pid -> stat fields (after the name)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    members, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in members:
            members[pid] = stats[pid]
            frontier.extend(p for p, st in stats.items() if int(st[1]) == pid)
    return members


def jit_cpu_s(root: int) -> float:
    """CPU time of the JVM's JIT compiler threads (``C1``/``C2
    CompilerThread``).  The JVM runs with a fixed set of them
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits and takes
    its count with it."""
    total = 0
    for tid in os.listdir(f"/proc/{root}/task"):
        try:
            with open(f"/proc/{root}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{root}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:  # the thread ended between listing and reading
            continue
        st = raw[raw.rindex(")") + 2 :].split()
        total += int(st[11]) + int(st[12])
    return total / _TICK


def host_cpu_s() -> tuple[float, float]:
    """The host's busy CPU time (user, nice, system, irq, softirq) and the
    CPU time the hypervisor gave to other guests (steal), each summed over
    all CPUs since boot, from the first line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def cpu_s(members: dict[int, list[str]]) -> float:
    # fields after the name: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return sum(sum(int(st[i]) for i in (11, 12, 13, 14)) for st in members.values()) / _TICK


def workers(members: dict[int, list[str]], root: int) -> dict[int, list[str]]:
    """The Python side of the tree: the ``pyspark.daemon`` and the workers it
    forks, told apart by their command name.  Other children of the JVM are
    left out: while the JVM spawns a process, the child shares the JVM's
    address space under the JVM's name and command line, and its PSS would
    count the JVM's heap a second time."""
    found = {}
    for pid, st in members.items():
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    found[pid] = st
        except OSError:  # the process ended between listing and reading
            pass
    return found


def resident_bytes(members: dict[int, list[str]], root: int) -> int:
    """Resident memory of the JVM and its Python side, each page once: RSS
    for the JVM (it shares nothing worth counting, and its PSS is costly to
    read) plus PSS for the Python processes, whose forked workers share the
    daemon's pages."""
    total = int(members[root][21]) * _PAGE if root in members else 0  # field 24: rss pages
    for pid in workers(members, root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):  # the process ended between listing and reading
            pass
    return total


class Sampler:
    """Background sampler of the tree's peak memory in use and the Python
    worker pids.

    Memory in use is the tree's resident memory with the JVM's heap left out
    (``heap_bytes``, pre-touched, so always resident) plus the heap memory
    Spark's memory manager holds for stored blocks (``storage_used()``:
    cached and checkpointed partitions, broadcasts).  ``start`` and ``stop``
    bracket the timed region; ``peak_mem`` and ``peak_storage`` are the
    largest values any sample saw."""

    def __init__(self, root: int, heap_bytes: int, storage_used, interval_s: float = 0.1) -> None:
        self.root = root
        self.heap_bytes = heap_bytes
        self.storage_used = storage_used
        self.interval_s = interval_s
        self.peak_mem = 0
        self.peak_storage = 0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procstat-sampler", daemon=True)

    def _sample(self) -> None:
        members = tree(self.root)
        storage = self.storage_used()
        self.peak_storage = max(self.peak_storage, storage)
        self.peak_mem = max(self.peak_mem, resident_bytes(members, self.root) - self.heap_bytes + storage)
        self.worker_pids.update(workers(members, self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "Sampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
