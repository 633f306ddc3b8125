"""Process-tree CPU and memory read from ``/proc``.

The benchmark process is the Spark driver's Python side. Its tree holds
three groups, each reported on its own:

- ``driver``: this Python process;
- ``jvm``: the Java process pyspark launches (and any non-Python
  helpers under it);
- ``workers``: Python processes below the JVM (the worker daemon, the
  workers it forks, and Python data-source planners).

Python workers come and go. A worker that exits is reaped by its parent,
and the kernel then adds its CPU time to the parent's ``cutime``/``cstime``.
Counting each live process's own time plus its reaped children's time
therefore keeps a group's total from dropping when a worker exits. The
JVM's reaped children are Python workers it launched itself, so its
``cutime`` counts as worker time, not JVM time. A sampler also clamps
each group to the highest total it has seen.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
GROUPS = ("driver", "jvm", "workers")


@dataclass
class ProcInfo:
    pid: int
    ppid: int
    comm: str
    own_s: float  # user + system time
    children_s: float  # user + system time of reaped children


def read_proc(pid: int) -> ProcInfo | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split on the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is the state (stat field 3); utime is stat field 14
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ProcInfo(pid, ppid, comm, (utime + stime) / _TICK, (cutime + cstime) / _TICK)


def process_tree(root: int) -> list[ProcInfo]:
    """``root`` and all its descendants that are alive now."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            info = read_proc(int(name))
            if info is not None:
                procs[info.pid] = info
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


def classify(tree: list[ProcInfo], root: int) -> dict[int, str]:
    """Map each pid of ``tree`` to one of :data:`GROUPS`."""
    by_pid = {p.pid: p for p in tree}
    group = {}
    for p in tree:
        if p.pid == root:
            group[p.pid] = "driver"
            continue
        below_jvm, cur = False, p.ppid
        while cur in by_pid and cur != root:
            if by_pid[cur].comm == "java":
                below_jvm = True
                break
            cur = by_pid[cur].ppid
        is_python = p.comm.startswith("python")
        group[p.pid] = "workers" if below_jvm and is_python else (
            "driver" if is_python and not below_jvm else "jvm"
        )
    return group


@dataclass
class TreeSample:
    cpu_s: dict[str, float]
    worker_pids: frozenset[int]


@dataclass
class TreeSampler:
    """Samples CPU per group of one process tree.

    Group totals never decrease between samples (see module docstring).
    """

    root: int = field(default_factory=os.getpid)
    _high: dict[str, float] = field(default_factory=dict)

    def sample(self) -> TreeSample:
        s = tree_cpu(self.root)
        for g in GROUPS:
            s.cpu_s[g] = max(s.cpu_s[g], self._high.get(g, 0.0))
            self._high[g] = s.cpu_s[g]
        return s


def tree_cpu(root: int) -> TreeSample:
    """CPU per group and worker pids of ``root``'s tree, unclamped."""
    tree = process_tree(root)
    groups = classify(tree, root)
    cpu = dict.fromkeys(GROUPS, 0.0)
    for p in tree:
        cpu[groups[p.pid]] += p.own_s
        cpu["workers" if p.comm == "java" else groups[p.pid]] += p.children_s
    return TreeSample(
        cpu, frozenset(p.pid for p in tree if groups[p.pid] == "workers")
    )


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``steal`` in
    ``/proc/stat``), summed over all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes(root: int) -> int:
    """Sum of the resident set sizes (``VmRSS``) of ``root``'s live tree."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p.pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssPeak:
    """Largest tree RSS seen while running: a background thread sums the
    live tree's ``VmRSS`` every ``interval`` seconds. Unlike a sum of each
    process's own peak (``VmHWM``), it counts only memory held at the same
    moment, and it keeps Python workers that exit before the end."""

    def __init__(self, interval: float = 0.1):
        self.root, self.interval = os.getpid(), interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak
