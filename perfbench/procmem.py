"""Peak resident memory of this process and everything it started.

Samples ``VmRSS`` from ``/proc/<pid>/status`` for the benchmark process
and its descendants (the Spark JVM and the Python workers under it) on a
background thread. ``resource.getrusage(RUSAGE_CHILDREN)`` cannot stand
in: it only counts children that have already exited.
"""

from __future__ import annotations

import os
import threading


def _rss_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid):
    """utime + stime of pid plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(v) for v in fields[11:15])


def _jit_ticks(pid):
    """utime + stime of the HotSpot JIT compiler threads of pid."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat[stat.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root=None):
    """(CPU seconds less JIT compilation, JIT compilation CPU seconds) used
    so far by root and every descendant, live or exited (an exited one
    counts once, in its parent's reaped-child time).

    JIT compiler threads are split out: a young JVM keeps compiling for
    hundreds of ops, in amounts that vary from run to run, and a long-lived
    process no longer pays it. The compiler threads must live as long as
    the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of one
    that exits would move back into the first number."""
    cpu = jit = 0
    for pid, (_ppid, comm) in _tree(root or os.getpid()).items():
        cpu += _cpu_ticks(pid)
        if comm == "java":
            jit += _jit_ticks(pid)
    return (cpu - jit) / _TICK, jit / _TICK


def host_cpu_ticks():
    """(steal, total) ticks of the host's aggregate "cpu" line in /proc/stat:
    the share of time a hypervisor gave the CPUs to other guests."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _tree(root):
    """{pid: (ppid, comm)} for root and all its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        procs[int(d)] = (ppid, comm)
    keep, frontier = {root: procs.get(root, (0, "?"))}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, comm) in procs.items():
            if ppid == parent and pid not in keep:
                keep[pid] = (ppid, comm)
                frontier.append(pid)
    return keep


class RssSampler:
    """Peak summed RSS (MB) of the process tree, split into driver Python,
    JVM and Python workers."""

    def __init__(self, interval_s=0.05):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self):
        parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid, (_ppid, comm) in _tree(self.root).items():
            mb = _rss_kb(pid) / 1024.0
            if pid == self.root:
                parts["driver"] += mb
            elif comm == "java":
                parts["jvm"] += mb
            else:
                parts["workers"] += mb
        parts["total"] = sum(parts.values())
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
