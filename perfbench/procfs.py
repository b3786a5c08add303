"""Per-process memory and page-fault readings from ``/proc`` (no psutil).

The Spark driver JVM is a child of the benchmark's Python process, and
in local mode the PySpark worker daemon is a child of the JVM, forking
one Python worker per concurrent task.  ``ProcSampler`` finds them by
walking parent links, resets each one's peak RSS (``VmHWM``) before a
timed run by writing ``5`` to ``/proc/<pid>/clear_refs``, and reads the
peaks and minor-fault deltas after it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, minflt) of a live process, None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces: split after the last ')'
    comm = s[s.index("(") + 1: s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    return comm, int(fields[1]), int(fields[7])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class ProcSample:
    jvm_peak_mb: float
    worker_peak_mb: float       # highest VmHWM of any one Python worker
    jvm_minor_faults: int
    worker_minor_faults: int
    worker_count: int


class ProcSampler:
    def __init__(self, root_pid: int | None = None):
        self.root_pid = root_pid or os.getpid()
        self._faults0: dict[int, int] = {}

    def _tree(self) -> tuple[list[int], list[int]]:
        """(JVM pids, Python worker pids) below the root process."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        jvms, workers = [], []
        stack = [(pid, False) for pid in children.get(self.root_pid, [])]
        while stack:
            pid, under_jvm = stack.pop()
            comm, ppid, _ = stats[pid]
            if comm == "java":
                jvms.append(pid)
                under_jvm = True
            elif under_jvm and ppid not in jvms:
                # the daemon (a direct child of the JVM) only forks; its
                # children run the tasks
                workers.append(pid)
            stack.extend((c, under_jvm) for c in children.get(pid, []))
        return jvms, workers

    def reset(self) -> None:
        jvms, workers = self._tree()
        self._faults0 = {}
        for pid in jvms + workers:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue          # exited between the walk and the write
            st = _stat(pid)
            if st is not None:
                self._faults0[pid] = st[2]

    def read(self) -> ProcSample:
        jvms, workers = self._tree()

        def faults(pids):
            total = 0
            for pid in pids:
                st = _stat(pid)
                if st is not None:
                    total += st[2] - self._faults0.get(pid, 0)
            return total

        return ProcSample(
            jvm_peak_mb=sum(_hwm_kb(p) for p in jvms) / 1024,
            worker_peak_mb=max((_hwm_kb(p) for p in workers),
                               default=0) / 1024,
            jvm_minor_faults=faults(jvms),
            worker_minor_faults=faults(workers),
            worker_count=len(workers),
        )
