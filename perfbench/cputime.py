"""CPU time of the benchmark's process tree, less the JVM's JIT compiler.

The end-to-end cost metrics are CPU time, not wall time. On a shared
virtual machine the hypervisor takes a share of each vCPU from the guest
(steal time) that rose from 10% to 40% within minutes in sizing runs, and
a query's wall time grows with it. The kernel leaves steal out of a task's
CPU time, so CPU time measures the work done rather than the host shared.

The JVM's JIT compiler threads are left out. In a run of a minute or two
they use more CPU than the engine's own threads, and how much of it lands
in a window depends on when compile thresholds trip, which is what made
whole-process CPU differ by 12% between runs of the same work. What is
counted is the engine's threads (driver, executor tasks, GC, Spark's
services) and the Python processes. The session starts the JVM with a
fixed set of compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``
in ``run.py``): a compiler thread that exited would move its CPU into the
process total.

The tree is this Python process, the driver JVM it launched and the
JVM's Python workers: each live process's user + system time plus that
of its already reaped children, so a worker that exits inside a window is
still counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
#: Thread names (``comm``, truncated to 15 bytes) of HotSpot's C1 and C2
#: compiler threads.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """``comm`` and the fields after it of a ``/proc/.../stat`` file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _jit_cpu_s(pid: int) -> float:
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # thread exited while listing
            continue
        if comm in _JIT_THREADS:
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process and all its
    descendants, live or reaped, less the JIT compiler threads'."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            comm_, fields = _stat(f"/proc/{entry}/stat")
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime(11) stime cutime cstime
        pid = int(entry)
        parent[pid], comm[pid] = int(fields[1]), comm_
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        if comm.get(pid) == "java":
            total -= _jit_cpu_s(pid)
        todo.extend(children.get(pid, ()))
    return total
