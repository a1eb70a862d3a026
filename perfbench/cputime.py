"""CPU time of this process and of every process it started.

The program runs as this Python process, the driver JVM it launches (whose
threads are the local executors) and the Python workers the JVM forks.  The
hypervisor of a shared VM steals a varying share of the vCPUs, which moves
wall time by tens of percent between runs of the same code; the CPU time
these processes consume does not move with it.

The JVM's JIT compiler threads are counted apart.  In a run they burn about
half of the JVM's CPU time, still compiling after several warm passes, and
how much they compile in a given pass differs from run to run: counted in,
they spread the warm CPU time of ``pipelines`` over ten seeds by 0.24
(interquartile range over median).  Their time is reported on its own
(``jvm.jit_cpu_s``).
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")
#: HotSpot's compiler threads, as ``comm`` shows them (cut to 15 bytes).
_JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")
#: ``(pid, tid) -> ticks`` of every JIT thread seen.  The ticks of one that
#: ended are still in its process's total, so they stay subtracted.  A
#: compiler thread that starts and ends between two readings is never seen,
#: so the benchmark starts the JVM with a fixed set of compiler threads
#: (``-XX:-UseDynamicNumberOfCompilerThreads``): with HotSpot's default
#: dynamic set, such threads put up to 0.6 s of compile time into a single
#: operation's program CPU time.
_jit_seen: dict[tuple[int, int], int] = {}


def _stat(path: str) -> tuple[str, list[str]]:
    """``(comm, fields after comm)`` of a ``/proc`` stat file."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _jit_ticks(pid: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        try:
            comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended while we listed its process
            continue
        if comm.startswith(_JIT_THREAD_PREFIXES):
            _jit_seen[(pid, int(tid))] = int(fields[11]) + int(fields[12])


def cpu_seconds(root: int | None = None) -> tuple[float, float]:
    """``(program, jit)``: user plus system CPU seconds of ``root`` (default:
    this process) and all its live descendants, including children they have
    reaped, without the JVM's JIT compiler threads; and those threads' own
    CPU seconds."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    java: set[int] = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            comm, fields = _stat(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime..cstime
        if comm == "java":
            java.add(pid)
    total, stack, tree = 0, [root], set()
    while stack:
        pid = stack.pop()
        tree.add(pid)
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    for key in [k for k in _jit_seen if k[0] not in tree]:
        del _jit_seen[key]  # that JVM has exited
    for pid in java & tree:
        _jit_ticks(pid)
    jit = sum(_jit_seen.values())
    return (total - jit) / _TICKS, jit / _TICKS
