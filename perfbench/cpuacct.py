"""CPU accounting for the benchmark's timed work.

The host is a few virtual cores of a shared machine, and its speed drifts
with the load of the other tenants, in two ways:

* the hypervisor takes the cores away for long stretches: one job that
  takes 26 s in a quiet phase took 59 s, with 84 core-seconds of steal. The kernel counts that as steal, not as CPU
  time of the waiting process, so CPU seconds do not grow with it;
* the cores that are left run slower or faster: the CPU seconds of the
  same cold job moved from 54 to 92 within half an hour.

So the benchmark times its work in CPU seconds of its own process tree
(the Python driver, the JVM and every Python worker), and scales them by
the CPU seconds that a fixed JVM program, ``Ref.java``, takes on the same
cores in the same run.
"""

from __future__ import annotations

import os
import resource
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")
_REF_JAVA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "Ref.java")
_REF_SUM = "2614329111396780"


def _proc_stats() -> dict[int, list[str]]:
    """The fields of ``/proc/<pid>/stat`` after the command name, for every
    process: index 1 is the parent, 11-14 are utime, stime, cutime and
    cstime."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return stats


def descendants(pid: int, stats: dict[int, list[str]] | None = None) -> set[int]:
    """Every live process under ``pid``."""
    kids: dict[int, list[int]] = {}
    for p, fields in (stats or _proc_stats()).items():
        kids.setdefault(int(fields[1]), []).append(p)
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and every process
    under it, children already reaped included."""
    stats = _proc_stats()
    procs = {pid} | descendants(pid, stats)
    return sum(int(x) for p in procs if p in stats for x in stats[p][11:15]) / _TICK


def steal_s() -> float:
    """Core seconds the hypervisor has taken from this machine so far,
    summed over its cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def reference_cpu_s() -> float:
    """CPU seconds of one run of the fixed JVM work in ``Ref.java``, in a
    JVM of its own."""
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    res = subprocess.run(["java", _REF_JAVA], capture_output=True, text=True,
                         timeout=60, check=True)
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    if res.stdout.strip() != _REF_SUM:
        raise RuntimeError(f"Ref.java printed {res.stdout.strip()!r}, not {_REF_SUM}")
    return (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime)
