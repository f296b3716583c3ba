"""CPU time and peak RSS of the driver, the JVM and the Python workers,
read from /proc.

The driver is this Python process. The JVM is the process pyspark
launched for the session (``SparkContext._gateway.proc``). Python workers are every
process below the JVM (the ``pyspark.daemon`` and the workers it
forks); a worker that has exited and been reaped has its CPU time in
its parent's cumulative-children counters, so CPU time summed over the
live tree plus those counters never loses a finished worker.

Peak RSS is the kernel's high-water mark (``VmHWM``). The driver's is
reset at the start of the measured window by writing ``5`` to
``clear_refs``, so set-up and the verification pass do not count; the JVM
keeps its whole-life peak, because its heap grows in steps that GC
timing places inside or outside any shorter window. Python workers are
reused across tasks, so their peaks are read from the live workers.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _cpu_s(pid: int, with_reaped: bool) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields 14-17 (1-based) of /proc/pid/stat: utime stime cutime cstime
    ticks = int(st[11]) + int(st[12])
    if with_reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def _rss_mb(pid: int, key: str = "VmRSS") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcSampler:
    """CPU time and peak RSS of the three process groups."""

    def __init__(self, jvm_pid: int):
        if _stat(jvm_pid) is None:
            raise RuntimeError(f"no JVM process {jvm_pid} to sample")
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        return [p for p in tree(self.jvm) if p != self.jvm]

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of each group, including reaped children."""
        jvm_own = _cpu_s(self.jvm, with_reaped=False)
        # live workers with their reaped children, plus the workers that
        # exited directly below the JVM (its cumulative-children counters)
        workers = sum(_cpu_s(p, with_reaped=True) for p in self.workers())
        workers += _cpu_s(self.jvm, with_reaped=True) - jvm_own
        return {
            "driver": _cpu_s(self.driver, with_reaped=False),
            "jvm": jvm_own,
            "workers": workers,
        }

    def start(self) -> None:
        """Reset the driver's peak RSS."""
        try:
            with open(f"/proc/{self.driver}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass

    def peaks(self) -> dict[str, float]:
        """Peak RSS in MB of each group."""
        return {
            "driver": _rss_mb(self.driver, "VmHWM"),
            "jvm": _rss_mb(self.jvm, "VmHWM"),
            "workers": sum(_rss_mb(p, "VmHWM") for p in self.workers()),
        }
