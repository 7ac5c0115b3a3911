"""Host-side measurement from outside the engine: the process tree's CPU
time, PySpark worker peak memory, and the two host-state probes.

The CPU and memory figures are read from ``/proc``. No metric is adjusted
by the probes: they are recorded beside each run so that a run taken
during a slow host phase can be recognised as such.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    """pids of ``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds used so far by this process tree. Each live process
    contributes its own time plus that of its reaped children, so a
    PySpark worker that exits inside a window is still counted once."""
    total = 0
    for p in tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class SparkProcs:
    """The driver JVM and the PySpark worker processes under it."""

    def __init__(self):
        pids = tree()
        self.jvm = next((p for p in pids if "java" in _cmdline(p).split(" ")[0]), None)

    def workers(self) -> list[int]:
        if self.jvm is None:
            return []
        return [p for p in tree(self.jvm)[1:] if "pyspark" in _cmdline(p)]

    def reset_peaks(self) -> None:
        """Reset the live workers' VmHWM (``clear_refs`` 5), so the next
        peak read covers only what follows. Where the kernel refuses, the
        peak covers the worker's whole life."""
        for p in self.workers():
            try:
                with open(f"/proc/{p}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def worker_peak_mb(self) -> float:
        peaks = [_status_kb(p, "VmHWM:") or 0 for p in self.workers()]
        return max(peaks, default=0) / 1024.0

    def jvm_peak_mb(self) -> float:
        return (_status_kb(self.jvm, "VmHWM:") or 0) / 1024.0 if self.jvm else 0.0


# -- host probes ---------------------------------------------------------


def mem_probe_s() -> float:
    """Single-thread memory-bandwidth probe: best of 3 streaming passes
    over 30M float64 (about 0.13 s on an idle host)."""
    import numpy as np

    a = np.arange(30_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a * 1.0000001 + 3).sum()
        best = min(best, time.perf_counter() - t0)
    return best


# one probe process: says it is ready, waits for the go line on stdin,
# runs the fixed kernel and prints its time
_CPU_KERNEL = """
import sys, time
import numpy as np
x = np.arange(1_500_000, dtype=np.float64).reshape(-1, 100)
print("ready", flush=True)
sys.stdin.readline()
t0 = time.perf_counter()
s = 0.0
for _ in range(8):
    s += float(np.sin(x[:, :64]).sum())
print(time.perf_counter() - t0, flush=True)
"""


def cpu_probe_s() -> float:
    """Parallel-CPU probe: one process per core runs a fixed numpy kernel,
    all released together; the slowest kernel's time is returned. It
    rises when co-tenants take CPU, which the memory probe cannot see."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _CPU_KERNEL], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(ncpu())
    ]
    try:
        for p in procs:
            p.stdout.readline()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        return max(float(p.stdout.readline()) for p in procs)
    except BaseException:
        for p in procs:
            p.kill()
        raise
    finally:
        for p in procs:
            p.stdin.close()
            p.wait()
            p.stdout.close()


def probes() -> dict:
    return {"mem_probe_s": mem_probe_s(), "cpu_probe_s": cpu_probe_s(), "cpu_probe_procs": ncpu()}
