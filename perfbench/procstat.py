"""Process and host readings from /proc, without psutil.

The benchmark's process set is the driver Python process, the driver JVM
(its child) and the ``pyspark.daemon`` Python workers the JVM forks.
CPU is utime+stime from ``/proc/<pid>/stat`` (the JVM's JIT compiler
threads are read per thread and reported apart); the daemon's reaped children
are included through its cutime+cstime. Peak memory is ``VmHWM`` from
``/proc/<pid>/status``, restarted through ``/proc/<pid>/clear_refs``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")

#: the same pure-CPU burn ``bench.py``'s ``calibrate()`` times
_BURN_CODE = "x = 0\nfor i in range(30_000_000):\n    x += i\n"


def _stat_fields(pid) -> list[str] | None:
    """Fields after the command name of /proc/<pid>/stat (``pid`` may be
    ``"<pid>/task/<tid>"``)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            f = _stat_fields(int(e))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(e))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tasks(pid: int) -> list[str]:
    try:
        return os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError):
        return []


def _comm(pid: int, tid: str) -> str:
    try:
        with open(f"/proc/{pid}/task/{tid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class ProcessSet:
    """The driver, its JVM and the Python workers, found by walking the
    process tree below the driver."""

    def __init__(self) -> None:
        self.driver = os.getpid()
        self._jit_tids: dict[int, list[str]] = {}

    def classify(self) -> dict[str, list[int]]:
        groups: dict[str, list[int]] = {"driver": [self.driver], "jvm": [], "py_worker": []}
        for pid in _descendants(self.driver):
            cmd = _cmdline(pid)
            if "org.apache.spark" in cmd:
                groups["jvm"].append(pid)
            elif "pyspark" in cmd:
                groups["py_worker"].append(pid)
        return groups

    def _jit_ticks(self, pid: int) -> int:
        """CPU ticks of the JVM's JIT compiler threads. The session starts
        the JVM with a fixed set of compiler threads that live as long as
        it does, so the thread ids are looked up once."""
        tids = self._jit_tids.get(pid)
        if tids is None:
            tids = [t for t in _tasks(pid) if _comm(pid, t).startswith(("C1 Compiler", "C2 Compiler"))]
            self._jit_tids[pid] = tids
        ticks = 0
        for t in tids:
            f = _stat_fields(f"{pid}/task/{t}")
            if f is not None:
                ticks += int(f[11]) + int(f[12])
        return ticks

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds per group. The JVM's JIT compiler threads
        form their own group, ``jit``: their work is the warm-up of a
        short-lived JVM, not the engine's, and it varies from run to run.
        Worker processes are counted self-only and the daemon's reaped
        children through its c-times, so no tick is counted twice."""
        out: dict[str, float] = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "py_worker": 0.0}
        for name, pids in self.classify().items():
            for pid in pids:
                f = _stat_fields(pid)
                if f is None:
                    continue
                # fields after ")": state=0 ... utime=11 stime=12 cutime=13 cstime=14
                ticks = int(f[11]) + int(f[12])
                if name == "py_worker":
                    ticks += int(f[13]) + int(f[14])
                if name == "jvm":
                    jit = self._jit_ticks(pid)
                    out["jit"] += jit / _TICK
                    ticks -= jit
                out[name] += ticks / _TICK
        return out

    def host_s(self) -> dict[str, float]:
        """Cumulative seconds, summed over the host's CPUs, that the host
        spent busy (any process, not only this run's) and that the
        hypervisor stole from it: the context of a wall-clock reading."""
        with open("/proc/stat") as f:
            # cpu user nice system idle iowait irq softirq steal ...
            t = [int(x) for x in f.readline().split()[1:9]]
        return {"host_busy": (sum(t) - t[3] - t[4] - t[7]) / _TICK, "host_steal": t[7] / _TICK}

    def engine_cpu_s(self) -> float:
        """CPU seconds of the driver, the JVM without its JIT compiler
        threads, and the Python workers."""
        c = self.cpu_s()
        return c["driver"] + c["jvm"] + c["py_worker"]

    def reset_peak_rss(self) -> None:
        """Restart every process's peak (VmHWM) at its current RSS, so the
        next reading is the peak since now."""
        for pids in self.classify().values():
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")
                except (FileNotFoundError, ProcessLookupError):
                    pass

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS per group since the last ``reset_peak_rss``, in MB."""
        return {name: sum(_hwm_kb(p) for p in pids) / 1024.0 for name, pids in self.classify().items()}


def calibrate() -> dict[str, float]:
    """Wall seconds of an identical integer-sum process at 1 and 4
    concurrent processes: host speed recorded as context for a run, not a
    gated metric."""
    out: dict[str, float] = {}
    for n in (1, 4):
        t0 = time.perf_counter()
        procs = [subprocess.Popen([sys.executable, "-c", _BURN_CODE]) for _ in range(n)]
        for p in procs:
            p.wait()
        out[f"sec_{n}proc"] = time.perf_counter() - t0
    out["throttle_ratio_4v1"] = out["sec_4proc"] / out["sec_1proc"]
    return out
