"""Session CPU time, peak memory and hypervisor steal from /proc.

Each engine pass runs in its own session. Its driver, JVM and Python
workers share that session id even where they move to a process group of
their own (PySpark's worker daemon does), so these helpers read the
session.
"""

from __future__ import annotations

import glob
import os
import threading

# names (/proc/<pid>/task/<tid>/comm, cut to 15 characters) of the JVM's
# JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _session_stats(sid: int, zombies: bool = False) -> dict[int, list[str]]:
    """{pid: stat fields after "(comm)"} of the session's processes.
    Field 0 is the state, 1 the parent pid, 2 the group, 3 the session;
    a zombie ("Z") has ended and is left out unless ``zombies``."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and (zombies or fields[0] != "Z"):
            out[int(stat.split("/")[2])] = fields
    return out


def session_pids(sid: int, zombies: bool = False) -> dict[int, int]:
    """{pid: parent pid} of the live processes in a session (and of its
    zombies, with ``zombies``)."""
    return {pid: int(f[1]) for pid, f in _session_stats(sid, zombies).items()}


def child_pids(ppid: int) -> list[int]:
    """Every process, zombies included, whose parent is ``ppid``."""
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[1]) == ppid:
            out.append(int(stat.split("/")[2]))
    return out


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, including reaped children) the
    session's processes have been charged so far."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _session_stats(sid).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    ``host_ticks`` readings."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def peak_rss_kb(pid: int) -> int | None:
    """VmHWM of a process, or None when it has gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return None


class JitCpu:
    """CPU seconds the JVM's JIT compiler threads in a session have used,
    sampled every ``interval`` seconds by a daemon thread. The JVM starts
    and retires compiler threads as the compile queue grows and drains;
    a thread that has ended keeps its last reading."""

    def __init__(self, sid: int, interval: float = 0.2):
        self.sid = sid
        self.interval = interval
        self._cpu: dict[tuple[int, int], int] = {}  # (pid, tid) -> ticks
        self._names: dict[tuple[int, int], bool] = {}  # (pid, tid) -> is JIT
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _jvm_pids(self) -> list[int]:
        out = []
        for pid in session_pids(self.sid):
            try:
                if os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java":
                    out.append(pid)
            except OSError:
                continue
        return out

    def sample(self) -> None:
        with self._lock:
            self._sample()

    def _sample(self) -> None:
        for pid in self._jvm_pids():
            for task in glob.glob(f"/proc/{pid}/task/[0-9]*"):
                key = (pid, int(task.rsplit("/", 1)[1]))
                try:
                    if key not in self._names:
                        with open(task + "/comm") as f:
                            self._names[key] = f.read().strip().startswith(JIT_THREADS)
                    if not self._names[key]:
                        continue
                    with open(task + "/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                self._cpu[key] = max(self._cpu.get(key, 0), int(fields[11]) + int(fields[12]))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "JitCpu":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def total_s(self) -> float:
        """JIT compiler CPU seconds seen so far (sampled now, too)."""
        with self._lock:
            self._sample()
            return sum(self._cpu.values()) / os.sysconf("SC_CLK_TCK")
