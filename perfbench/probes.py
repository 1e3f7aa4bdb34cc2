"""Host-side probes read from /proc: the Spark driver JVM's process tree,
its CPU use (for the settle wait and the CPU time of a pass), its
proportional set size, and the machine state recorded in the run record.
None of these touch Spark."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pids: list[int]) -> int:
    """utime + stime of each process, plus cutime + cstime: the CPU of
    its children that have exited and been reaped (Python workers that
    the pyspark daemon forked and reaped)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total


def cpu_s(root: int) -> float:
    """CPU seconds used so far by this process (the client and the
    program's Python side) and by the process tree under ``root`` (the
    driver JVM and its Python workers). The kernel charges time stolen by
    the hypervisor as steal, not to the process, so this does not grow
    when the host takes CPU away from the machine."""
    own = os.times()
    return own.user + own.system + _cpu_ticks(process_tree(root)) / _TICK


# settle(): idle means at most SETTLE_IDLE_TICKS of CPU in one
# SETTLE_WINDOW_S window; give up after SETTLE_CAP_S.
SETTLE_WINDOW_S = 0.1
SETTLE_IDLE_TICKS = 2
SETTLE_CAP_S = 5.0
PSS_INTERVAL_S = 0.25


def settle(root: int) -> float:
    """Block until the process tree under ``root`` is idle (no task, GC
    or Python worker still running), or SETTLE_CAP_S passes. Returns the
    seconds waited."""
    t0 = time.perf_counter()
    pids = process_tree(root)
    before = _cpu_ticks(pids)
    while True:
        time.sleep(SETTLE_WINDOW_S)
        pids = process_tree(root)
        now = _cpu_ticks(pids)
        if now - before <= SETTLE_IDLE_TICKS or time.perf_counter() - t0 >= SETTLE_CAP_S:
            return time.perf_counter() - t0
        before = now


def pss_by_process(root: int) -> dict[int, float]:
    """Proportional set size in MiB of ``root`` and each descendant."""
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class PeakPss:
    """Samples the PSS of the process tree under ``root`` every
    PSS_INTERVAL_S on a background thread between ``start()`` and
    ``stop()``; ``peak`` is the largest total and ``at_peak`` its split
    into the root and the other processes. Sampling catches the moments
    when every Python worker is alive, which a sample between steps
    misses (idle workers exit), and the JVM heap at its largest (G1 grows
    and shrinks it within a pass)."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            by_pid = pss_by_process(self.root)
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak = total
                jvm = by_pid.get(self.root, 0.0)
                self.at_peak = {"jvm_mb": jvm, "others": len(by_pid) - 1, "others_mb": total - jvm}
            self._stop.wait(PSS_INTERVAL_S)

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def spin_ms() -> float:
    """Median wall of a fixed single-threaded Python loop, in ms. Taken
    while nothing of the run is alive, it tracks the host's own speed,
    which moves without any steal time being recorded."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[2] * 1e3


def machine_state() -> dict:
    """nproc, 1-minute load, cumulative steal ticks (/proc/stat) and the
    host speed probe."""
    steal = None
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_1m": os.getloadavg()[0],
        "steal_ticks": steal,
        "clock_ticks_per_s": _TICK,
        "spin_ms": spin_ms(),
    }


def filesystem_of(path: str) -> dict:
    """Mount point and filesystem type holding ``path``."""
    path = os.path.realpath(path)
    best = ("/", "?")
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return {"mount": best[0], "type": best[1]}
