"""Machine context recorded with every run, and the peak resident memory
of the run's process tree: the main Python process, the JVM and the
Python workers."""

from __future__ import annotations

import os
import statistics
import threading
import time


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """Cumulative (busy, steal) clock ticks over all CPUs. Busy is user,
    nice, system, irq and softirq time; steal is time a runnable vCPU
    waited for the hypervisor."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class StealClock:
    """Wall time with the measured hypervisor steal taken out.

    Steal accrues only on vCPUs that were runnable, i.e. busy with this
    run, so over an interval a share steal/(busy+steal) of the busy
    vCPUs' time was lost and the interval would have taken
    wall * busy/(busy+steal) without it. On an uncontended host steal
    is 0 and this is the wall time.
    """

    def __init__(self):
        self.t = time.perf_counter()
        self.busy, self.steal = cpu_ticks()

    def stop(self) -> dict:
        wall = time.perf_counter() - self.t
        busy, steal = cpu_ticks()
        busy, steal = busy - self.busy, steal - self.steal
        adjusted = wall * busy / (busy + steal) if busy + steal > 0 else wall
        return {"wall_s": wall, "adjusted_s": adjusted, "busy_ticks": busy, "steal_ticks": steal}


def reference_loop_s(reps: int = 3) -> float:
    """Median time of a fixed single-thread pure-Python loop (1 M adds):
    the box's current single-core speed."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def snapshot() -> dict:
    return {
        "loadavg": loadavg(),
        "steal_ticks": cpu_ticks()[1],
        "ref_loop_s": reference_loop_s(),
    }


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry.name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page_kb
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    every ``period`` seconds on a daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
