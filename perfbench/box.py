"""Box stamp: the machine's state around one run, so a result can be judged
from its own record. Host CPU steal is the known spoiler on shared boxes."""
import os
import time


def _cpu_times():
    """(busy, steal) jiffies: busy counts user, nice, system, irq, softirq
    and steal, so steal / busy is the share of the box's running time that
    the host took away (guest time is already inside user)."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibrate():
    """Seconds for a fixed single-threaded integer loop; the same work on
    every run, so a slow reading means a slow or shared box."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def nproc():
    return len(os.sched_getaffinity(0))


class Stamp:
    def __init__(self):
        self.cal_before = calibrate()
        self.load_before = _loadavg()
        self.busy0, self.steal0 = _cpu_times()

    def finish(self, steal_bound):
        busy1, steal1 = _cpu_times()
        steal_share = (steal1 - self.steal0) / max(busy1 - self.busy0, 1)
        return {
            "nproc": nproc(),
            "loadavg_before": self.load_before,
            "loadavg_after": _loadavg(),
            "steal_share": steal_share,
            "calibration_s_before": self.cal_before,
            "calibration_s_after": calibrate(),
            "steal_bound": steal_bound,
            "contaminated": steal_share > steal_bound,
        }
