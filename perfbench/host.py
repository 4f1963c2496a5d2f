"""Host state attached to every run, and the memory sampler.

The host record makes a noisy window visible in the output instead of in
the numbers: vmstat steal and idle (columns found by header name, so
procps-ng 4's wider layout parses too), load average, core count and a
single-core control loop.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time


def vmstat_columns(text: str) -> dict[str, int]:
    """Last sample of `vmstat` output as {column header: value}."""
    lines = [ln.split() for ln in text.strip().splitlines() if ln.strip()]
    header = next(ln for ln in lines if "id" in ln and "st" in ln)
    last = lines[-1]
    return {name: int(v) for name, v in zip(header, last) if v.lstrip("-").isdigit()}


def cpu_control_loop(seconds: float = 1.0) -> float:
    """Iterations per second of a fixed single-core integer loop."""
    t0 = time.perf_counter()
    n, x = 0, 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) % 2147483648
        n += 10000
    return n / (time.perf_counter() - t0)


def host_state() -> dict:
    """vmstat over one second, taken while the control loop runs."""
    try:
        vm = subprocess.Popen(["vmstat", "1", "2"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
    except OSError:
        vm = None
    loop = cpu_control_loop(1.0)
    rec = {"nproc": os.cpu_count(), "cpu_control_iters_per_s": loop,
           "loadavg": [float(x) for x in open("/proc/loadavg").read().split()[:3]],
           "vmstat_idle_pct": None, "vmstat_steal_pct": None}
    if vm is not None:
        out, _ = vm.communicate(timeout=10)
        try:
            cols = vmstat_columns(out)
            rec["vmstat_idle_pct"] = cols.get("id")
            rec["vmstat_steal_pct"] = cols.get("st")
        except (StopIteration, ValueError):
            pass
    return rec


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mib(root: int) -> float:
    """Resident memory of every descendant of `root` (the Spark JVM and
    its Python workers when `root` is this benchmark process)."""
    kids = _children_map()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        total += _rss_kib(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler(threading.Thread):
    """Samples descendant RSS every `interval` seconds; `peak_mib` holds
    the highest sample."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True, name="rss-sampler")
        self.interval = interval
        self.peak_mib = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_mib = max(self.peak_mib, descendants_rss_mib(me))
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join()
