"""Host-derived settings and /proc sampling for the benchmark.

Nothing here changes the engine's defaults: the benchmark passes these
settings through ``session.get_spark``'s ``master``/``extra_conf`` parameters
and the ``SPARK_DRIVER_MEM`` override, and keeps every file a run writes
under one work directory inside the checkout.
"""

from __future__ import annotations

import os
import threading

HEAP_CAP_MB = 2048  # a larger heap only raises the run's footprint here


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of MemAvailable, capped, floored at 512 MB."""
    return max(512, min(HEAP_CAP_MB, mem_available_mb() // 4))


def configure(work: str, root: str) -> dict:
    """Process environment for one run: driver heap, shuffle/spill and temp
    locations under ``work``, and the checkout on the workers' import path.
    Returns the settings, which are recorded with the results."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_mb()
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    # SPARK_LOCAL_DIRS wins over spark.local.dir and keeps get_spark's
    # opt-in tmpfs branch off, so shuffle and spill land in `local`
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "driver_heap_mb": heap,
        "mem_available_mb": mem_available_mb(),
        "shuffle_dir": os.path.relpath(local, root),
    }


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def cpu_times() -> dict[str, float]:
    """Machine-wide cumulative CPU seconds from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: v / hz for n, v in zip(names, vals)}


def cpu_context(before: dict, after: dict, wall: float) -> dict:
    """Steal and sys time over an interval, in cores (context only)."""
    w = max(wall, 1e-9)
    return {
        "steal_cores": round((after["steal"] - before["steal"]) / w, 3),
        "sys_cores": round((after["system"] - before["system"]) / w, 3),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants_rss_mb(pid: int) -> float:
    """Resident memory of every process below ``pid``: the driver JVM and
    its Python workers (the benchmark process itself is excluded). Counted
    as PSS, so the pages a forked worker shares with its parent count once."""
    kids = _children()
    stack, total_kb = list(kids.get(pid, [])), 0
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class RssSampler:
    """Background thread sampling descendants' RSS while ``active``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak_mb = max(self.peak_mb, descendants_rss_mb(pid))
