"""Summaries, the process-tree RSS sampler and the host record."""

from __future__ import annotations

import math
import os
import statistics
import threading

TAIL_MIN_BEYOND = 10


def metric(value, unit: str) -> dict:
    return {"value": value if value is None or math.isfinite(value) else None, "unit": unit}


def latency_summary(samples) -> dict:
    """Median and the highest percentile (of 75/90/95/99) with at least ten
    samples beyond it. ``samples`` are seconds or ops; a failed op counts
    as missing every percentile (infinite latency)."""
    values = sorted(
        (s.seconds if s.ok else math.inf) if hasattr(s, "ok") else float(s) for s in samples
    )
    out = {"n": len(values), "p50": statistics.median(values) if values else math.nan}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


def count_parquet(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``path``."""
    n = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return n, size


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_kb(root: int) -> tuple[int, int]:
    """(driver, workers) VmRSS in kB: ``root`` plus its direct children (the
    Python driver and the JVM it launched), and every deeper descendant
    (the Python workers Spark forks, which come and go with tasks)."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parents[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    children = [c for c, p in parents.items() if p == root]
    driver = _vm_rss_kb(root) + sum(_vm_rss_kb(c) for c in children)
    workers, frontier = 0, list(children)
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        workers += sum(_vm_rss_kb(c) for c in kids)
        frontier.extend(kids)
    return driver, workers


class RssSampler:
    """Samples the RSS of this process tree every ``interval`` seconds on a
    daemon thread and keeps the peak of the whole tree and of its two parts
    (see ``_tree_rss_kb``)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = {"tree": 0, "driver_jvm": 0, "python_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        driver, workers = _tree_rss_kb(os.getpid())
        for k, kb in (("tree", driver + workers), ("driver_jvm", driver), ("python_workers", workers)):
            self.peak_kb[k] = max(self.peak_kb[k], kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def peaks_mb(self) -> dict[str, float]:
        """Peaks so far, in MB: ``tree`` and its parts."""
        self._sample()
        return {k: kb / 1024 for k, kb in self.peak_kb.items()}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def host_info() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
