"""Helpers shared by the benchmark workloads: percentiles, open-loop
lateness, metric-name checks and fitting the Spark session to the machine.

Nothing here imports pyspark, so the helpers are testable without a JVM.
"""

from __future__ import annotations

import os
import re
import statistics
from dataclasses import dataclass

# A metric name as BENCHMARK.json accepts it: starts with a letter or digit,
# then letters, digits, "_", "." and "-", at most 64 characters.
_METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
# A unit: letters, digits, "_", "/", "%", "." and "-", at most 16 characters.
_UNIT = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")

# Samples that must lie beyond a percentile before it is reported as a tail.
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not isinstance(name, str) or not _METRIC_NAME.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not _UNIT.fullmatch(unit):
        raise ValueError(f"invalid metric unit {unit!r}")
    return unit


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(percentile, value)`` where value is the order statistic of
    rank ``n - 1 - TAIL_BEYOND`` (0-based) and percentile is its position in
    [0, 100]. ``None`` when there are too few samples for even the median to
    have ``TAIL_BEYOND`` samples beyond it (n < 2 * TAIL_BEYOND + 1): a
    "tail" below the median would be misleading.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND + 1:
        return None
    k = n - 1 - TAIL_BEYOND
    return 100.0 * k / (n - 1), xs[k]


@dataclass
class OpenLoopRecord:
    """One open-loop request: when it was due, sent and finished (seconds on
    one monotonic clock)."""

    due: float
    sent: float
    done: float
    ok: bool

    @property
    def latency(self) -> float:
        # Timed from the due time, not the send time: a stall that delays the
        # sender is charged to every request it delays.
        return self.done - self.due

    @property
    def late(self) -> float:
        return max(0.0, self.sent - self.due)


def schedule(start: float, rate_per_s: float, seconds: float) -> list[float]:
    """Due times of a fixed-rate open-loop schedule within [start, start+seconds)."""
    if rate_per_s <= 0:
        raise ValueError("rate must be positive")
    n = int(seconds * rate_per_s)
    return [start + i / rate_per_s for i in range(n)]


def machine_fit() -> tuple[int, str]:
    """Cores and driver heap for a local-mode session on this machine.

    The heap is a quarter of physical memory, in whole GiB, at least 1 GiB:
    local mode runs everything in the driver JVM, and its resident size
    runs well above the heap (off-heap buffers, metaspace, Python workers).
    """
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, _mem_total_kb() // (4 * 1024 * 1024))
    return cpus, f"{heap_gb}g"


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    """The benchmark's final stdout object, validating names and units."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    out = {}
    for name, value in metrics.items():
        out[check_metric_name(name)] = {"value": float(value), "unit": check_unit(units[name])}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
