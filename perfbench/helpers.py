"""Pure helpers of the benchmark: percentiles, interval arithmetic for
spans, and host self-labelling. Nothing here imports Spark."""

from __future__ import annotations

import math
import os
from collections.abc import Iterable, Sequence

# percentiles tried for a tail figure, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of `values`; a failed
    operation is passed in as math.inf so that it lies beyond every
    percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == math.inf:
        return math.inf if pos > lo or xs[lo] == math.inf else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the q-th percentile rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """(q, value) for the highest percentile in TAIL_LADDER that has at
    least MIN_BEYOND samples beyond it, or None when the run is too short."""
    for q in TAIL_LADDER:
        if samples_beyond(len(values), q) >= MIN_BEYOND:
            return q, percentile(values, q)
    return None


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(
    intervals: Iterable[tuple[float, float]], start: float, end: float
) -> list[tuple[float, float]]:
    """The parts of `intervals` that fall inside [start, end]."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: Sequence[tuple]) -> list[float]:
    """Self time of each span in `spans`, a list of (start, end, parent)
    where parent is the index of the enclosing span or None: its duration
    minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _parent) in enumerate(spans):
        covered = interval_union(clipped(children.get(i, []), start, end))
        out.append(max(0.0, (end - start) - covered))
    return out


def read_cpu_ticks(stat_text: str | None = None) -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate `cpu` line of /proc/stat.

    Only fields 0..7 (user nice system idle iowait irq softirq steal)
    enter the total: guest and guest_nice (fields 8, 9) are already
    counted inside user and nice, so adding them double-counts."""
    if stat_text is None:
        with open("/proc/stat") as f:
            stat_text = f.read()
    for line in stat_text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            fields = [int(x) for x in parts[1:9]]
            fields += [0] * (8 - len(fields))
            return sum(fields), fields[7]
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    total = after[0] - before[0]
    if total <= 0:
        return 0.0
    return (after[1] - before[1]) / total


def loadavg_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:
                pass
    return total


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of `pids`, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return kb / 1024.0
