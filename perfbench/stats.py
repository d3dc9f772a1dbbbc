"""Pure helpers for the benchmark: percentiles, the tail rule, span
self-time, the attribution check and ``/proc/stat`` parsing.

Nothing here imports Spark, so ``perfbench/tests`` exercise it directly.
"""

from __future__ import annotations

import math
import os
import statistics

# Percentiles the tail rule may report, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= pct <= 100.0:
        raise ValueError(f"percentile {pct} outside [0, 100]")
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, ladder: tuple[float, ...] = TAIL_LADDER) -> float | None:
    """Highest percentile in ``ladder`` with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median lacks them."""
    best = None
    for pct in ladder:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:
            best = pct
    return best


def summarize(values: list[float]) -> dict:
    """Median, quartiles and the rule-chosen tail of a sample."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": percentile(values, 50.0)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q1, q3
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's wall time minus the part of it its child spans cover.
    Overlapping children are counted once, so the result is never
    negative."""
    return (end - start) - covered(children, start, end)


def check_attribution(per_span: dict[str, int], total: int) -> None:
    """Per-span counts must be non-negative and add up to no more than
    the workload total."""
    for name, n in per_span.items():
        if n < 0:
            raise ValueError(f"span {name} attributed {n} < 0")
    if sum(per_span.values()) > total:
        raise ValueError(
            f"spans attributed {sum(per_span.values())} > workload total {total}"
        )


# /proc/stat aggregate cpu line: user nice system idle iowait irq softirq steal ...
_STEAL = 7
_IDLE = (3, 4)


def parse_proc_stat(text: str) -> list[int]:
    """Counters of the aggregate ``cpu`` line, or [] when the text has no
    well-formed one (fewer than eight integer fields)."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            try:
                ticks = [int(x) for x in parts[1:]]
            except ValueError:
                return []
            return ticks if len(ticks) > _STEAL else []
    return []


def cpu_delta_pct(before: list[int], after: list[int]) -> dict:
    """steal% and busy% of the ticks elapsed between two snapshots. Both
    snapshots are length-checked; a short, empty or non-advancing pair
    yields {}."""
    if len(before) <= _STEAL or len(after) <= _STEAL:
        return {}
    n = min(len(before), len(after))
    d = [after[i] - before[i] for i in range(n)]
    total = sum(d)
    if total <= 0 or any(x < 0 for x in d):
        return {}
    idle = sum(d[i] for i in _IDLE)
    return {
        "steal_pct": round(100.0 * d[_STEAL] / total, 2),
        "busy_pct": round(100.0 * (total - idle) / total, 2),
    }


def parse_pid_stat(text: str) -> tuple[int, int]:
    """(ppid, utime + stime in clock ticks) from a ``/proc/<pid>/stat``
    line. The command name may hold spaces and parentheses, so fields
    are counted from the last ``)``."""
    fields = text.rsplit(")", 1)[1].split()
    return int(fields[1]), int(fields[11]) + int(fields[12])


def tree_cpu_ticks(table: dict[int, tuple[int, int]], roots: list[int]) -> int:
    """CPU ticks of ``roots`` and every descendant in a {pid: (ppid,
    ticks)} table."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [p for p in roots if p in table]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, []))
    return sum(table[p][1] for p in seen)


def process_table() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    out[int(name)] = parse_pid_stat(fh.read())
            except (OSError, IndexError, ValueError):
                continue  # exited, or not a process entry we can parse
    return out


def read_proc_stat(path: str = "/proc/stat") -> list[int]:
    try:
        with open(path) as fh:
            return parse_proc_stat(fh.read())
    except OSError:
        return []
