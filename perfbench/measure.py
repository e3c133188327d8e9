"""Small measurement helpers: percentiles, spreads, process memory, sizes.

Pure Python, no Spark, so the benchmark's tests can cover them directly.
"""

from __future__ import annotations

import math
import os


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``, the
    same rule as numpy's default ``linear`` method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that has at least ten samples beyond it
    in a sample of ``n``, or None when ``n`` is too small to have one."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def summary(values) -> dict:
    """Sample count, median, 90th percentile and the tail percentile (the
    highest one with at least ten samples beyond it)."""
    out = {"n": len(values), "p50": percentile(values, 50), "p90": percentile(values, 90)}
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    here the benchmark driver, the JVM it launched and the JVM's Python
    workers. Forked workers share pages, so the sum over-counts those."""
    total_kb = 0
    for p in descendants(os.getpid() if pid is None else pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``, excluding Hadoop ``.crc``
    side files and ``_SUCCESS`` markers."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".crc") or name == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total
