"""Pure helpers the runner and the compare script share: the tail
percentile rule, quartile spreads, the order-insensitive output
fingerprint and the host-memory readers."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The latency at the highest percentile with at least ``beyond``
    samples above it, as ``(value, percentile, n)``.

    Sorted ascending, the sample at index ``n - beyond - 1`` has exactly
    ``beyond`` samples after it. Below ``2 * beyond + 1`` samples that
    index would fall under the median, so a short run reports its slowest
    op instead, at percentile 100; the percentile and the sample count
    recorded with the value say which case applied."""
    if not values:
        raise ValueError("tail() of no samples")
    xs = sorted(values)
    n = len(xs)
    k = n - beyond - 1 if n > 2 * beyond else n - 1
    return float(xs[k]), 100.0 * (k + 1) / n, n


def spread(values: list[float]) -> tuple[float, float, float]:
    """``(q1, median, q3)`` as ``statistics.quantiles(values, n=4)``
    gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 9 significant digits: engines may differ in the last bits of a
        # float sum, never in a rounded output column.
        return format(v + 0.0, ".9g")
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _norm(v.asDict(recursive=True))
    return str(v)


def fingerprint(columns: list[str], rows) -> str:
    """An order-insensitive digest of a result: column names sorted, each
    row's cells normalised in that column order and hashed, the row
    hashes summed mod 2**128. Row order and column order do not change
    it; any changed, missing or duplicated row does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        vals = tuple(r)
        cells = "\x01".join(_norm(vals[i]) for i in order)
        total += int.from_bytes(hashlib.blake2b(cells.encode(), digest_size=16).digest(), "big")
        n += 1
    names = ",".join(sorted(columns))
    return f"{n}:{total % (1 << 128):032x}:{hashlib.md5(names.encode()).hexdigest()[:8]}"


def process_tree(root: int) -> list[int]:
    """``root`` and every descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size, so pages the JVM and the forked
    Python workers share are counted once."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_jiffies(pids: list[int]) -> tuple[int, int, int]:
    """``(busy, total)`` CPU jiffies of the whole host from /proc/stat, and
    the jiffies ``pids`` used (their children that exited included)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + fields[4]  # idle + iowait
    ours = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ours += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return sum(fields) - idle, sum(fields), ours


def foreign_cpu_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of the host's CPU time between two ``cpu_jiffies`` readings
    that processes outside this run used: other tenants' load, which the
    floor probes can miss when it comes in bursts."""
    busy = after[0] - before[0]
    total = after[1] - before[1]
    ours = after[2] - before[2]
    return max(0.0, busy - ours) / total if total else 0.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")
