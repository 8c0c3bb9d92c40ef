"""Small numeric helpers shared by the workloads and the tracer."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it (``q`` in (0, 1]). No interpolation, so the
    result is always an observed value."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q * len(ordered)) - 1)])


def union_length(intervals) -> float:
    """Total length covered by at least one ``(start, end)`` interval."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def max_overlap(intervals) -> int:
    """Largest number of ``(start, end)`` intervals open at one instant."""
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                    key=lambda x: (x[0], x[1]))
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name is parenthesised and may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids(root_pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of the driver JVM (each child of ``root_pid``) plus
    the Python workers below it. Other processes below the JVM are left out:
    it forks short-lived helpers (Hadoop's ``chmod``), and until they exec,
    their copy of the JVM's pages would count twice."""
    kids = _children_map()
    total = 0
    for jvm in kids.get(root_pid, []):
        total += _rss_kb(jvm)
        stack = list(kids.get(jvm, []))
        while stack:
            pid = stack.pop()
            if _is_python(pid):
                total += _rss_kb(pid)
            stack.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Samples :func:`tree_rss_mb` of this process on a background thread
    and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
