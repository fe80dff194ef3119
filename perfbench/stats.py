"""Order statistics and host diagnostics, with no Spark dependency."""

from __future__ import annotations

import os
import time

# A percentile is reported only when at least this many samples lie
# beyond it, so one slow sample cannot set it.
MIN_TAIL = 10


def percentile(samples: list[float], q: float, min_tail: int = MIN_TAIL) -> float:
    """The ``q``-quantile (0 < q < 1) of ``samples``, linearly interpolated.

    Refuses a sample too small to put ``min_tail`` samples beyond the
    percentile: by default p90 needs 100 samples, p50 needs 20."""
    n = len(samples)
    if n == 0 or n * (1.0 - q) < min_tail - 1e-9:
        raise ValueError(
            f"p{q * 100:g} needs {round(min_tail / (1.0 - q))} samples, got {n}"
        )
    xs = sorted(samples)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_diagnostics(before: list[int]) -> dict:
    """CPU steal share since ``before``, load average and ``nproc``.

    Context for a run on a shared host; never used to scale or drop a run."""
    after = cpu_times()
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8]) or 1  # user .. steal; guest time is inside user
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "steal_share": round(delta[7] / total, 4) if len(delta) > 7 else None,
        "loadavg": load,
        "nproc": nproc(),
        "wall_clock": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Process ids of every process under ``root``."""
    kids = _children()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> tuple[int, int]:
    """Proportional set size of ``root`` alone and of ``root`` with all
    its descendants.  PSS splits pages shared after ``fork`` between the
    processes sharing them, so the sum does not count them once per
    Python worker."""
    sizes = []
    for pid in [root] + descendants(root):
        try:
            sizes.append(_pss_bytes(pid))
        except (OSError, ValueError):
            sizes.append(0)
    return sizes[0], sum(sizes)
