"""Latency statistics and process accounting.

Latency is summarised per op *kind* (a class of ops with one latency
distribution) and only then combined across kinds with a geometric
mean, so a workload whose kinds differ tenfold in cost is not
summarised by a quantile that falls between two classes.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

# A kind's p75 is reported only when at least this many samples lie
# strictly beyond it: fewer and the quantile is decided by one or two
# slow ops.
MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values: list[float], q: float) -> int:
    """Samples strictly greater than the ``q`` quantile."""
    cut = quantile(values, q)
    return sum(1 for v in values if v > cut)


def by_kind(samples: list[tuple[str, float]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for kind, v in samples:
        out[kind].append(v)
    return dict(out)


def geomean(values: list[float]) -> float:
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_quantile(samples: list[tuple[str, float]], q: float, kinds: list[str] | None = None,
                  min_beyond: int = 0) -> float | None:
    """Geometric mean, over ``kinds`` (default: every kind seen), of
    each kind's own ``q`` quantile. Kinds with fewer than ``min_beyond``
    samples beyond their quantile are left out; None when no kind
    qualifies."""
    groups = by_kind(samples)
    picked = []
    for k in kinds if kinds is not None else sorted(groups):
        vals = groups.get(k)
        if not vals:
            continue
        if min_beyond and beyond(vals, q) < min_beyond:
            continue
        picked.append(quantile(vals, q))
    return geomean(picked) if picked else None


# --- /proc accounting ---------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and every live descendant,
    including what reaped children left in each parent's cutime/cstime
    (so short-lived Python workers are counted by their daemon)."""
    total = 0.0
    stack = [pid]
    while stack:
        p = stack.pop()
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat;
        # after dropping pid and comm they sit at offsets 11-14
        total += sum(int(x) for x in f[11:15]) / _TICK
        stack += _children(p)
    return total


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm(pid: int) -> None:
    """Restart ``pid``'s VmHWM from its current RSS (writing 5 to
    clear_refs), so the peak covers only what follows."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


# --- write amplification ----------------------------------------------------------

def file_sizes(root: str) -> dict[str, int]:
    """Size of every regular file under ``root`` keyed by path."""
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.stat(p).st_size
            except OSError:
                pass
    return out


def created_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files present in ``after`` but not in ``before``; a file
    rewritten in place counts with its new size."""
    return sum(sz for p, sz in after.items() if p not in before or before[p] != sz)


def write_amp(created: int, submitted: int) -> float:
    return created / submitted if submitted else 0.0


# --- result comparison ----------------------------------------------------------

def rows_match(cols_a: list[str], rows_a: list[tuple], cols_b: list[str], rows_b: list[tuple],
               tol: float) -> bool:
    """Order-insensitive equality of two results in which float values
    may differ by up to ``tol`` (every other value must be equal).
    Two engines rounding a double to 4 decimals disagree by one unit
    when the unrounded values straddle a rounding boundary."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            vals = [r[i] for i in order]
            key = tuple("" if isinstance(v, float) else repr(v) for v in vals)
            out.append((key, vals))
        return [v for _, v in sorted(out, key=lambda kv: (kv[0], [x for x in kv[1] if isinstance(x, float)]))]

    for ra, rb in zip(canon(cols_a, rows_a), canon(cols_b, rows_b)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not abs(x - y) <= tol:
                    return False
            elif x != y:
                return False
    return True
