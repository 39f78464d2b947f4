"""The benchmark's own arithmetic: percentiles, the tail rule, mapping
live files to the sink epochs that committed them, and span self time.

Pure Python with no Spark import, so the unit tests in
``perfbench/test_stats.py`` run in milliseconds.
"""

from __future__ import annotations

import math

# A tail percentile must have at least this many samples beyond it.
TAIL_BEYOND = 10


def quantile(xs: list[float], p: float) -> float:
    """The p-th percentile (0..100) of xs, linear interpolation between
    closest ranks (numpy's default method)."""
    if not xs:
        raise ValueError("quantile of an empty sample")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """The highest whole percentile in [50, 99] whose interpolation
    position leaves at least ``beyond`` of n samples strictly above it.

    With too few samples for any such percentile the tail degenerates to
    the median (50), which callers report together with n."""
    for p in range(99, 49, -1):
        if n - 1 - math.floor((n - 1) * p / 100.0) >= beyond:
            return p
    return 50


def tail(xs: list[float]) -> tuple[int, float]:
    """(percentile, value) of the tail of xs under the tail rule."""
    p = tail_percentile(len(xs))
    return p, quantile(xs, p)


def files_to_epochs(
    file_rows: list[int], epoch_rows: list[tuple[int, int]]
) -> list[int | None]:
    """Map each input file to the epoch that ingested it.

    ``file_rows`` are the row counts of the files in pickup order (the
    file source orders by modification time). ``epoch_rows`` are
    (epoch_id, numInputRows) in epoch order. The file source hands an
    epoch whole files, so every epoch's cumulative row count lands on a
    file boundary; the file whose cumulative end is first reached
    belongs to that epoch. Files past the last epoch map
    to None. A cumulative count that falls inside a file means the
    pickup order differs from the schedule, and raises ValueError.
    """
    ends = []
    acc = 0
    for r in file_rows:
        acc += r
        ends.append(acc)
    boundaries = set(ends)
    out: list[int | None] = [None] * len(file_rows)
    f = 0
    cum = 0
    for epoch_id, n in epoch_rows:
        if n == 0:
            continue
        cum += n
        if cum < acc and cum not in boundaries:
            raise ValueError(f"epoch {epoch_id} ends at row {cum}, inside file {f}")
        while f < len(ends) and ends[f] <= cum:
            out[f] = epoch_id
            f += 1
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its children (overlapping children count once,
    and a child's part outside its parent is ignored)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        )
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of self time per ``layer`` over all spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
