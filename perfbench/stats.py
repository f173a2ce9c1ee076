"""Spark-free arithmetic of the benchmark: the tail percentile, span self time,
file-to-batch delay mapping, generator lateness and backlog.

Everything here works on plain numbers so ``test_stats.py`` can pin it
without a Spark session.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(percentile, value)`` of the highest order statistic that still has
    at least ``beyond`` samples above it. With fewer than ``2 * beyond``
    samples that statistic would sit below the median, so the median is
    reported instead (percentile 0.5)."""
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    k = n - beyond  # 1-based rank: exactly ``beyond`` samples lie above it
    if k < math.ceil(n / 2):
        return 0.5, float(np.median(xs))
    return k / n, xs[k - 1]


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover (children
    may overlap each other and may stick out of the parent)."""
    covered = 0.0
    for s, e in merge_intervals(children):
        s, e = max(s, start), min(e, end)
        if e > s:
            covered += e - s
    return (end - start) - covered


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span in a list of ``{"id", "parent", "start",
    "end"}`` records, keyed by span id."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: self_time(sp["start"], sp["end"], kids.get(sp["id"], []))
        for sp in spans
    }


def read_source_log(source_log_dir: str) -> dict[str, int]:
    """File name -> batch id from a file stream source's checkpoint log
    (``<checkpoint>/sources/0``: ``N`` and ``N.compact`` files holding a
    version line then one JSON entry per file)."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return out
    for name in os.listdir(source_log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_delays(
    due: dict[str, float], file_batch: dict[str, int], batch_end: dict[int, float]
) -> dict[str, float]:
    """Delay of each file: end of the batch that committed it minus the
    time it was due. Raises if a due file was never committed."""
    out = {}
    for name, t_due in due.items():
        if name not in file_batch:
            raise ValueError(f"file {name} was never committed")
        out[name] = batch_end[file_batch[name]] - t_due
    return out


def lateness(due: dict[str, float], released: dict[str, float]) -> float:
    """How late the generator ran: the largest release-minus-due gap."""
    return max(released[n] - due[n] for n in due)


def backlog_max(released: dict[str, float], committed: dict[str, float]) -> int:
    """Largest number of files released but not yet committed at any
    moment (a commit at the same instant as a release counts first)."""
    events = [(t, -1) for t in committed.values()] + [(t, +1) for t in released.values()]
    events.sort()  # at equal times -1 sorts first: the commit applies first
    level = peak = 0
    for _, step in events:
        level += step
        peak = max(peak, level)
    return peak


def files_per_batch(file_batch: dict[str, int], names: list[str]) -> list[int]:
    """How many of ``names`` each batch committed (batches that took none
    are omitted)."""
    counts: dict[int, int] = {}
    for n in names:
        b = file_batch[n]
        counts[b] = counts.get(b, 0) + 1
    return [counts[b] for b in sorted(counts)]
