"""The benchmark's three measurement rules, free of Spark so that they
can be unit-tested: the tail percentile, the stage-window delta and
span self time."""

from __future__ import annotations

from collections.abc import Iterable


def tail(samples: Iterable[float], beyond: int = 10) -> tuple[float, float] | None:
    """Highest percentile that has at least ``beyond`` samples above it.

    With ``n`` sorted samples, the ``k``-th smallest has ``n - k``
    samples beyond it, so the tail is the ``(n - beyond)``-th smallest,
    at percentile ``100 * (n - beyond) / n``. Returns ``(percentile,
    value)``, or None when there are not more than ``beyond`` samples.
    """
    xs = sorted(samples)
    k = len(xs) - beyond
    if k < 1:
        return None
    return 100.0 * k / len(xs), xs[k - 1]


def covered(start: float, end: float,
            intervals: Iterable[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(start: float, end: float,
              children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


#: stage counters summed over a window, keyed by the name they are
#: reported under, from the status store's StageData fields
STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "shuffle_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}


def stage_window(stages: Iterable[dict], first: int, end: int,
                 t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Attribute the stages with ids in ``[first, end)`` to one call.

    Stage ids are handed out in submission order, so with a single
    client the ids allocated between a call's start and its end are
    exactly the call's stages, whichever thread submitted them. Only
    COMPLETE stages count as ``stages``; AQE-skipped stages never run
    and are ignored, and failed attempts add only their failed tasks.
    ``driver_s`` is the part of the call's wall time ``[t0_ms, t1_ms]``
    during which none of its stages was running; ``stage_walls`` lists
    each completed stage's wall time in seconds.
    """
    out = {k: 0 for k in ("stages", *STAGE_SUMS)}
    busy, walls = [], []
    for s in stages:
        if not first <= s["stageId"] < end:
            continue
        if s["status"] == "COMPLETE":
            out["stages"] += 1
            walls.append((s["completionTime"] - s["submissionTime"]) / 1000.0)
            for k, field in STAGE_SUMS.items():
                out[k] += s[field]
        elif s["status"] == "FAILED":
            out["failed_tasks"] += s["numFailedTasks"]
        else:
            continue
        if s.get("submissionTime") and s.get("completionTime"):
            busy.append((s["submissionTime"], s["completionTime"]))
    out["driver_s"] = self_time(t0_ms, t1_ms, busy) / 1000.0
    out["stage_walls"] = walls
    return out
