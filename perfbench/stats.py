"""Pure arithmetic for the benchmark: stage-metric sums, interval
coverage, span self time and the spread of repeated runs.

Nothing here imports Spark, so the benchmark's own tests exercise it
without a session.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass(frozen=True)
class StageStats:
    """One executed stage attempt, as read from Spark's status store.

    Times are wall-clock epoch seconds (``start``/``end``) and summed
    task seconds (``run_s``, ``cpu_s``, ``gc_s``); sizes are bytes."""

    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    start: float
    end: float


def sum_stages(stages: list[StageStats]) -> dict[str, float]:
    """Totals over stages. ``executor_wait_s`` is task run time not spent
    on the JVM's CPU: Python workers, disk, shuffle fetch and
    scheduling inside the task."""
    run = sum(s.run_s for s in stages)
    cpu = sum(s.cpu_s for s in stages)
    return {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": run,
        "executor_cpu_s": cpu,
        "executor_wait_s": max(run - cpu, 0.0),
        "jvm_gc_s": sum(s.gc_s for s in stages),
        "input_mb": sum(s.input_bytes for s in stages) / MB,
        "output_mb": sum(s.output_bytes for s in stages) / MB,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "spill_mb": sum(s.spill_bytes for s in stages) / MB,
    }


def covered(window: tuple[float, float], intervals) -> float:
    """Length of the part of ``window`` that the union of ``intervals``
    covers. Intervals may overlap each other and stick out of the
    window."""
    lo, hi = window
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
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


def driver_gap(window: tuple[float, float], stages: list[StageStats]) -> float:
    """Seconds of ``window`` during which no stage was running."""
    return (window[1] - window[0]) - covered(
        window, [(s.start, s.end) for s in stages]
    )


def geomean(values: list[float], floor: float = 1e-3) -> float:
    """Geometric mean, each value floored at ``floor`` so a near-zero
    latency cannot zero the product (the floor ``bench.py`` uses)."""
    if not values:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(max(v, floor)) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered((s["start"], s["end"]), children.get(s["id"], []))
        for s in spans
    }
