"""Pure-Python helpers of the benchmark: percentiles, interval algebra over
trace spans, and the fold of a Spark event log into per-span task metrics.

Nothing here imports Spark, so the rules are unit-tested on small fixtures
(``perfbench/tests``).
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable

# a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest nearest-rank percentile that has at least ``beyond``
    samples above it: returns ``(percentile, value)``.

    With ``n`` sorted samples the value at rank ``r`` (1-based) has
    ``n - r`` samples after it, so the rule picks rank ``n - beyond`` and
    reports it as percentile ``100 * (n - beyond) / n``. Needs
    ``n > beyond`` samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail percentile needs more than {beyond} samples, got {n}")
    rank = n - beyond
    return 100.0 * rank / n, sorted(values)[rank - 1]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals; overlaps
    count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover. Children
    that run concurrently (the runner's two commit threads) overlap, so
    the union is subtracted, never the sum; children are clipped to the
    parent's interval."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def fold_event_log(lines: Iterable[str], span_key: str) -> dict[str, dict]:
    """Fold Spark event-log lines into task metrics per span.

    Each job and stage carries the local property ``span_key`` that was set
    on the submitting thread (the span open there). Tasks are attributed
    through their stage to that span. Returns ``span_id -> {jobs, tasks,
    executor_run_s, gc_s, shuffle_write_mb, input_mb, output_mb,
    last_job_end}`` where ``last_job_end`` is the completion time (epoch
    seconds) of the span's latest job."""
    stage_span: dict[tuple[int, int], str] = {}
    job_span: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(span: str) -> dict:
        return out.setdefault(span, {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "input_mb": 0.0, "output_mb": 0.0,
            "last_job_end": None,
        })

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(span_key)
            if span is not None:
                job_span[ev["Job ID"]] = span
                acc(span)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            span = job_span.get(ev["Job ID"])
            if span is not None:
                a = acc(span)
                end = ev["Completion Time"] / 1000.0
                a["last_job_end"] = end if a["last_job_end"] is None else max(a["last_job_end"], end)
        elif kind == "SparkListenerStageSubmitted":
            span = (ev.get("Properties") or {}).get(span_key)
            info = ev["Stage Info"]
            if span is not None:
                stage_span[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = span
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            a = acc(span)
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            a["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
            a["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
    return out
