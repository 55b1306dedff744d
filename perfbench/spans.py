"""Spans around the engine's public layer functions, recorded from the
benchmark's own files, and their fold into per-layer metrics.

``Tracer.install()`` wraps each entry of ``_points()`` (class methods and the
names ``runner.py`` imported) so every call records a span: name, start,
end (epoch seconds) and parent. While a span is open, the thread's
Spark local property ``perfbench.span`` holds its id, so Spark's event log
attributes every job, stage and task to the span that submitted it
(``stats.fold_event_log``).

The runner commits its two targets on pool threads. A span opened on a
thread that has no open span of its own takes the innermost open span of
the main thread as its parent, so those commits hang under their batch.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from stats import median, self_time, union_length

SPAN_KEY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None


def _points():
    from omop_meds_spark import runner
    from omop_meds_spark.operators.incremental import IncrementalAggView, SCD2View
    from omop_meds_spark.plans.align import SchemaRegistry
    from omop_meds_spark.sources.wal import WalReader
    from omop_meds_spark.table import SnapshotTable

    return [
        (runner.CDCRunner, "apply_batch", "runner.apply_batch"),
        (WalReader, "read_batch", "wal.read_batch"),
        (WalReader, "footer_rows", "wal.footer_rows"),
        (SchemaRegistry, "evolve", "align.evolve"),
        (SchemaRegistry, "align", "align.align"),
        (runner, "last_writer_wins", "upsert.last_writer_wins"),
        (runner, "normalize_events", "runner.normalize_events"),
        (runner, "change_winners_to_meds", "meds.change_winners_to_meds"),
        (SnapshotTable, "prepartition_delta", "table.prepartition_delta"),
        (SnapshotTable, "commit_delta_auto", "table.commit_delta_auto"),
        (SnapshotTable, "hot_buckets", "table.hot_buckets"),
        (SnapshotTable, "compact", "table.compact"),
        (SnapshotTable, "read_live", "table.read_live"),
        (SnapshotTable, "lookup", "table.lookup"),
        (SnapshotTable, "key_bucket", "table.key_bucket"),
        (SnapshotTable, "read_changes", "table.read_changes"),
        (IncrementalAggView, "refresh", "views.agg_refresh"),
        (SCD2View, "refresh", "views.scd2_refresh"),
    ]


class Tracer:
    """Collects spans in memory. ``enabled=False`` makes ``span`` free and
    ``install`` a no-op, so untraced runs execute the engine unwrapped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._open: dict[int, list[Span]] = defaultdict(list)
        self._main = threading.main_thread().ident
        self._patched: list[tuple[object, str, object]] = []

    @staticmethod
    def _set_property(value: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(SPAN_KEY, value)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._open[tid]
            owner = stack or self._open.get(self._main) or [None]
            parent = owner[-1]
            sp = Span(len(self.spans), name, parent.id if parent else None,
                      time.time(), None)
            self.spans.append(sp)
            stack.append(sp)
        self._set_property(str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                stack.pop()
                prev = str(stack[-1].id) if stack else None
            self._set_property(prev)

    def install(self) -> None:
        if not self.enabled:
            return
        for owner, attr, name in _points():
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def _wrap(self, orig, name: str):
        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name):
                return orig(*a, **k)
        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# ------------------------------------------------------------------ fold
_SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
                 "input_mb", "output_mb")


def layer_metrics(spans: list[Span], spark: dict[str, dict], queries: list[str],
                  extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced run. Times are seconds summed over
    the run, except ``session.*`` and ``query.*`` (medians over set-ups and
    passes). ``spark`` maps span id to its folded task metrics; ``extra``
    carries the metrics read from the tables themselves."""
    spans = [s for s in spans if s.end is not None]
    kids: dict[int, list[Span]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def dur(s: Span) -> float:
        return s.end - s.start

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def has_ancestor(s: Span, pred) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if pred(p):
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    def subtree(roots: list[Span]) -> list[Span]:
        out, todo = [], list(roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def fold(roots: list[Span]) -> dict[str, float]:
        acc = dict.fromkeys(_SPARK_FIELDS, 0.0)
        for s in subtree(roots):
            for f in _SPARK_FIELDS:
                acc[f] += spark.get(str(s.id), {}).get(f, 0.0)
        return acc

    def last_job_end(roots: list[Span]) -> float | None:
        ends = [spark[str(s.id)]["last_job_end"] for s in subtree(roots)
                if spark.get(str(s.id), {}).get("last_job_end") is not None]
        return max(ends) if ends else None

    m: dict[str, float] = {}
    batches = named("runner.apply_batch")
    m["runner.apply_batch.self_s"] = sum(
        self_time((b.start, b.end), [(c.start, c.end) for c in kids.get(b.id, [])])
        for b in batches)
    m["wal.read_batch_s"] = sum(map(dur, named("wal.read_batch")))
    m["wal.footer_rows_s"] = sum(map(dur, named("wal.footer_rows")))
    m["align.registry_s"] = sum(map(dur, named("align.evolve") + named("align.align")))
    for name in ("upsert.last_writer_wins", "runner.normalize_events",
                 "meds.change_winners_to_meds", "table.prepartition_delta"):
        m[f"{name}_s"] = sum(map(dur, named(name)))

    # commits of the batch's two targets (not the views' own commits)
    commit_s = post_job_s = 0.0
    commits: list[Span] = []
    for b in batches:
        cs = [c for c in kids.get(b.id, []) if c.name == "table.commit_delta_auto"]
        if not cs:
            continue
        commits += cs
        commit_s += union_length([(c.start, c.end) for c in cs])
        end = last_job_end(cs)
        if end is not None:
            post_job_s += max(0.0, max(c.end for c in cs) - end)
    m["table.commit_s"] = commit_s
    for f, v in fold(commits).items():
        m[f"table.commit.{f}"] = v
    m["table.commit.post_job_s"] = post_job_s

    in_batch = lambda s: has_ancestor(s, lambda p: p.name == "runner.apply_batch")  # noqa: E731
    m["table.hot_buckets_s"] = sum(dur(s) for s in named("table.hot_buckets") if in_batch(s))
    compacts = [s for s in named("table.compact") if in_batch(s)]
    m["table.compact_s"] = sum(map(dur, compacts))
    m["table.compact.calls"] = float(len(compacts))
    m["table.compact.output_mb"] = fold(compacts)["output_mb"]
    m["table.write_amp"] = extra.get("table.write_amp", 0.0)
    m["table.generations_max"] = extra.get("table.generations_max", 0.0)

    agg, scd = named("views.agg_refresh"), named("views.scd2_refresh")
    m["views.agg_refresh_s"] = sum(map(dur, agg))
    m["views.scd2_refresh_s"] = sum(map(dur, scd))
    vf = fold(agg + scd)
    m["views.refresh.executor_run_s"] = vf["executor_run_s"]
    m["views.refresh.input_mb"] = vf["input_mb"]

    # the serving reads: calls made inside the benchmark's read operations
    ops = [s for s in spans if s.name.startswith("op.")]
    in_op = lambda s: has_ancestor(s, lambda p: p.name.startswith("op."))  # noqa: E731
    for name in ("read_live", "lookup", "key_bucket", "read_changes"):
        m[f"table.{name}_s"] = sum(dur(s) for s in named(f"table.{name}") if in_op(s))
    rf = fold(ops)
    m["table.read.jobs"] = rf["jobs"]
    m["table.read.input_mb"] = rf["input_mb"]

    for name in ("session.get_spark", "session.warmup"):
        ds = [dur(s) for s in named(name)]
        m[f"{name}_s"] = median(ds) if ds else 0.0

    for q in queries:
        qs = named(f"query.{q}")
        m[f"query.{q}_s"] = median([dur(s) for s in qs]) if qs else 0.0
        m[f"query.{q}.shuffle_write_mb"] = (
            median([fold([s])["shuffle_write_mb"] for s in qs]) if qs else 0.0)
    return m
