#!/usr/bin/env python3
"""The CDC engine's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout on ``local[4]``. Inputs (WALs, oracle
fingerprints, query tables) are made from the seed before timing and cached
under ``perfbench/.work``. Each run sets up the session three times (the
first from process start, with the JVM cold; each set-up ends with a
warm-up batch from a separate WAL), then replays the workload's WAL on
fresh tables (another replay only while it fits in ``--seconds``), checks
every output against its oracle and prints the result as the last line of
standard output:

* ``--trace 0``: the end-to-end metrics, measured with tracing off;
* ``--trace 1``: the per-layer metrics, from spans around the engine's
  public layer functions and Spark's event log.

A line before the result carries the details (tail percentiles, read
latencies, set-up times, the end-to-end figures of a traced run).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
WORK = HERE / ".work"

CORES = 4
SETUPS = 3
SESSION_CONF = {
    # below the box's physical memory, which other tenants share
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
}


@dataclass(frozen=True)
class Workload:
    wal_files: int          # one WAL file per micro-batch
    events_per_file: int
    n_buckets: int
    views: bool             # IncrementalAggView + SCD2View on the runner
    lookups_per_batch: int  # point lookups in the read set (0: no reads)


WORKLOADS = {
    # two compaction cycles: batches 7 and 14 compact
    "live_tail": Workload(15, 5000, 8, views=False, lookups_per_batch=0),
    # writes beside reads: views refresh in every batch, a read set follows
    "serve_mix": Workload(3, 5000, 8, views=True, lookups_per_batch=2),
}


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory of the checkout."""
    import tempfile

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))


def _session(trace: bool):
    from omop_meds_spark.session import get_spark

    conf = dict(SESSION_CONF, **{
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    })
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(WORK / "eventlog"),
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def _warm_up(spark, wal: Path, root: Path) -> None:
    """Apply the one-batch warm-up WAL, so the timed replay starts with a
    warm JVM."""
    from omop_meds_spark.runner import CDCRunner

    CDCRunner(spark, wal, root, n_buckets=4, files_per_batch=1).run()


def _bytes(paths) -> int:
    return sum(p.stat().st_size for p in paths)


def _referenced_bytes(table) -> int:
    m = table.latest()
    return 0 if m is None else _bytes(
        table.root / f for fs in m["files"].values() for f in fs)


def _p50(xs: list[float]) -> float | None:
    from stats import median

    return median(xs) if xs else None


class Bench:
    def __init__(self, args, tracer, sampler):
        self.args = args
        self.tracer = tracer
        self.sampler = sampler
        self.w = WORKLOADS[args.workload]
        self.ops = Ops()
        self.lat: list[float] = []          # batch latencies
        self.events = 0
        self.ingest_s = 0.0
        self.cpu_s = 0.0
        self.reads: dict[str, list[float]] = {"read_live": [], "lookup": [], "read_changes": []}
        self.suite: list[float] = []
        self.bytes_per_row: list[float] = []
        self.extra = {"table.write_amp": 0.0, "table.generations_max": 0.0}
        self.check_s = 0.0

    # --------------------------------------------------------------- unit
    def unit(self, spark, wal: Path, oracle: dict, root: Path, keys: list[dict]) -> None:
        """One replay of the WAL on fresh tables, then its checks."""
        from time import perf_counter

        from omop_meds_spark.operators.incremental import IncrementalAggView, SCD2View
        from omop_meds_spark.runner import CDCRunner

        w = self.w
        runner = CDCRunner(spark, wal, root / "t", n_buckets=w.n_buckets, files_per_batch=1)
        views = []
        if w.views:
            views = [IncrementalAggView(root / "agg", runner.table, dims=["lang"],
                                        sum_cols=["token_count"]),
                     SCD2View(root / "scd2", runner.table)]
            runner.views.extend(views)
        plan = runner.reader.plan_batches()
        lookups: list = []
        for i, batch in enumerate(plan):
            v0 = runner.table.version
            self.ops.attempted += 1
            cpu0 = self.sampler.cpu_s()
            t = perf_counter()
            try:
                m = runner.apply_batch(batch)
            except Exception:
                traceback.print_exc()
                self.ops.fail(len(plan) - i, f"batch {batch.batch_id} raised")
                self.ops.attempted += len(plan) - i - 1
                return
            dt = perf_counter() - t
            self.cpu_s += self.sampler.cpu_s() - cpu0
            self.lat.append(dt)
            self.ingest_s += dt
            self.events += m["n_events"]
            if self.args.trace:
                self.extra["table.generations_max"] = max(
                    self.extra["table.generations_max"],
                    runner.table.max_files_per_bucket(), runner.meds_table.max_files_per_bucket())
            if w.lookups_per_batch:
                lookups = self.read_set(spark, runner, v0, keys)
        t = perf_counter()
        try:
            self.check(spark, runner, views, oracle, keys, lookups, len(plan))
        except Exception:
            traceback.print_exc()
            self.ops.fail(len(plan), "the output checks raised")
        self.check_s += perf_counter() - t
        wal_bytes = _bytes(wal.glob("*.parquet"))
        written = _bytes((root / "t").rglob("*.parquet"))
        self.extra["table.write_amp"] = written / wal_bytes

    def _op(self, name: str, fn):
        from time import perf_counter

        self.ops.attempted += 1
        t = perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn()
        except Exception:
            traceback.print_exc()
            self.ops.fail(1, f"{name} raised")
            return None
        self.reads[name].append(perf_counter() - t)
        return out

    def read_set(self, spark, runner, since: int, keys: list[dict]) -> list:
        """The reads that follow each commit: one MEDS scan, the point
        lookups, and the change feed of the batch just committed."""
        self._op("read_live", lambda: runner.meds_table.read_live(spark).count())
        found = [self._op("lookup", lambda k=k: [
            r["content_sha256"] for r in runner.table.lookup(spark, k).collect()]) for k in keys]
        self._op("read_changes", lambda: (runner.table.read_changes(spark, since) or
                                          spark.range(0)).count())
        return found

    # ------------------------------------------------------------- checks
    def check(self, spark, runner, views, oracle, keys, lookups, n_batches) -> None:
        """Final state and MEDS target against the replay oracle, the last
        lookups against the oracle's live rows, views against a
        recomputation from the final state."""
        from pyspark.sql import functions as F

        from data import FP_COLS, MEDS_FP_COLS
        from omop_meds_spark import verify

        state = runner.final_state()
        fp = verify.state_fingerprint(state, FP_COLS)
        if list(fp) != oracle["state"] or list(verify.state_fingerprint(
                runner.final_meds(), MEDS_FP_COLS)) != oracle["meds"]:
            self.ops.fail(n_batches, "final state or MEDS fingerprint differs from the replay oracle")
            return
        self.bytes_per_row.append(
            (_referenced_bytes(runner.table) + _referenced_bytes(runner.meds_table)) / fp[0])
        live = {(r, p): s for r, p, s in oracle["live"]}
        for k, got in zip(keys, lookups):
            want = [live[(k["repo"], k["path"])]] if (k["repo"], k["path"]) in live else []
            if got is not None and got != want:
                self.ops.fail(1, f"lookup {k} returned {got}, oracle {want}")
        if not views:
            return
        agg, scd = views
        got = {(x["lang"], x["n_rows"], x["sum_token_count"]) for x in agg.read(spark).collect()}
        want = {(x["lang"], x["n"], x["s"]) for x in state.groupBy("lang").agg(
            F.count("*").alias("n"),
            F.sum(F.col("token_count").cast("decimal(28,4)")).alias("s")).collect()}
        if got != want:
            self.ops.fail(n_batches, "IncrementalAggView differs from a recomputation")
        row = ["repo", "path", "content_sha256"]
        open_fp = verify.state_fingerprint(
            scd.read_intervals(spark).filter(F.col("is_current")), row)
        n_feed = runner.table.read_changes(spark, since_version=-1).count()
        if (open_fp != verify.state_fingerprint(state, row)
                or scd.read_log(spark).count() != n_feed):
            self.ops.fail(n_batches, "SCD2View differs from the final state and change feed")

    # ------------------------------------------------------------ queries
    def queries(self, spark, passes: int) -> None:
        """Headline query passes (traced runs of serve_mix): each query
        collected and compared with its DuckDB twin."""
        from time import perf_counter

        from data import HEADLINE, ensure_query_data, frame_mismatch
        from omop_meds_spark.queries import ALL_QUERIES

        qdir, expected = ensure_query_data(WORK / "inputs", scale=0.1)
        for _ in range(passes):
            t = perf_counter()
            for q in HEADLINE:
                self.ops.attempted += 1
                try:
                    with self.tracer.span(f"query.{q}"):
                        got = ALL_QUERIES[q](spark, str(qdir)).toPandas()
                except Exception:
                    traceback.print_exc()
                    self.ops.fail(1, f"query {q} raised")
                    continue
                why = frame_mismatch(got, expected[q])
                if why:
                    self.ops.fail(1, f"query {q}: {why}")
            self.suite.append(perf_counter() - t)


def _lookup_keys(seed: int, spec) -> list[dict]:
    import numpy as np

    rng = np.random.default_rng(seed + 1)
    repos = [0, int(rng.integers(1, spec.n_repos))]  # the hot repo and a cold one
    return [{"repo": f"repo_{r}", "path": f"src/f{int(rng.integers(0, spec.paths_per_repo))}.src"}
            for r in repos]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and anything it forked)."""
    from pyspark import SparkContext

    from procs import tree_pids

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    for _ in range(50):
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _event_log() -> dict[str, dict]:
    from stats import fold_event_log
    from spans import SPAN_KEY

    lines: list[str] = []
    # one file per application, or a directory of rolled event files
    for app in sorted((WORK / "eventlog").iterdir()):
        for f in sorted(app.glob("events_*")) if app.is_dir() else [app]:
            lines += f.read_text().splitlines()
    return fold_event_log(lines, SPAN_KEY)


def run(args) -> dict:
    from data import HEADLINE, WalSpec, ensure_wal, ensure_warmup_wal
    from procs import ProcTree
    from stats import tail_percentile
    from spans import Tracer, layer_metrics

    w = WORKLOADS[args.workload]
    spec = WalSpec(w.wal_files, w.events_per_file)
    inputs = WORK / "inputs"
    t_inputs = time.monotonic()
    wal, oracle = ensure_wal(inputs, args.workload, spec, args.seed)
    warm_wal = ensure_warmup_wal(inputs)
    t_inputs = time.monotonic() - t_inputs
    for d in ("tables", "eventlog", "spark-local"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "eventlog").mkdir(parents=True)

    sampler = ProcTree()
    sampler.start()
    tracer = Tracer(bool(args.trace))
    bench = Bench(args, tracer, sampler)
    spark = None
    try:
        setup_s = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.monotonic()
            with tracer.span("session.get_spark"):
                spark = _session(bool(args.trace))
            with tracer.span("session.warmup"):
                _warm_up(spark, warm_wal, WORK / "tables" / f"warmup-{i}")
            # the first set-up counts from process start, less input making
            setup_s.append(time.monotonic() - (T_PROCESS + t_inputs if i == 0 else t))
        keys = _lookup_keys(args.seed, spec) if w.lookups_per_batch else []
        tracer.install()
        # whole replays: another one starts only if it fits in --seconds,
        # judged by the last one, so the replay count does not flip with
        # small changes in speed
        t_measure = time.monotonic()
        units, last = 0, 0.0
        while units == 0 or time.monotonic() - t_measure + last <= args.seconds:
            t = time.monotonic()
            bench.unit(spark, wal, oracle, WORK / "tables" / f"unit-{units}", keys)
            last = time.monotonic() - t
            units += 1
        if args.trace and args.workload == "serve_mix":
            bench.queries(spark, passes=3)
        tracer.uninstall()
        t_measure = time.monotonic() - t_measure
    finally:
        t_stop = time.monotonic()
        _stop_spark(spark)
        sampler.stop()
        t_stop = time.monotonic() - t_stop

    lat = bench.lat
    e2e = {
        "events_per_s": bench.events / bench.ingest_s if bench.ingest_s else None,
        "batch_latency_p50_s": _p50(lat),
        "cpu_s_per_mevent": bench.cpu_s / bench.events * 1e6 if bench.events else None,
        "bytes_per_live_row": _p50(bench.bytes_per_row),
        "peak_rss_mb": sampler.peak_rss_bytes / 1e6,
        "setup_s": _p50(setup_s),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": units, "batches": len(lat), "events": bench.events,
        "setup_each_s": setup_s, "e2e": e2e,
        "phases_s": {"inputs": t_inputs, "setups": sum(setup_s),
                     "measure": t_measure - bench.check_s, "checks": bench.check_s,
                     "stop": t_stop},
        "batch_latency_s": lat,
        "problems": bench.ops.problems,
    }
    if len(lat) > 10:
        detail["batch_latency_tail"] = dict(zip(("percentile", "s"), tail_percentile(lat)))
    for name, xs in bench.reads.items():
        if xs:
            detail[f"{name}_p50_s"] = _p50(xs)
            detail[f"{name}_n"] = len(xs)
    if bench.suite:
        detail["suite_s"] = _p50(bench.suite)
        detail["suite_each_s"] = bench.suite
    print(json.dumps({"detail": detail}), flush=True)

    # report exactly the metrics BENCHMARK.json declares, with its units
    declared = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    values = (layer_metrics(tracer.spans, _event_log(), HEADLINE, bench.extra)
              if args.trace else e2e)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared["per_layer" if args.trace else "end_to_end"]}
    correct = not bench.ops.problems and all(m["value"] is not None for m in metrics.values())
    return {"correct": correct, "attempted": max(1, bench.ops.attempted),
            "failed": bench.ops.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (CHECKOUT / "omop_meds_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package at {CHECKOUT}/omop_meds_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(CHECKOUT))
    _prepare_environment()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
