"""Structured Streaming CDC ingest: WAL tail → foreachBatch → snapshot table.

The streaming twin of :class:`omop_meds_spark.runner.CDCRunner`. The WAL is
consumed as a genuine Structured Streaming query; the micro-batch body is
the same normalize → dedup → salted LWW → MERGE → transactional-commit
pipeline, so batch and streaming share one code path for the hard parts.

Design — the *pointer-file* pattern (manifest-driven file stream):

Spark's parquet file-source requires a fixed schema at stream start, but a
CDC WAL's schema drifts mid-stream (added / renamed columns — the whole
point of the schema-evolution requirement). So instead of streaming the
parquet rows, we stream tiny *pointer files* (one text file naming one WAL
parquet file). ``readStream.format("text")`` + ``maxFilesPerTrigger`` gives
bounded micro-batches of pointers; ``foreachBatch`` collects the ≤ K paths
(driver-side, a few strings — never data), reads those parquet files with
their own footer schemas, evolves the SchemaRegistry, aligns, and applies.
This is how production lakehouse ingest handles schema drift (queue of file
names → batch read), and it keeps arbitrary evolution fully online — no
stream restarts needed.

Exactly-once: Spark's streaming checkpoint makes ``foreachBatch`` run
at-least-once with a stable ``batch_id``; the SnapshotTable commit log
refuses re-application of a committed ``batch_id``. After a TOTAL
checkpoint loss, batch ids restart at 0 — that replay is a safe no-op only
if each renumbered batch carries the same file set as the committed batch
with that id (true when the WAL and ``files_per_batch`` are unchanged,
since pointer order is deterministic). The commit log therefore records
each batch's file list, and a committed ``batch_id`` arriving with a
DIFFERENT file set fails loudly instead of being silently skipped — the
silent-skip would permanently drop the never-applied files (e.g. the WAL
grew between loss and restart, or ``files_per_batch`` changed). Recovery
from that state is explicit: a fresh checkpoint dir plus either the
original batching config or a fresh table.

Ordering: micro-batch boundaries and file order NEVER affect the final
state — last-writer-wins is decided by ``seq_no`` (the WAL's total order)
and tombstones are retained in state, so any interleaving converges to the
identical table (property-tested in tests/test_streaming.py).

Reference mapping: this recasts the reference's batched main loop +
``.done``-marker resume (src/OMOP_MEDS/pre_meds.py:290-416, 74-79) as a
resumable streaming query; `Trigger.AvailableNow` bounds a run the way the
reference's one-shot CLI bounds a pipeline invocation.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import refresh_views
from ..operators.meds import MEDS_KEY_COLS, change_winners_to_meds
from ..operators.upsert import last_writer_wins
from ..plans.align import SchemaRegistry
from ..runner import merge_commit_target
from ..schemas import CANONICAL_RENAMES, CHANGE_EVENT_SCHEMA_V0, CONTENT_HASH_COL, KEY_COLS
from ..sources.wal import WalBatch, WalReader
from ..table import SnapshotTable


class StreamingCDCRunner:
    """Consume a WAL directory as a Structured Streaming query."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str | Path,
        table_root: str | Path,
        n_buckets: int = 32,
        files_per_batch: int = 4,
        n_salts: int = 16,
        salted: bool = False,
        views: list | None = None,
        dlq: bool = False,
        constraints: list[str] | None = None,
    ):
        self.spark = spark
        # incremental materialized views (ChangeFeedView subclasses —
        # anything with .refresh(spark)), refreshed concurrently inside
        # foreachBatch after the micro-batch commits: the streaming twin of
        # CDCRunner(views=). A crash between commit and refresh self-heals
        # (the view's lineage cursor folds everything unconsumed next time).
        self.views = list(views or [])
        # DLQ + CHECK constraints: the streaming twin of CDCRunner(dlq=,
        # constraints=) — same shared quarantine kernel, same
        # {table}/dlq/b{batch} layout, so read_dlq works over either
        # runner's output. Constraints imply the split.
        self.constraints = list(constraints or [])
        self.dlq = dlq or bool(self.constraints)
        self.dlq_root = Path(table_root) / "dlq"
        self.salted = salted
        self.wal_dir = Path(wal_dir)
        self.table_root = Path(table_root)
        self.table = SnapshotTable(table_root, KEY_COLS, n_buckets)
        self.meds_table = SnapshotTable(Path(table_root) / "meds", MEDS_KEY_COLS, n_buckets)
        self.registry = SchemaRegistry(
            target=CHANGE_EVENT_SCHEMA_V0, renames=dict(CANONICAL_RENAMES)
        )
        self.n_buckets = n_buckets
        self.n_salts = n_salts
        self.files_per_batch = files_per_batch
        self.metrics: list[dict] = []
        self._reader = WalReader(wal_dir, files_per_batch)

    # ------------------------------------------------------------- pointers
    @property
    def pointers_dir(self) -> Path:
        return self.table_root / "_stream_pointers"

    # fixed epoch base for pointer mtimes (any constant in the past works;
    # only the ORDER matters to the file source)
    _PTR_EPOCH = 1_600_000_000

    def publish_pointers(self) -> int:
        """One tiny text file per WAL parquet file (idempotent). In a live
        deployment the WAL writer publishes these as it seals segments; here
        we derive them from the directory listing (sorted — deterministic
        replay order, like the reference's sorted shard lists).

        Spark's file stream source orders files by MODIFICATION TIME, not
        name — pointer files written in the same millisecond would make
        micro-batch composition nondeterministic across replays, silently
        breaking the batch_id-keyed exactly-once log after checkpoint loss.
        Each pointer therefore gets a pinned, strictly-increasing mtime
        (epoch base + index): discovery order == lexicographic order on
        every run, on every machine."""
        self.pointers_dir.mkdir(parents=True, exist_ok=True)
        import os

        n = 0
        for i, p in enumerate(self._reader.list_files()):
            ptr = self.pointers_dir / f"{i:06d}.txt"
            if not ptr.exists():
                tmp = ptr.with_suffix(".tmp")
                tmp.write_text(str(p.resolve()))
                tmp.rename(ptr)
            t = self._PTR_EPOCH + i
            os.utime(ptr, (t, t))
            n += 1
        return n

    # ----------------------------------------------------------- batch body
    def _guard_fileset(self, batch_id: int, paths: list[str]) -> None:
        """A committed batch_id must carry the file set it committed with.
        Replay after checkpoint loss renumbers micro-batches from 0; if the
        WAL grew or files_per_batch changed, a renumbered batch can collide
        with a committed id while holding never-applied files — skipping it
        would be silent data loss, so mismatches raise."""
        incoming = sorted(str(Path(p).resolve()) for p in paths)
        for tbl in (self.table, self.meds_table):
            if not tbl.is_committed(batch_id):
                continue
            recorded = (tbl.batch_lineage(batch_id) or {}).get("files")
            if recorded is not None and sorted(recorded) != incoming:
                raise RuntimeError(
                    f"batch_id {batch_id} already committed with a different "
                    f"fileset (recorded {len(recorded)} files, incoming "
                    f"{len(incoming)}) — streaming checkpoint was lost while "
                    "the WAL or files_per_batch changed; refusing the silent "
                    "skip. Restart with the original batching config, or "
                    "re-ingest into a fresh table."
                )

    def _apply_files(self, paths: list[str], batch_id: int) -> None:
        if not paths:
            return
        self._guard_fileset(batch_id, paths)
        done_state = self.table.is_committed(batch_id)
        done_meds = self.meds_table.is_committed(batch_id)
        if done_state and done_meds:
            return  # replayed micro-batch after checkpoint loss — no-op
        t0 = time.monotonic()
        batch = WalBatch(batch_id=batch_id, files=tuple(sorted(paths)))
        from ..runner import normalize_events

        events = self._reader.read_batch(self.spark, batch, self.registry)
        n_quarantined = 0
        if self.dlq:
            from ..runner import quarantine_batch, valid_cond_with

            n_quarantined = quarantine_batch(events, self.dlq_root, batch_id,
                                             self.constraints)
            if n_quarantined:
                events = events.filter(valid_cond_with(self.constraints))
        # identical-payload redelivery needs no dedup shuffle — max_by over
        # (seq_no, event_id) is idempotent under duplicate copies.
        # LWW first, normalize only the winners, cache bucket-aligned so the
        # state write runs exchange-free (see CDCRunner.apply_batch — the
        # batch runner's plan, mirrored; the table owns the bucket stamp).
        lww = self.table.prepartition_delta(
            last_writer_wins(events, KEY_COLS, n_salts=self.n_salts, salted=self.salted)
        )
        winners = normalize_events(lww).persist()
        try:
            lineage = {"files": list(batch.files),
                       "schema_version": self.registry.version, "mode": "streaming"}
            if self.dlq:
                lineage["dlq_rows"] = n_quarantined
            stats = merge_commit_target(
                self.spark, self.table, winners, batch_id,
                lineage=lineage, schema_json=self.registry.schema_json(),
                prepartitioned=True,
            )
            merge_commit_target(
                self.spark, self.meds_table, change_winners_to_meds(winners),
                batch_id, lineage={**lineage, "target": "meds"},
            )
            for t in (self.table, self.meds_table):
                hot = t.hot_buckets(8)
                if hot:
                    t.compact(self.spark, buckets=hot)
            refresh_views(self.spark, self.views)
        finally:
            winners.unpersist()
        self.metrics.append(
            {"batch_id": batch_id, "n_keys": stats["n_keys"],
             "wall_s": time.monotonic() - t0}
        )

    def _foreach_batch(self, pointer_df: DataFrame, batch_id: int) -> None:
        # pointer rows are file paths — a handful of strings, driver-safe
        paths = [r["value"] for r in pointer_df.collect()]
        self._apply_files(paths, int(batch_id))

    # ---------------------------------------------------------------- drive
    def run_available(self, timeout_s: float = 600.0) -> list[dict]:
        """Process everything currently in the WAL, then stop
        (Trigger.AvailableNow — the streaming analogue of one CLI run).
        Restartable: streaming offsets live in the checkpoint dir, table
        idempotence in the snapshot log."""
        self.publish_pointers()
        ckpt = str(self.table_root / "_stream_checkpoint")
        stream = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", self.files_per_batch)
            .load(str(self.pointers_dir))
        )
        q = (
            stream.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
        return self.metrics

    def final_state(self) -> DataFrame | None:
        return self.table.read_live(self.spark)

    def final_meds(self) -> DataFrame | None:
        return self.meds_table.read_live(self.spark)
