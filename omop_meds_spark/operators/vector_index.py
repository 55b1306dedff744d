"""Incrementally-maintained IVF vector index over a CDC table.

The vector-lakehouse pattern: a ``SnapshotTable`` holds documents whose
payload includes an embedding column; similarity search wants an IVF
(inverted-file) index — every vector assigned to its nearest centroid
cell, queries probing only a few cells — kept fresh as the table ingests
upserts and deletes, WITHOUT ever re-indexing the corpus.

``IVFIndexView`` is that index as a materialized view, maintained from the
table's change feed exactly like ``IncrementalAggView`` maintains an
aggregate (a ``ChangeFeedView``, same O(changed data) refresh cost), but
keyed BY THE SOURCE KEY — which makes the fold strictly
simpler: no old-state subtraction, a changed key's index row is simply
upserted (its new cell + quantized vector) or tombstoned (key deleted),
and the index table's own LWW merge resolves everything else.

Design points, in scale order:

* **Codebook**: ``n_centroids`` quantized vectors picked deterministically
  from the corpus at ``build()`` time (smallest keys first — the same
  pluggable selection as ``similarity._centroid_codebook``; production
  swaps in a k-means job over a sample). Stored driver-side as JSON in the
  index root: centroids are plan-side state (256 × 1024 int64s ≈ 2 MB)
  and must stay FROZEN across refreshes — an index whose cells move under
  it returns wrong probes. Corpus drift is handled the way real IVF
  deployments do: measure ``cell_stats`` skew, then ``rebuild()`` (a new
  codebook + full re-assignment), the index analogue of a rebucket.
* **Assignment is a projection**: the codebook broadcast-cross-joins the
  changed rows and the cell is an argmin over the centroid array
  (``similarity._nearest_cells``) — zero exchanges beyond the index
  table's own bucketed write.
* **Search prunes by cell**: the query's ``n_probe`` nearest cells are
  computed DRIVER-SIDE over the stored codebook (exact same floor-quantized
  int math as the plan-side assignment — pinned by a test), then the index
  is read with a ``between``/``eq`` cell predicate so zone-map file
  skipping applies after a ``cluster_by=["cell"]`` compaction; candidates
  score with the exact int64 dot and a top-k sort on the (tiny) candidate
  set. Corpus-side cost: the probed cells only.

Reference note: the reference has no vector surface at all (Polars ETL);
this composes the repo's own primitives (snapshot table, change feed,
IVF operators) into the index-maintenance capability a training-data
pipeline needs at 100 TB.
"""

from __future__ import annotations

import contextlib
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import SnapshotTable
from .incremental import ChangeFeedView, _touched_buckets
from .similarity import QUANT, _nearest_cells, int_dot

_CODEBOOK_FILE = "_codebook.json"


def _quantize_py(vec: list[float]) -> list[int]:
    """Driver-side twin of ``similarity.quantized_col`` — floor, not
    round, so Python and the JVM agree bit-for-bit on every input
    (round() would split between banker's and half-away conventions;
    floor is identical everywhere, negatives included).

    >>> _quantize_py([0.5, -0.5, 1.00005, -1.00005])
    [5000, -5000, 10000, -10001]
    >>> _quantize_py([])
    []
    """
    import math

    return [int(math.floor(float(x) * QUANT)) for x in vec]


def _l2sq_py(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _cents_df(spark: SparkSession, cents: list[list[int]]):
    """1-row broadcastable codebook frame: cents = array<struct<cid,ce>>."""
    rows = [(i, [int(x) for x in c]) for i, c in enumerate(cents)]
    return (
        spark.createDataFrame(rows, "cid int, ce array<long>")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "ce"))).alias("cents"))
    )


def kmeans_codebook(spark: SparkSession, corpus: DataFrame,
                    key_cols: list[str], emb_col: str = "embedding",
                    k: int = 8, iters: int = 2) -> list[list[int]]:
    """Deterministic, cross-engine-exact Lloyd refinement of the first-k
    seed codebook — the production swap the first-k pick documents.

    Exactness contract (what makes a DuckDB oracle able to replay it):

    * vectors are floor-quantized ints (``similarity.quantized_col``);
    * assignment is argmin over int l2sq with (dist, cid) tie order —
      the identical expression the index's plan-side assignment uses;
    * the centroid update is the coordinate-wise INTEGER floor mean
      ``sum // count`` (empty cell keeps its centroid), so no float
      summation order can split the engines;
    * the iteration count is FIXED (no convergence test), so the oracle
      is a straight-line CTE chain, one block per iteration.

    Scale shape: per iteration ONE job — broadcast-codebook argmin
    projection (zero exchange) + posexplode to (cell, pos) and a grouped
    sum (one shuffle of corpus×d rows, map-side combined to k×d groups);
    only k×d sums reach the driver. At 100 TB you run this over a
    deterministic sample (caller pre-filters; the seeds and update rule
    are sample-content-addressed so the codebook stays reproducible).
    """
    from .similarity import _nearest_cells, quantized_col

    qz = corpus.select(*key_cols, quantized_col(emb_col).alias("e"))
    seeds = qz.orderBy(*key_cols).limit(int(k)).collect()
    cents = [list(r["e"]) for r in seeds]
    for _ in range(int(iters)):
        assigned = (
            qz.crossJoin(F.broadcast(_cents_df(spark, cents)))
            .select(
                F.element_at(_nearest_cells(F.col("e"), F.col("cents"), 1), 1)
                .cast("int").alias("cell"),
                F.posexplode("e").alias("pos", "val"),
            )
        )
        stats = (
            assigned.groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in stats:
            new[r["cell"]][r["pos"]] = int(r["s"]) // int(r["n"])
        cents = new
    return cents


class IVFIndexView(ChangeFeedView):
    """See module docstring. ``source`` rows must carry ``emb_col``
    (``array<float/double>``); the index table is keyed by
    ``source.key_cols`` with payload (cell int, e array<long>)."""

    def __init__(self, root: str | Path, source: SnapshotTable,
                 emb_col: str = "embedding", n_centroids: int = 8,
                 n_buckets: int | None = None):
        self.root = Path(root)
        self.source = source
        self.emb_col = emb_col
        self.n_centroids = int(n_centroids)
        self.table = SnapshotTable(self.root, key_cols=list(source.key_cols),
                                   n_buckets=n_buckets, stats_cols=["cell"])

    # ----------------------------------------------------------- codebook
    @property
    def _codebook_path(self) -> Path:
        return self.root / _CODEBOOK_FILE

    def codebook(self) -> list[list[int]] | None:
        """cid-ordered quantized centroid vectors (None before build()). A
        corrupt file raises: treating it as absent would let ``build()``
        write new centroids under index rows assigned to the old ones."""
        try:
            raw = self._codebook_path.read_bytes()
        except FileNotFoundError:
            return None
        try:
            cents = json.loads(raw)["centroids"]
            if all(isinstance(c, list) for c in cents):
                return cents
        except (ValueError, KeyError, TypeError):
            pass
        raise ValueError(f"IVFIndexView: corrupt codebook {self._codebook_path}")

    def build(self, spark: SparkSession, method: str = "first_k",
              kmeans_iters: int = 2) -> int:
        """Pick the codebook from the CURRENT live corpus and write it
        (atomic publish, same tmp-rename protocol as manifests). Returns
        the number of centroids actually found (a tiny corpus may hold
        fewer than ``n_centroids``). Does NOT index anything — call
        ``refresh()`` after; the first refresh bootstraps from live state.

        ``method``: ``"first_k"`` (smallest keys — the cheap deterministic
        pick) or ``"kmeans"`` (``kmeans_codebook`` — first_k seeds refined
        by ``kmeans_iters`` integer-exact Lloyd iterations; measurably
        better cell balance, still relationally replayable)."""
        if self.codebook() is not None:
            raise ValueError(
                "IVFIndexView.build: codebook already exists — centroids are "
                "frozen index state; use rebuild() to re-pick and re-assign")
        live = self.source.read_live(spark)
        if live is None:
            raise ValueError("IVFIndexView.build: source table is empty")
        if method == "kmeans":
            cents = kmeans_codebook(spark, live, list(self.source.key_cols),
                                    self.emb_col, self.n_centroids,
                                    kmeans_iters)
        elif method == "first_k":
            from .similarity import quantized_col

            picks = (
                live.select(*self.source.key_cols,
                            quantized_col(self.emb_col).alias("e"))
                .orderBy(*self.source.key_cols)
                .limit(self.n_centroids)
                .collect()
            )
            cents = [list(r["e"]) for r in picks]
        else:
            raise ValueError(f"build: unknown codebook method {method!r}")
        tmp = self._codebook_path.with_name(".tmp." + _CODEBOOK_FILE)
        tmp.write_text(json.dumps(
            {"format": 1, "method": method, "centroids": cents}))
        tmp.replace(self._codebook_path)
        return len(cents)

    def rebuild(self, spark: SparkSession) -> int:
        """Drift repair: drop the codebook, re-pick from the CURRENT live
        corpus, reset the cursor by re-bootstrapping the whole index (one
        full re-assignment — the deliberate, paid-for path, never implicit).
        The index table's history is preserved (the re-assignment is an
        ordinary commit generation).

        Pending changes fold FIRST: the re-assignment only asserts the
        live corpus, so a source delete sitting between the cursor and
        head would otherwise survive as a stale live index row."""
        self.refresh(spark)  # also checks the codebook
        # re-pick with the same method the index was built with
        method = json.loads(self._codebook_path.read_text()).get(
            "method", "first_k")
        self._codebook_path.unlink()
        n = self.build(spark, method=method)
        self._commit_bootstrap(spark, self.source.version)
        return n

    # ------------------------------------------------------------ refresh
    def _assign(self, spark: SparkSession, rows: DataFrame) -> DataFrame:
        """(key..., cell, e, op='U') for live rows — broadcast codebook,
        argmin projection, no corpus exchange."""
        from .similarity import quantized_col

        cb = _cents_df(spark, self.codebook())
        return (
            rows.select(*self.source.key_cols,
                        quantized_col(self.emb_col).alias("e"))
            .crossJoin(F.broadcast(cb))
            .select(
                *self.source.key_cols, "e",
                F.element_at(
                    _nearest_cells(F.col("e"), F.col("cents"), 1), 1
                ).cast("int").alias("cell"),
                F.lit("U").alias("op"),
            )
        )

    def _tombstones(self, keys: DataFrame) -> DataFrame:
        return keys.select(
            *self.source.key_cols,
            F.lit(None).cast("array<long>").alias("e"),
            F.lit(None).cast("int").alias("cell"),
            F.lit("D").alias("op"))

    def _payload_ddl(self) -> str:
        return "e array<long>, cell int, op string"

    def _seq_no(self, v1: int, batch_id: int) -> int:
        # the INDEX's own monotone batch id, not the source version: two
        # index commits can legitimately share a source version (rebuild =
        # refresh-fold + bootstrap at the same v1) — stamping v1 would tie
        # their LWW order, and without an event_id tiebreak a tie is
        # undefined. Index-local batch ids never tie.
        return batch_id

    def _bootstrap(self, spark: SparkSession, live: DataFrame, v1: int,
                   cleanup: contextlib.ExitStack) -> DataFrame:
        return self._assign(spark, live)

    def _fold(self, spark: SparkSession, changes: DataFrame, v0: int, v1: int,
              cleanup: contextlib.ExitStack) -> DataFrame:
        """Key-local: changed keys re-assign from their LIVE state at v1
        (never from the range's raw winners — the LWW across generations
        is what counts), deleted keys tombstone."""
        src = self.source
        keys = changes.select(*src.key_cols).distinct().persist()
        cleanup.callback(keys.unpersist)
        live = src.read_live(spark, buckets=_touched_buckets(keys, src),
                             version=v1)
        if live is None:
            return self._tombstones(keys)
        new_live = live.join(keys, on=src.key_cols, how="left_semi")
        gone = keys.join(new_live.select(*src.key_cols), on=src.key_cols,
                         how="left_anti")
        return self._assign(spark, new_live).unionByName(self._tombstones(gone))

    def refresh(self, spark: SparkSession, to_version: int | None = None) -> bool:
        """``ChangeFeedView.refresh`` once the codebook exists."""
        if self.codebook() is None:
            raise ValueError("IVFIndexView.refresh: build() the codebook first")
        return super().refresh(spark, to_version)

    # -------------------------------------------------------------- reads
    def cell_stats(self, spark: SparkSession) -> DataFrame | None:
        """(cell, n_vectors) over the live index — the drift/skew gauge
        that decides a rebuild()."""
        idx = self.table.read_live(spark)
        if idx is None:
            return None
        return idx.groupBy("cell").agg(F.count("*").alias("n_vectors"))

    def probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        """Driver-side probe-cell selection over the stored codebook —
        bit-identical to the plan-side assignment (same floor quantization,
        same (dist, cid) tie order)."""
        cents = self.codebook()
        if cents is None:
            raise ValueError("probe_cells: no codebook — build() first")
        q = _quantize_py(query_vec)
        ranked = sorted(((_l2sq_py(q, c), cid) for cid, c in enumerate(cents)))
        return [cid for _, cid in ranked[:max(1, int(n_probe))]]

    def search(self, spark: SparkSession, query_vec: list[float], k: int = 5,
               n_probe: int = 2) -> DataFrame | None:
        """Top-k neighbors of ``query_vec`` from the probed cells only:
        manifest zone-map pruning on the cell predicate (files from other
        cells are skipped unopened after a ``cluster_by=['cell']``
        compaction), exact int64 dot scores, deterministic
        (-score, key...) ordering. Returns (key..., cell, score)."""
        probes = self.probe_cells(query_vec, n_probe)
        lo, hi = min(probes), max(probes)
        idx = self.table.read_live(spark, between=("cell", lo, hi))
        if idx is None:
            return None
        qlit = F.array(*[F.lit(x) for x in _quantize_py(query_vec)])
        cand = idx.filter(F.col("cell").isin(*probes))
        scored = cand.select(
            *self.source.key_cols, "cell",
            int_dot(F.col("e"), qlit).alias("score"))
        return scored.orderBy(
            F.col("score").desc(), *[F.col(c) for c in self.source.key_cols]
        ).limit(int(k))
