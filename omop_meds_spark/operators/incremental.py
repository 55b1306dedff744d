"""Incrementally-maintained materialized aggregate view over a CDC table.

The lakehouse pattern this implements: a ``SnapshotTable`` is the CDC
target (LWW upserts + delete tombstones); a downstream consumer wants
``SELECT dims, COUNT(*), SUM(m) ... GROUP BY dims`` over the LIVE state,
kept fresh without ever rescanning the table. ``IncrementalAggView``
folds the table's change feed into a second SnapshotTable keyed by the
group dimensions — Flink/Materialize-style incremental view maintenance,
expressed as plain DataFrame algebra over the engine's own primitives.

Per refresh of source range ``(v0, v1]``:

* ``read_changes(v0, v1)`` — manifest-driven, the range's delta files
  only — yields the CHANGED KEYS, and ``changed_buckets(v0, v1)`` names
  the source buckets they live in from the same manifests (no job);
* ONE scan diffs the keys' before/after state (``winners_at``): the
  touched buckets' files at ``v0`` and ``v1`` are read once (the two
  versions share most files), semi-joined to the keys and LWW-reduced in
  one ``groupBy(key)`` into each key's live row at both versions — old
  row decrements, new row increments. Diffing full before/after states
  (not the range's winner rows) is what makes the fold correct under ANY
  sequencing: a changed key's final value is the LWW across all
  generations, which the range's own winners need not be;
* the signed contributions aggregate to one tiny delta frame, which
  merges (full outer, null-safe on dims) into the view's current rows for
  the affected dim groups only — groups whose count reaches zero become
  delete tombstones.

The cost is therefore O(state of the touched source buckets) — the whole
table when a refresh range touches every bucket — plus O(touched view
buckets) for the merge, not O(changed data).

Cursor, exactly-once commits and the vacuum rules are ``ChangeFeedView``'s,
shared with ``SCD2View`` and ``vector_index.IVFIndexView``.

Measure semantics: ``n_rows`` is COUNT(*); each ``sum_cols`` entry ``c``
maintains ``sum_{c}`` in DECIMAL(28,4) (exact, order-free — incremental
folding must not depend on float addition order) plus ``cnt_{c}``
(non-null count) so ``read()`` can return SQL-exact NULL for all-null
groups.
"""

from __future__ import annotations

import contextlib
import functools
import operator
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..table import SnapshotTable, bucket_expr


def _source_col_type(source: SnapshotTable, name: str) -> str:
    """The source table's recorded type for ``name`` (fallback: string).

    An empty fold on a FRESH view stamps the view schema — hardcoding key
    or dim columns as string would make ``key_bucket()``/``lookup()`` cast
    integer literals to string and hash into the wrong bucket until the
    first real fold overwrote the registry."""
    import json as _json

    sch = (source.latest() or {}).get("schema")
    if sch:
        try:
            for f in T.StructType.fromJson(_json.loads(sch)).fields:
                if f.name == name:
                    return f.dataType.simpleString()
        except (ValueError, KeyError, TypeError):
            pass
    return "string"


def _touched_buckets(df: DataFrame, table: SnapshotTable) -> list[int]:
    """Sorted ids of the ``table`` buckets that ``df``'s keys hash to (one
    Spark job)."""
    return sorted(r["b"] for r in df.select(
        bucket_expr(table.key_cols, table.n_buckets).alias("b"))
        .distinct().collect())


def refresh_views(spark: SparkSession, views: list) -> list[bool]:
    """``refresh`` every view at the same time, on a pool sized to the
    list; returns their results in list order. Every refresh runs to its
    end before the first error (in list order) is re-raised.

    Views are independent: each reads the source's immutable files and
    manifests (the table's state replay never mutates its shared cache),
    commits to its own table and keeps its own cursor, so a view that
    fails simply folds its range again on the next refresh."""
    if len(views) <= 1:
        return [v.refresh(spark) for v in views]
    with ThreadPoolExecutor(len(views)) as pool:
        futures = [pool.submit(v.refresh, spark) for v in views]
    return [f.result() for f in futures]


class ChangeFeedView:
    """A materialized view kept fresh by folding a ``SnapshotTable``'s
    change feed into a second SnapshotTable, ``self.table``.

    The contract every view shares, owned here once:

    * EXACTLY-ONCE. Each refresh of source versions ``(cursor, v1]`` is one
      transactional commit with ``lineage={"source_version": v1}``, and the
      cursor is recovered from the retained lineage (the latest commit's
      manifest always survives retention). A crashed refresh therefore
      folds everything unconsumed next time, and a replayed one is a no-op
      that returns False.
    * A range with no logical change (compaction only) still gets one
      cursor-advance commit: an empty frame that carries the view table's
      recorded schema forward, so point lookups keep hashing by the stored
      key types (see ``table.key_bucket``).
    * VACUUM. A fresh view over a source whose early history was vacuumed
      BOOTSTRAPS from the live state (an initial load needs no history). A
      vacuumed hole PAST the cursor cannot be folded incrementally and
      raises: refresh before vacuuming the source beyond the cursor, like
      any change-feed consumer.

    Subclasses set ``source`` and ``table`` and supply three hooks:

    * ``_fold(spark, changes, v0, v1, buckets, cleanup)`` folds the change
      feed of source versions ``(v0, v1]``; ``buckets`` are the sorted
      source bucket ids (current layout) its keys live in — read from the
      range's manifests, or collected from the feed when the range
      crosses a bucket-layout change;
    * ``_bootstrap(spark, live, v1, cleanup)`` materializes the view from
      the source's live rows at ``v1``;
    * ``_payload_ddl()`` is the DDL of the view table's non-key columns.

    ``_fold`` and ``_bootstrap`` return the rows to commit without
    ``seq_no`` (the commit stamps ``_seq_no``), or None for a cursor-advance
    commit. ``cleanup`` is an ``ExitStack`` closed after the commit, for
    frames the commit still reads from a cache.
    """

    def _seq_no(self, v1: int, batch_id: int) -> int:
        """LWW order of the committed view rows: the folded source version."""
        return v1

    @property
    def cursor(self) -> int:
        """Highest source version folded in (-1 = nothing yet)."""
        lin = self.table.lineage_log()
        return max((int(d["source_version"]) for d in lin.values()
                    if isinstance(d, dict) and "source_version" in d),
                   default=-1)

    def refresh(self, spark: SparkSession, to_version: int | None = None) -> bool:
        """Fold source versions ``(cursor, to_version]`` into the view.
        Returns False when there is nothing new."""
        head = self.source.version
        v1 = head if to_version is None else int(to_version)
        if v1 > head:
            raise ValueError(f"refresh: to_version {v1} is beyond source head {head}")
        v0 = self.cursor
        if v1 <= v0:
            return False
        try:
            changes = self.source.read_changes(spark, since_version=v0,
                                               to_version=v1)
        except ValueError:
            if v0 >= 0:
                raise  # incremental hole: the feed between folds was vacuumed
            self._commit_bootstrap(spark, v1)
            return True
        with contextlib.ExitStack() as cleanup:
            rows = None
            if changes is not None:
                buckets = self.source.changed_buckets(v0, v1)
                if buckets is None:  # the range crosses a layout change
                    buckets = _touched_buckets(changes, self.source)
                rows = self._fold(spark, changes, v0, v1, buckets, cleanup)
            self._commit(spark, rows, v1)
        return True

    def _commit_bootstrap(self, spark: SparkSession, v1: int) -> None:
        live = self.source.read_live(spark, version=v1)
        with contextlib.ExitStack() as cleanup:
            rows = (None if live is None
                    else self._bootstrap(spark, live, v1, cleanup))
            self._commit(spark, rows, v1)

    def _commit(self, spark: SparkSession, rows: DataFrame | None,
                v1: int) -> None:
        batch_id = max(self.table.committed_batches(), default=-1) + 1
        schema = None
        if rows is None:
            keys = [f"`{k}` {_source_col_type(self.source, k)}"
                    for k in self.table.key_cols]
            rows = spark.createDataFrame([], ", ".join(
                keys + [self._payload_ddl(), "seq_no long"]))
            schema = (self.table.latest() or {}).get("schema")
        else:
            rows = rows.withColumn(
                "seq_no", F.lit(self._seq_no(v1, batch_id)).cast("long"))
        self.table.commit_delta_auto(rows, batch_id, schema_json=schema,
                                     lineage={"source_version": v1})


_DEC = "decimal(28,4)"


class IncrementalAggView(ChangeFeedView):
    def __init__(self, root: str | Path, source: SnapshotTable,
                 dims: list[str], sum_cols: list[str] | None = None,
                 n_buckets: int | None = None):
        # n_buckets=None adopts an existing view table's stored bucket
        # layout (fresh views default to the SnapshotTable default) — a
        # re-opened view must never re-stamp the layout
        self.source = source
        self.dims = list(dims)
        self.sum_cols = list(sum_cols or [])
        self.table = SnapshotTable(root, key_cols=self.dims,
                                   n_buckets=n_buckets)

    # ------------------------------------------------------------ refresh
    def _signed(self, df: DataFrame, sign: F.Column) -> DataFrame:
        cols = [F.col(d) for d in self.dims] + [sign.alias("_w")]
        for c in self.sum_cols:
            cols.append(F.col(c).cast("decimal(18,4)").alias(c))
        return df.select(*cols)

    def _agg(self, signed: DataFrame) -> DataFrame:
        aggs = [F.sum("_w").cast("long").alias("n_rows")]
        for c in self.sum_cols:
            aggs.append(F.sum(F.col(c) * F.col("_w")).cast(_DEC)
                        .alias(f"sum_{c}"))
            aggs.append(F.sum(F.when(F.col(c).isNotNull(), F.col("_w"))
                              .otherwise(F.lit(0))).cast("long")
                        .alias(f"cnt_{c}"))
        return signed.groupBy(*self.dims).agg(*aggs)

    def _bootstrap(self, spark: SparkSession, live: DataFrame, v1: int,
                   cleanup: contextlib.ExitStack) -> DataFrame:
        return self._merge(spark, self._signed(live, F.lit(1)), cleanup)

    def _fold(self, spark: SparkSession, changes: DataFrame, v0: int, v1: int,
              buckets: list[int], cleanup: contextlib.ExitStack) -> DataFrame | None:
        src = self.source
        if v0 >= 0 and src.manifest_at(v0) is None:
            # the cursor version itself was vacuumed: read_changes can
            # still satisfy (v0, v1] (it only needs the deltas AFTER
            # v0) but the old-state decrement is gone — silently
            # skipping it would ADD each changed key's new contribution
            # on top of its old one (permanent double count)
            raise ValueError(
                f"incremental refresh: cursor version {v0} was vacuumed "
                "from the source — the view cannot subtract the prior "
                "state; rebuild the view or vacuum after refreshing")
        cols = list(dict.fromkeys(self.dims + self.sum_cols))
        w = src.winners_at(spark, v0, v1,
                           changes.select(*src.key_cols).distinct(),
                           buckets, cols=cols)
        if w is None:
            return None
        # each key's new row counts +1, its old row -1 (absent = no row)
        sides = [F.when(F.col(v).isNotNull(), F.struct(
            *[F.col(f"{v}.{c}").alias(c) for c in cols], F.lit(s).alias("_w")))
            for v, s in (("_v1", 1), ("_v0", -1))]
        signed = w.select(F.inline(F.filter(F.array(*sides),
                                            lambda x: x.isNotNull())))
        return self._merge(spark, self._signed(signed, F.col("_w")), cleanup)

    def _merge(self, spark: SparkSession, signed: DataFrame,
               cleanup: contextlib.ExitStack) -> DataFrame:
        """The view rows of the dim groups ``signed`` (signed source rows)
        touch, with the signed contributions added to their current
        measures; groups whose count reaches zero become tombstones."""
        # delta drives the bucket-id collect AND the merge write — persist
        # so its O(changed-bucket state) upstream computes once
        delta = self._agg(signed).persist()
        cleanup.callback(delta.unpersist)
        # merge into the view's current rows for the affected dims only:
        # manifest-pruned read of the delta's buckets, null-safe semi
        # join down to the changed dim groups, then a full outer with
        # the delta (renamed columns — no alias ambiguity, nulls are
        # real groups)
        cur = self.table.read_live(
            spark, buckets=_touched_buckets(delta, self.table))
        mtypes = self._measure_types()
        if cur is not None:
            cur_r = cur.select(
                *[F.col(k).alias(f"_c_{k}") for k in self.dims],
                *[F.col(n).alias(f"_c_{n}") for n, _ in mtypes])
            dimkeys = delta.select(
                *[F.col(k).alias(f"_k_{k}") for k in self.dims]).distinct()
            semi = functools.reduce(operator.and_, [
                F.col(f"_c_{k}").eqNullSafe(F.col(f"_k_{k}"))
                for k in self.dims])
            cur_r = cur_r.join(dimkeys, semi, "left_semi")
            outer = functools.reduce(operator.and_, [
                F.col(k).eqNullSafe(F.col(f"_c_{k}")) for k in self.dims])
            j = delta.join(cur_r, outer, "full_outer")
            out_dims = [F.coalesce(F.col(k), F.col(f"_c_{k}")).alias(k)
                        for k in self.dims]
            measures = [
                (F.coalesce(F.col(n), F.lit(0).cast(t))
                 + F.coalesce(F.col(f"_c_{n}"), F.lit(0).cast(t)))
                .cast(t).alias(n)
                for n, t in mtypes]
        else:
            j = delta
            out_dims = [F.col(k) for k in self.dims]
            measures = [F.coalesce(F.col(n), F.lit(0).cast(t))
                        .cast(t).alias(n) for n, t in mtypes]
        return j.select(*out_dims, *measures).withColumn(
            "op", F.when(F.col("n_rows") == 0, F.lit("D")).otherwise(F.lit("U")))

    def _measure_types(self) -> list[tuple[str, str]]:
        out = [("n_rows", "long")]
        for c in self.sum_cols:
            out.append((f"sum_{c}", _DEC))
            out.append((f"cnt_{c}", "long"))
        return out

    def _payload_ddl(self) -> str:
        return ", ".join([f"`{n}` {t}" for n, t in self._measure_types()]
                         + ["op string"])

    # --------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame | None:
        """The view as a user-facing frame: dims, ``n_rows``, and for each
        measure ``sum_{c}`` (NULL when the group holds no non-null values,
        matching SQL SUM)."""
        df = self.table.read_live(spark)
        if df is None:
            return None
        cols = [F.col(d) for d in self.dims] + [F.col("n_rows")]
        for c in self.sum_cols:
            cols.append(F.when(F.col(f"cnt_{c}") > 0, F.col(f"sum_{c}"))
                        .alias(f"sum_{c}"))
        return df.select(*cols)


class SCD2View(ChangeFeedView):
    """Incrementally-maintained TYPE-2 HISTORY view over a CDC table.

    Where ``IncrementalAggView`` folds the change feed into a GROUP BY,
    ``SCD2View`` folds it into a queryable dimension HISTORY — the
    warehouse pattern of materializing slowly-changing-dimension rows
    from a CDF stream (what a `MERGE`-based SCD2 job does on Delta),
    maintained at O(changed keys) per refresh.

    Storage: ONE ROW PER KEY in the view's own SnapshotTable — the key's
    per-commit version LOG as a seq-sorted ``array<struct>`` column.
    Whole-row LWW replacement makes the refresh a plain upsert; bucket
    pruning works naturally because the view is keyed exactly by the
    source key. Intervals are computed ON READ (``read_intervals`` — one
    window pass via ``scd2_history``), so late/out-of-order commits need
    no interval surgery: the affected key's log is re-sorted on merge
    (``array_sort`` by (seq, tiebreak)) and the intervals simply fall out
    — ANY refresh cadence converges to the identical view (tested).

    Grain: per COMMIT. The feed carries each commit's LWW winners, so
    intra-batch churn is already collapsed — the lakehouse CDF grain.
    Contract: one key's history must fit in a row (per-commit grain keeps
    it to #commits-that-touched-the-key entries; compact upstream or
    archive downstream if a key churns every commit for years).

    Bootstrap over a vacuumed source (see ``ChangeFeedView``) seeds each
    key's log with its CURRENT version only: history before the vacuum
    horizon is unrecoverable by definition.

    Layout: a NEW view table with ``n_buckets=None`` takes the source's
    bucket layout (an existing one keeps its stored layout). With equal
    layouts a key lives in the same bucket id in both tables, so the
    refresh reads exactly the view buckets of the source's changed buckets
    (``changed_buckets``, no job); an explicit other ``n_buckets``, or a
    stored table with another layout, costs one bucket-id collect per
    refresh.
    """

    _META = {"_commit_version", "_commit_batch_id"}

    def __init__(self, root: str | Path, source: SnapshotTable,
                 n_buckets: int | None = None, op_col: str = "op"):
        self.source = source
        self.op_col = op_col
        if n_buckets is None and not (Path(root) / "_table.json").exists():
            n_buckets = source.n_buckets  # fresh table: the source's layout
        self.table = SnapshotTable(root, key_cols=list(source.key_cols),
                                   n_buckets=n_buckets)

    def _version_struct(self, df: DataFrame) -> F.Column:
        src = self.source
        seq = "seq_no"
        tb = "event_id" if "event_id" in df.columns else seq
        skip = set(src.key_cols) | {seq, tb, self.op_col} | self._META
        skip.add("__bucket")
        pay = [c for c in df.columns if c not in skip]
        # tb is stored as a STRING field (one stable struct schema across
        # refreshes), but the encoding must preserve the source's NATIVE
        # sort order or the history's same-seq tiebreak diverges from the
        # table's LWW winner: integral ids zero-pad to 20 digits so
        # '10' doesn't sort below '9' (negative ids unsupported there,
        # as in the WAL format itself)
        tb_col = F.col(tb).cast("string")
        if isinstance(df.schema[tb].dataType,
                      (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            tb_col = F.lpad(tb_col, 20, "0")
        return F.struct(
            F.col(seq).alias("seq"),
            tb_col.alias("tb"),
            F.col(self.op_col).alias("op"),
            *[F.col(c) for c in pay])

    def _bootstrap(self, spark: SparkSession, live: DataFrame, v1: int,
                   cleanup: contextlib.ExitStack) -> DataFrame:
        return self._fold(spark, live, -1, v1, None, cleanup)

    def _fold(self, spark: SparkSession, ch: DataFrame, v0: int, v1: int,
              buckets: list[int] | None,
              cleanup: contextlib.ExitStack) -> DataFrame:
        key = list(self.source.key_cols)
        new_logs = (ch.groupBy(*key)
                      .agg(F.collect_list(self._version_struct(ch)).alias("_new")))
        # merge with the affected keys' EXISTING logs: manifest-pruned read
        # of just those view buckets, left join (unaffected keys untouched).
        # Source bucket ids address the view's buckets when the layouts match
        if buckets is None or self.table.n_buckets != self.source.n_buckets:
            buckets = _touched_buckets(new_logs, self.table)
        cur = self.table.read_live(spark, buckets=buckets)
        new_t = new_logs.schema["_new"].dataType
        if cur is not None:
            j = new_logs.join(
                cur.select(*key, F.col("history").alias("_old")), key, "left")
            old_t = j.schema["_old"].dataType
        else:
            j = new_logs.withColumn("_old", F.lit(None).cast(new_t))
            old_t = new_t
        # SCHEMA EVOLUTION across refreshes: the source payload may have
        # gained/lost/widened columns since the stored logs were written,
        # and array concat needs one element type — align both sides to
        # the UNION of fields (new refresh's types win on conflict, old-
        # only fields ride along as nulls in new entries and vice versa)
        union_fields = list(new_t.elementType.fields)
        new_names = {f.name for f in union_fields}
        union_fields += [f for f in old_t.elementType.fields
                         if f.name not in new_names]

        def _aligned(col, have):
            names = {f.name for f in have.elementType.fields}
            return F.transform(col, lambda x: F.struct(*[
                (x[f.name].cast(f.dataType) if f.name in names
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in union_fields]))

        union_arr_t = T.ArrayType(T.StructType(union_fields))
        # sorted dedup merge: array_sort orders by (seq, tb, ...) — struct
        # field order IS the sort key; array_distinct folds redeliveries
        # (byte-identical winners). Late rows land in seq position.
        hist = F.array_sort(F.array_distinct(F.concat(
            F.coalesce(_aligned(F.col("_old"), old_t),
                       F.array().cast(union_arr_t)),
            _aligned(F.col("_new"), new_t))))
        # seq_no, stamped on commit, is the fold's source version: a
        # late-data merge changes the log without raising its max seq, so
        # max-seq would tie and break winner determinism
        return j.select(*key, hist.alias("history"),
                        F.lit("U").alias(self.op_col))

    def _payload_ddl(self) -> str:
        return ("history array<struct<seq long, tb string, op string>>, "
                f"`{self.op_col}` string")

    # ----------------------------------------------------------- readers
    def read_log(self, spark: SparkSession) -> DataFrame | None:
        """The per-key version log, one row per (key, version): columns
        (key..., seq, tb, op, payload...)."""
        df = self.table.read_live(spark)
        if df is None:
            return None
        return df.select(*self.source.key_cols,
                         F.explode("history").alias("_v")).select(
            *self.source.key_cols, "_v.*")

    def read_intervals(self, spark: SparkSession) -> DataFrame | None:
        """SCD2 validity intervals ([valid_from, valid_to) on seq,
        is_current) — one window pass over the exploded logs."""
        from .temporal import scd2_history

        log = self.read_log(spark)
        if log is None:
            return None
        return scd2_history(log, list(self.source.key_cols), seq_col="seq",
                            tiebreak_col="tb", op_col="op")

    def read_asof(self, spark: SparkSession, seq: int) -> DataFrame | None:
        """Dimension state AS OF sequence position ``seq``: each key's
        version whose [valid_from, valid_to) interval contains ``seq``
        (keys deleted at that point have no covering interval and are
        absent) — the point-in-time read SCD2 exists to answer, without
        replaying the source. Same single window exchange as
        read_intervals, then a codegen filter."""
        iv = self.read_intervals(spark)
        if iv is None:
            return None
        return iv.filter(
            (F.col("valid_from") <= F.lit(seq))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(seq))))
