"""The change-feed view contract (operators/incremental.py ChangeFeedView),
checked once for every view: bootstrap over a vacuumed source, a vacuumed
hole past the cursor, compaction-only ranges and replayed refreshes; then
the guards one view adds: the aggregate's vacuumed cursor version and the
IVF index's corrupt codebook."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.operators.incremental import IncrementalAggView, SCD2View
from omop_meds_spark.operators.vector_index import (
    IVFIndexView,
    _l2sq_py,
    _quantize_py,
)
from omop_meds_spark.table import SnapshotTable

SCHEMA = ("k string, grp string, val double, embedding array<double>, "
          "seq_no long, op string")


def _row(i: int, seq: int, op: str = "U"):
    emb = [float((i * 7 + j * 3 + seq) % 11) for j in range(4)]
    return (f"k{i}", f"g{i % 3}", float(i + seq), emb, seq, op)


# batch b upserts keys 0..5 at seq 10b+i; batch 2 also deletes k1
BATCHES = [[_row(i, 10 * b + i) for i in range(6)] for b in range(4)]
BATCHES[2].append(_row(1, 29, "D"))


def _source(spark, tmpdir_path, n_batches):
    src = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=2)
    for b in range(n_batches):
        _commit(spark, src, b)
    return src


def _commit(spark, src, batch_id):
    df = spark.createDataFrame(BATCHES[batch_id], SCHEMA)
    assert src.commit_delta_auto(df, batch_id) is not None


def _open(kind, spark, tmpdir_path, src):
    root = f"{tmpdir_path}/view"
    if kind == "agg":
        return IncrementalAggView(root, src, dims=["grp"], sum_cols=["val"],
                                  n_buckets=2)
    if kind == "scd2":
        return SCD2View(root, src, n_buckets=2)
    view = IVFIndexView(root, src, n_centroids=3, n_buckets=2)
    if view.codebook() is None:
        view.build(spark)
    return view


def _rows(spark, view):
    """The view's contents as a set of plain tuples."""
    if isinstance(view, IncrementalAggView):
        df, cols = view.read(spark), ["grp", "n_rows", "sum_val"]
    elif isinstance(view, SCD2View):
        df, cols = view.read_log(spark), ["k", "seq", "grp"]
    else:
        df, cols = view.table.read_live(spark), ["k", "cell"]
    return set() if df is None else {tuple(r) for r in df.select(*cols).collect()}


def _recompute(spark, view, src):
    """``_rows`` of a view built from the source's live rows alone."""
    live = src.read_live(spark)
    if isinstance(view, IncrementalAggView):
        return {tuple(r) for r in live.groupBy("grp").agg(
            F.count("*"),
            F.sum(F.col("val").cast("decimal(18,4)")).cast("decimal(28,4)"),
        ).collect()}
    if isinstance(view, SCD2View):  # a bootstrapped log: live versions only
        return {(r["k"], r["seq_no"], r["grp"]) for r in live.collect()}
    cents = view.codebook()
    return {(r["k"], min(range(len(cents)), key=lambda c: (
        _l2sq_py(_quantize_py(r["embedding"]), cents[c]), c)))
        for r in live.collect()}


@pytest.fixture(params=["agg", "scd2", "ivf"])
def kind(request):
    return request.param


def test_fresh_view_over_vacuumed_source_bootstraps(spark, tmpdir_path, kind):
    src = _source(spark, tmpdir_path, 3)
    src.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        src.read_changes(spark, since_version=-1)
    view = _open(kind, spark, tmpdir_path, src)
    assert view.refresh(spark)
    assert view.cursor == src.version
    assert _rows(spark, view) == _recompute(spark, view, src)


def test_vacuumed_hole_past_cursor_raises(spark, tmpdir_path, kind):
    src = _source(spark, tmpdir_path, 1)
    view = _open(kind, spark, tmpdir_path, src)
    assert view.refresh(spark)
    for b in range(1, 4):
        _commit(spark, src, b)
    src.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        view.refresh(spark)
    assert view.cursor == 0


def test_compaction_only_range_advances_cursor(spark, tmpdir_path, kind):
    src = _source(spark, tmpdir_path, 2)
    view = _open(kind, spark, tmpdir_path, src)
    assert view.refresh(spark)
    rows, schema = _rows(spark, view), view.table.latest()["schema"]
    assert src.compact(spark)
    assert view.cursor < src.version
    assert view.refresh(spark)
    assert view.cursor == src.version
    assert _rows(spark, view) == rows
    assert view.table.latest()["schema"] == schema


def test_replayed_refresh_returns_false(spark, tmpdir_path, kind):
    src = _source(spark, tmpdir_path, 1)
    view = _open(kind, spark, tmpdir_path, src)
    assert view.refresh(spark)
    _commit(spark, src, 1)
    assert view.refresh(spark)
    v, rows = view.table.version, _rows(spark, view)
    assert view.refresh(spark) is False
    assert view.refresh(spark, to_version=src.version) is False
    assert view.refresh(spark, to_version=0) is False
    assert _open(kind, spark, tmpdir_path, src).refresh(spark) is False
    assert view.table.version == v
    assert _rows(spark, view) == rows


def test_agg_refresh_raises_once_cursor_version_is_vacuumed(spark, tmpdir_path):
    """Only the aggregate subtracts old state: with the cursor's own
    version gone it cannot, even though the feed after it is retained."""
    src = _source(spark, tmpdir_path, 2)
    view = _open("agg", spark, tmpdir_path, src)
    assert view.refresh(spark)
    _commit(spark, src, 2)
    _commit(spark, src, 3)
    src.vacuum(keep_versions=2)
    assert src.manifest_at(view.cursor) is None
    assert src.read_changes(spark, since_version=view.cursor) is not None
    with pytest.raises(ValueError, match="cursor version .* was vacuumed"):
        view.refresh(spark)
    assert view.cursor == 1


@pytest.mark.parametrize("garbage", [b"\x00{not json", b'{"centroids": 5}'])
def test_ivf_corrupt_codebook_fails_loudly(spark, tmpdir_path, garbage):
    """A corrupt codebook is not a missing one: build() must not write new
    centroids under rows assigned to the old ones, and rebuild() must not
    silently fall back to first_k."""
    src = _source(spark, tmpdir_path, 1)
    view = _open("ivf", spark, tmpdir_path, src)
    assert view.refresh(spark)
    _commit(spark, src, 1)
    view._codebook_path.write_bytes(garbage)
    for call in (view.refresh, view.build, view.rebuild,
                 lambda s: view.search(s, [0.0] * 4)):
        with pytest.raises(ValueError, match="corrupt codebook"):
            call(spark)
    assert view._codebook_path.read_bytes() == garbage
    assert view.cursor == 0
