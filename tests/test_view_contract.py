"""The change-feed view contract (operators/incremental.py ChangeFeedView),
checked once for every view: bootstrap over a vacuumed source, a vacuumed
hole past the cursor, compaction-only ranges, replayed refreshes and one
refresh across a rebucket or a compaction; then the guards one view adds:
the aggregate's vacuumed cursor version and the IVF index's corrupt
codebook; then the bucket sets refreshes read (``changed_buckets``,
``winners_at``) and the runner's concurrent refresh."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.operators.incremental import (
    IncrementalAggView,
    SCD2View,
    _touched_buckets,
)
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


def _history(spark, view, src):
    """``_rows`` of a view that folded the source's whole change feed."""
    if isinstance(view, SCD2View):  # one log entry per committed winner
        return {(r["k"], r["seq_no"], r["grp"])
                for r in src.read_changes(spark, since_version=-1).collect()}
    return _recompute(spark, view, src)


@pytest.mark.parametrize("maintenance", ["rebucket", "compact"])
def test_refresh_across_maintenance_equals_recompute(spark, tmpdir_path, kind,
                                                     maintenance):
    """One refresh spans a data commit of every key, a rebucket (the
    manifests' bucket ids change meaning: ``changed_buckets`` gives None
    and the refresh collects them) or a compaction (no change rows), and a
    data commit of bucket 0's keys only — so bucket ids taken from both
    layouts' manifests would miss keys of the first commit."""
    src = _source(spark, tmpdir_path, 1)
    view = _open(kind, spark, tmpdir_path, src)
    assert view.refresh(spark)
    v0 = view.cursor
    _commit(spark, src, 1)
    if maintenance == "rebucket":
        assert src.rebucket(spark, 3)
    else:
        assert src.compact(spark)
    rows = [r for r in BATCHES[2] if src.key_bucket(spark, {"k": r[0]}) == 0]
    assert 0 < len({r[0] for r in rows}) < 6
    assert src.commit_delta_auto(spark.createDataFrame(rows, SCHEMA), 2)
    changes = src.read_changes(spark, since_version=v0)
    assert src.changed_buckets(v0) == (
        None if maintenance == "rebucket" else _touched_buckets(changes, src))
    assert view.refresh(spark)
    assert view.cursor == src.version
    assert _rows(spark, view) == _history(spark, view, src)


def test_changed_buckets_match_the_change_feed(spark, tmpdir_path):
    """Over every range of a history with a compaction, the manifests name
    exactly the buckets the change feed's keys hash to; once a rebucket
    is in the log, ranges reaching back before it give None and ranges
    after it match again."""
    src = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)

    def check(lo):
        for a in range(lo, src.version):
            for b in range(a + 1, src.version + 1):
                got = src.changed_buckets(a, b)
                ch = src.read_changes(spark, since_version=a, to_version=b)
                want = [] if ch is None else _touched_buckets(ch, src)
                assert got == (None if a < lo else want), (a, b)

    _commit(spark, src, 0)
    _commit(spark, src, 1)
    assert src.compact(spark)
    _commit(spark, src, 2)
    check(-1)
    assert src.rebucket(spark, 3)
    rebucket_v = src.version
    _commit(spark, src, 3)
    assert src.changed_buckets(-1) is None
    assert src.changed_buckets(rebucket_v - 1) is None
    check(rebucket_v)


def test_winners_at_reads_both_versions_in_one_scan(spark, tmpdir_path):
    """``winners_at`` equals two ``read_live`` calls — live rows at each
    version, deletes and absent keys as null — on a RELATIVE table root,
    a compacted v1 and a v0 under another bucket layout."""
    src = SnapshotTable(os.path.relpath(f"{tmpdir_path}/src"), ["k"],
                        n_buckets=2)
    assert not src.root.is_absolute()
    _commit(spark, src, 0)
    _commit(spark, src, 1)
    assert src.rebucket(spark, 3)
    v_mid = src.version
    _commit(spark, src, 2)  # deletes k1
    assert src.compact(spark)
    _commit(spark, src, 3)

    def live(v):
        df = src.read_live(spark, version=v)
        return {r["k"]: (r["grp"], r["val"], r["seq_no"]) for r in df.collect()}

    keys = spark.createDataFrame([(f"k{i}",) for i in range(8)], "k string")
    for v0, v1 in [(-1, 0), (0, 1), (1, v_mid), (v_mid, src.version),
                   (0, src.version)]:
        w = src.winners_at(spark, v0, v1, keys, [0, 1, 2],
                           cols=["grp", "val", "seq_no"]).collect()
        got = [{r["k"]: tuple(r[f"_{v}"]) for r in w if r[f"_{v}"] is not None}
               for v in ("v0", "v1")]
        assert got == [{} if v0 < 0 else live(v0), live(v1)], (v0, v1)
    assert src.winners_at(spark, -1, -1, keys, None, ["grp"]) is None
    src.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        src.winners_at(spark, 0, src.version, keys, None, ["grp"])


def _runner_views(spark, tmpdir_path, runner, tag):
    return [IncrementalAggView(f"{tmpdir_path}/{tag}_agg", runner.table,
                               dims=["lang"], sum_cols=["token_count"]),
            SCD2View(f"{tmpdir_path}/{tag}_scd2", runner.table)]


def _view_state(spark, views):
    agg, scd2 = views
    return ([agg.cursor, scd2.cursor],
            sorted(agg.read(spark).toJSON().collect()),
            sorted(scd2.read_log(spark).toJSON().collect()))


def _wal_runner(spark, tmpdir_path):
    from omop_meds_spark.runner import CDCRunner
    from omop_meds_spark.sources.gen import generate_wal

    wal = f"{tmpdir_path}/wal"
    if not os.path.exists(wal):
        generate_wal(wal, n_events=2000, n_repos=4, paths_per_repo=8,
                     n_files=3, seed=31)
    return CDCRunner(spark, wal, f"{tmpdir_path}/t", n_buckets=4,
                     files_per_batch=1)


def test_runner_refreshes_views_concurrently_like_one_at_a_time(spark,
                                                                tmpdir_path):
    """The runner refreshes its views on a pool; the result is the same
    rows and cursors as refreshing each view alone after every batch."""
    r = _wal_runner(spark, tmpdir_path)
    r.views.extend(_runner_views(spark, tmpdir_path, r, "pool"))
    alone = _runner_views(spark, tmpdir_path, r, "alone")
    batches = r.reader.plan_batches()
    assert len(batches) == 3
    for batch in batches:
        assert r.apply_batch(batch) is not None
        for v in alone:
            v.refresh(spark)
        assert _view_state(spark, r.views) == _view_state(spark, alone)
    assert r.views[0].cursor == r.table.version


def test_failed_view_refresh_raises_and_rerun_converges(spark, tmpdir_path,
                                                        monkeypatch):
    """One view's fold raising fails ``apply_batch`` (after the other view
    has refreshed); a re-run folds the missed range and converges to the
    rows of a run that never failed."""
    r = _wal_runner(spark, tmpdir_path)
    r.views.extend(_runner_views(spark, tmpdir_path, r, "ok"))
    r.run()
    want = _view_state(spark, r.views)

    def boom(*a, **k):
        raise RuntimeError("injected fold failure")

    shutil.rmtree(f"{tmpdir_path}/t")
    r = _wal_runner(spark, tmpdir_path)
    r.views.extend(_runner_views(spark, tmpdir_path, r, "fail"))
    batches = r.reader.plan_batches()
    assert r.apply_batch(batches[0]) is not None
    with monkeypatch.context() as m:
        m.setattr(SCD2View, "_fold", boom)
        with pytest.raises(RuntimeError, match="injected"):
            r.apply_batch(batches[1])
        agg, scd2 = r.views
        assert agg.cursor == r.table.version > scd2.cursor >= 0
    r = _wal_runner(spark, tmpdir_path)
    r.views.extend(_runner_views(spark, tmpdir_path, r, "fail"))
    assert len(r.run()) == 1
    assert _view_state(spark, r.views) == want
