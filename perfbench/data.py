"""Benchmark inputs and their oracles, made outside the timed part.

* CDC WALs come from the engine's own seeded generator
  (``generate_wal(..., workers=1)``) and are cached per workload and seed,
  together with the replay oracle's fingerprints of the final state and
  MEDS target.
* The headline queries run on a small TPC-H-like star schema plus the
  ``events``/``documents``/``embeddings`` tables, generated here from a
  fixed seed (the query data does not follow ``--seed``), together with
  each query's expected answer from its DuckDB twin.

Everything is written under the benchmark's work directory inside the
checkout; a marker file written last makes each cache entry atomic.
"""

from __future__ import annotations

import json
import math
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FP_COLS = [
    "repo", "path", "commit", "lang", "size_bytes", "content_sha256", "seq_no",
    "token_count", "lang_pred", "n_lines", "max_line_len", "lang_code",
]
MEDS_FP_COLS = ["subject_id", "time", "code", "numeric_value", "text_value", "seq_no"]

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "cdc_apply_events", "dedup_earliest",
    "sessionize", "minhash_lsh_pairs", "text_features", "embedding_topk",
    "ann_ivf_topk", "asof_join_latest",
]
QUERY_TABLES = ["region", "nation", "supplier", "customer", "orders",
                "lineitem", "events", "documents", "embeddings"]
QUERY_SEED = 42


@dataclass(frozen=True)
class WalSpec:
    """Shape of one workload's WAL: ``n_files`` files of ``events_per_file``
    change events over ``n_repos * paths_per_repo`` keys."""
    n_files: int
    events_per_file: int
    n_repos: int = 50
    paths_per_repo: int = 200


def _done(d: Path) -> bool:
    return (d / "_DONE").exists()


def _mark(d: Path, payload: dict) -> None:
    (d / "_DONE").write_text(json.dumps(payload))


def ensure_wal(root: Path, name: str, spec: WalSpec, seed: int) -> tuple[Path, dict]:
    """The WAL for (workload, seed) plus its oracle:
    ``{"state": [n, x], "meds": [n, x], "live": [[repo, path, sha256], ...]}``
    — the fingerprints of the final state and MEDS target and the live
    rows' content hashes."""
    from omop_meds_spark import verify
    from omop_meds_spark.sources.gen import generate_wal, meds_replay_oracle, replay_oracle

    d = root / f"{name}-{seed}"
    if not _done(d):
        shutil.rmtree(d, ignore_errors=True)
        wal = d / "wal"
        generate_wal(wal, n_events=spec.n_files * spec.events_per_file,
                     n_repos=spec.n_repos, paths_per_repo=spec.paths_per_repo,
                     n_files=spec.n_files, seed=seed, workers=1)
        pdf = replay_oracle(wal)
        pdf["size_bytes"] = pdf["size_bytes"].astype("Int64")
        oracle = {
            "state": list(verify.pandas_fingerprint(pdf, FP_COLS)),
            "meds": list(verify.pandas_fingerprint(meds_replay_oracle(wal), MEDS_FP_COLS)),
            "live": pdf[["repo", "path", "content_sha256"]].values.tolist(),
        }
        (d / "oracle.json").write_text(json.dumps(oracle))
        _mark(d, {"seed": seed})
    return d / "wal", json.loads((d / "oracle.json").read_text())


def ensure_warmup_wal(root: Path) -> Path:
    """A fixed one-file WAL for the JVM warm-up, as large as one workload
    batch so the per-row code gets compiled, not only the per-batch code."""
    from omop_meds_spark.sources.gen import generate_wal

    d = root / "warmup"
    if not _done(d):
        shutil.rmtree(d, ignore_errors=True)
        generate_wal(d / "wal", n_events=5000, n_repos=10, paths_per_repo=50,
                     n_files=1, seed=0, workers=1)
        _mark(d, {})
    return d / "wal"


# ------------------------------------------------------------ query data
def _query_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Seeded TPC-H-like tables with the schemas of the repository's sf
    testdata (TESTDATA.md), about ``scale`` of its sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_supp = int(15000 * scale), int(150000 * scale), max(25, int(1000 * scale))
    n_ev, n_docs, n_emb = int(100000 * scale), int(5000 * scale), max(40, int(2000 * scale))
    day = np.datetime64("1995-01-01", "us")
    span_days = 2400  # through 2001

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = day + rng.integers(0, span_days, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ok)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, 20000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
                               pa.timestamp("us"))})
    ev_t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(("batch part spark line column order small sort fast value scan a "
                      "hash slow group agg filter query big key window row table stream "
                      "merge data join vector customer the").split())
    texts = []
    for _ in range(n_docs):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))].tolist()
        words[0] = words[0].capitalize()
        if rng.random() < 0.3:
            words.insert(int(rng.integers(0, len(words))), str(int(rng.integers(0, 2000))))
        texts.append(" ".join(words) + rng.choice([".", "!", "?", ""]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "fr", "zh", "de", "es"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 0.12, (8, 64))
    label = rng.integers(0, 8, n_emb)
    emb = (centers[label] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def ensure_query_data(root: Path, scale: float) -> tuple[Path, dict[str, pd.DataFrame]]:
    """The query tables and each headline query's DuckDB-twin answer."""
    import duckdb

    from omop_meds_spark.oracles import ORACLES

    d = root / f"querydata-{scale}"
    if not _done(d):
        shutil.rmtree(d, ignore_errors=True)
        (d / "expected").mkdir(parents=True)
        for name, tbl in _query_tables(scale, QUERY_SEED).items():
            pq.write_table(tbl, d / f"{name}.parquet")
        con = duckdb.connect()
        try:
            for name in QUERY_TABLES:
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{d / name}.parquet'")
            for q in HEADLINE:
                con.sql(ORACLES[q]).df().to_pickle(d / "expected" / f"{q}.pkl")
        finally:
            con.close()
        _mark(d, {"scale": scale})
    return d, {q: pd.read_pickle(d / "expected" / f"{q}.pkl") for q in HEADLINE}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows (any order), else a short
    reason — exact values, the queries' cross-engine determinism rules."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None
