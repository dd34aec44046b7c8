"""Seeded input generator for the benchmark.

Everything the engine sees in a run comes from here, derived from the
workload seed: the TPC-H-ish corpus the registered queries read (same
tables, column names, types and value domains as the engine's test
corpus), the lifecycle batches and the vector corpus and query stream.
The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; sf0.1 gives lineitem 600k, orders 150k.
_ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "new", "red"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "anvil", "gizmo", "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
EMBED_DIM = 64


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    """Uniform dates in [start, end] as midnight timestamp[us]."""
    span = (end - start).days
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def unit_vectors(rng, n: int, centroids: np.ndarray, labels: np.ndarray,
                 spread: float) -> np.ndarray:
    """Clustered unit vectors: centroid of ``labels`` plus isotropic noise
    of per-coordinate scale ``spread``, renormalised to length 1."""
    dim = centroids.shape[1]
    v = centroids[labels] + rng.normal(0.0, spread, (n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)])
             for k in lens]
    # ~5% near-duplicates: an earlier document plus a marker word, so the
    # dedup operators see real clusters (some sources are copied twice and
    # form exact duplicates)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The ten corpus tables the registered queries read."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(r * sf)) for t, r in _ROWS_SF1.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)], pa.string()),
        "p_type": _pick(rng, _PTYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, k),
    })
    out["lineitem"] = lineitem_rows(rng, n["lineitem"], n["orders"], n["part"],
                                    n["supplier"])
    k = n["events"]
    gaps = rng.exponential(26.0, k)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps * 1e6).astype(np.int64).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, k).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, k)], pa.string()),
    })
    out["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, k)
    vecs = unit_vectors(rng, k, centroids * 0.6, labels, 1.0)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def lineitem_rows(rng, k: int, n_orders: int, n_parts: int, n_supps: int,
                  first_key: int | None = None) -> pa.Table:
    """``k`` lineitem rows; with ``first_key`` also a unique int64
    ``l_rowkey`` column numbered from it ((l_orderkey, l_linenumber) is
    not unique in this corpus, and merge_rows needs a unique key)."""
    cols = {
        "l_orderkey": rng.integers(0, n_orders, k).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, k).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supps, k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }
    if first_key is not None:
        cols = {"l_rowkey": np.arange(first_key, first_key + k, dtype=np.int64), **cols}
    return pa.table(cols)


def write_corpus(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the corpus as one parquet file per table (the layout
    ``io.load_table`` reads); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in corpus_tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
