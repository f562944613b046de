"""Seeded synthetic inputs for the benchmark.

The tables mirror the schema and value domains of the engine's test
fixtures (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), so every registered query and its DuckDB oracle run on
them unchanged. Everything is drawn from one ``numpy`` generator, so a
seed fixes every byte of every table.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red",
              "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
         "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
              "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line",
         "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
EMB_DIM = 64
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Row counts at scale factor 1; the fixtures scale every fact and
# dimension table linearly except region/nation.
_SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000,
             "embeddings": 20_000}
_EPOCH_US = {"1995-01-01": 788_918_400_000_000,
             "2024-01-01": 1_704_067_200_000_000}
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n) * 100) / 100


def _days(rng, start, n_days, n, first_day=0):
    us = (_EPOCH_US[start]
          + rng.integers(first_day, first_day + n_days, n) * _DAY_US)
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), type=pa.string())


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def rows_at(sf: float) -> dict:
    """Row count per scaled table at scale factor ``sf``; like the
    fixtures, text and vector tables keep at least 500 rows."""
    return {t: max(500 if t in ("documents", "embeddings") else 10,
                   int(round(n * sf)))
            for t, n in _SF1_ROWS.items()}


def documents(rng, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents over the fixture vocabulary: 10-100 tokens each,
    one in twenty a one-token edit of an earlier document (a near
    duplicate carrying the marker token ``dup``)."""
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = words[rng.integers(0, len(words),
                                      int(rng.integers(10, 101)))]
        texts.append(" ".join(toks))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def unit_vectors(rng, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMB_DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(
        np.float32)


def clustered_vectors(rng, n: int, n_clusters: int = 8,
                      offset: float = 5.0,
                      noise: float = 0.1) -> np.ndarray:
    """The shape of ``plans.recall.clustered_embeddings``: row ``i``
    sits at ``+offset`` on axis ``i mod n_clusters`` with a unit
    Gaussian direction shrunk to ``noise`` as jitter."""
    x = unit_vectors(rng, n) * np.float32(noise)
    x[np.arange(n), np.arange(n) % n_clusters] += np.float32(offset)
    return x


def embeddings_table(ids: np.ndarray, vecs: np.ndarray,
                     labels: "np.ndarray | None" = None) -> pa.Table:
    cols = {"vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.array(list(vecs),
                                  type=pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array(labels.astype(np.int32))
    return pa.table(cols)


def star_schema(seed: int, sf: float) -> dict:
    """All ten fixture tables at scale factor ``sf`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = rows_at(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": _keys(nc),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _keys(ns),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    out["part"] = pa.table({
        "p_partkey": _keys(npart),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(
            np.round(9000 + np.arange(npart) % 1000) / 10)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _keys(no),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-01", 2498, nl, first_day=1)})
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EPOCH_US["2024-01-01"]
    out["events"] = pa.table({
        "event_id": _keys(ne),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne * 15 // 1000), ne,
                                         dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne) * 100) / 100),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, ne)])})
    out["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    out["embeddings"] = embeddings_table(
        np.arange(nv), unit_vectors(rng, nv), rng.integers(0, 10, nv))
    return out


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
