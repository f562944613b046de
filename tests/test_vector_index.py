"""The vector-index core (plans/vector_index.py) behind both routers:
every probe path over every key equals an exact reference, and the
chunked batch probe keeps its resource bounds — at most one chunk's
queries broadcast per job, and only the distinct qids plus each
chunk's distinct keys collected to the driver.

Module-scoped 64-vector roots (IVF and LSH, float and int8, plus a
two-table LSH root) keep the whole file in the default gate."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest

from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as SN)

DIM, N, CELLS, PLANES, K = 64, 64, 4, 4, 10
QIDS = [5, 42]


@pytest.fixture(scope="module")
def vecs():
    return np.random.default_rng(11).normal(size=(N, DIM)).astype(
        np.float32)


@pytest.fixture(scope="module")
def roots(spark, vecs, tmp_path_factory):
    """name -> (root, family, num_tables), one committed batch each.
    Every file's mtime is moved past the doc caches' recent-write
    window, so probes see the steady state (no cache-miss
    collects)."""
    base = tmp_path_factory.mktemp("vector_index")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], i % CELLS) for i in range(N)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    out = {}
    for storage in ("float", "int8"):
        root = str(base / f"ivf_{storage}")
        I.init_ivf_index(spark, root, emb, storage=storage)
        I.ivf_ingest_delta(spark, root, emb, "d0")
        out[f"ivf_{storage}"] = (root, "ivf", 1)
        root = str(base / f"ann_{storage}")
        A.ann_ingest_delta(spark, root, emb, "d0", num_planes=PLANES,
                           storage=storage)
        out[f"ann_{storage}"] = (root, "ann", 1)
    root = str(base / "ann_mt2")
    A.ann_ingest_delta(spark, root, emb, "d0", num_planes=PLANES,
                       num_tables=2)
    out["ann_mt2"] = (root, "ann", 2)
    old = time.time() - 60
    for dirpath, _, names in os.walk(base):
        for name in names:
            os.utime(os.path.join(dirpath, name), (old, old))
    return out


def _all_keys(fam, nt):
    """Probe settings that reach every cell or bucket."""
    return ({"nprobe": CELLS} if fam == "ivf"
            else {"probe_buckets": nt << PLANES})


def _exact(vecs, qid):
    """The exact fixed-point cosine top-K of the probes' arithmetic:
    nano-unit integer components, exact integer dots, correctly
    rounded to doubles, ties by vec_id."""
    ci = [[int(np.floor(float(x) * 1e9 + 0.5)) for x in v] for v in vecs]
    q = ci[qid]
    qsq = float(sum(c * c for c in q)) / 1e18
    scored = []
    for vid, c in enumerate(ci):
        if vid == qid:
            continue
        dot = float(sum(a * b for a, b in zip(c, q))) / 1e18
        nsq = float(sum(a * a for a in c)) / 1e18
        scored.append((round(dot / (np.sqrt(nsq) * np.sqrt(qsq)), 9),
                       vid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [(vid, cos) for cos, vid in scored[:K]]


def _rows(df):
    return [(int(r.vec_id), float(r.cosine)) for r in df.collect()]


def _by_qid(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(int(r.qid), []).append(
            (int(r.vec_id), float(r.cosine)))
    return {q: sorted(rows, key=lambda t: (-t[1], t[0]))
            for q, rows in out.items()}


@pytest.mark.parametrize("name", ["ivf_float", "ivf_int8", "ann_float",
                                  "ann_int8", "ann_mt2"])
def test_every_probe_path_equals_reference(spark, roots, vecs, name):
    """Probing every key, the single, early-exit, pinned, batch,
    chunked and chunked early-exit batch probes all return the same
    rows: the numpy exact top-K on float roots, the single probe's
    rows on int8 roots (the code cosine is exact for the DEQUANTIZED
    vectors)."""
    root, fam, nt = roots[name]
    keys = _all_keys(fam, nt)
    single = (I.ivf_incremental_topk if fam == "ivf"
              else A.ann_incremental_topk)
    batch = I.ivf_batch_topk if fam == "ivf" else A.ann_batch_topk
    pinned = I.ivf_pinned_topk if fam == "ivf" else A.ann_pinned_topk
    pin = SN.pin_snapshot(spark, root)
    # the pinned LSH probe takes a Hamming ball: radius J is every
    # bucket of every table
    pin_keys = keys if fam == "ivf" else {"hamming": PLANES}

    singles = {}
    for qid in QIDS:
        qv = [float(x) for x in vecs[qid]]
        got = singles[qid] = _rows(single(spark, root, qv, k=K,
                                          exclude_id=qid, **keys))
        if not name.endswith("int8"):   # int8: single is the reference
            want = _exact(vecs, qid)
            assert [v for v, _ in got] == [v for v, _ in want], qid
            assert np.allclose([c for _, c in got],
                               [c for _, c in want], atol=2e-9), qid
        for label, df in (
                ("early_exit", single(spark, root, qv, k=K,
                                      exclude_id=qid, early_exit=True,
                                      **keys)),
                ("pinned", pinned(spark, root, pin, qv, k=K,
                                  exclude_id=qid, **pin_keys))):
            assert _rows(df) == got, (label, qid)

    queries = spark.createDataFrame(
        [(q, [float(x) for x in vecs[q]]) for q in QIDS],
        "qid LONG, embedding ARRAY<FLOAT>")
    # the chunked early exit runs the early-exit batch path inside
    # every chunk: each branch of the batch probe is taken once
    for label, kw in (("batch", {}),
                      ("chunked", {"max_queries_per_job": 1}),
                      ("chunked_early_exit", {"early_exit": True,
                                              "max_queries_per_job": 1})):
        got = _by_qid(batch(spark, root, queries, k=K, **keys, **kw))
        assert got == singles, label


def _chunks(qids, max_q):
    qids = sorted(qids)
    return [qids[i:i + max_q] for i in range(0, len(qids), max_q)]


def _probe_keys(spark, fam, root, qv, **probe):
    """One query's probe keys, derived here from the root's own
    routing state (centroid ranking / the LSH probe list)."""
    if fam == "ann":
        return A._mt_probe_list(qv, A._load_meta(spark, root),
                                probe["hamming"], None)
    qci = [int(np.floor(x * 1e9 + 0.5)) for x in qv]
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in I._load_centroids(spark, root,
                                    I._load_meta(spark, root))),
        key=lambda t: (-t[0], t[1]))
    return [c for _, c in ranked[:probe["nprobe"]]]


BOUND_QIDS = list(range(12))
MAX_Q = 5


@pytest.mark.parametrize("name,probe", [
    ("ivf_float", {"nprobe": CELLS}),
    ("ann_float", {"hamming": 1})])
def test_chunked_batch_collects_qids_and_chunk_keys_only(
        spark, roots, vecs, monkeypatch, name, probe):
    """A chunked batch probe brings the distinct qids and each
    chunk's distinct probe keys to the driver — never the
    Q × fan-out (qid, key) pairs (the IVF chunking used to collect
    all of them: 48 rows here against a bound of 24)."""
    root, fam, _ = roots[name]
    batch = I.ivf_batch_topk if fam == "ivf" else A.ann_batch_topk
    qv = {q: [float(x) for x in vecs[q]] for q in BOUND_QIDS}
    bound = len(BOUND_QIDS) + sum(
        len({c for q in chunk
             for c in _probe_keys(spark, fam, root, qv[q], **probe)})
        for chunk in _chunks(BOUND_QIDS, MAX_Q))
    queries = spark.createDataFrame(
        [(q, qv[q]) for q in BOUND_QIDS],
        "qid LONG, embedding ARRAY<FLOAT>")
    rows = [0]
    cls = type(queries)   # the session's concrete DataFrame class
    collect = cls.collect

    def counted(self):
        out = collect(self)
        rows[0] += len(out)
        return out

    monkeypatch.setattr(cls, "collect", counted)
    batch(spark, root, queries, k=K, max_queries_per_job=MAX_Q,
          **probe)
    monkeypatch.undo()
    assert 0 < rows[0] <= bound, (rows[0], bound)


def _broadcasts(plan):
    """(output column names, rows) of every broadcast exchange in an
    executed physical plan, through adaptive and query-stage
    wrappers."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _broadcasts(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _broadcasts(plan.plan())
    out = []
    if name == "BroadcastExchangeExec":
        out.append((list(plan.schema().fieldNames()),
                    plan.metrics().apply("numOutputRows").value()))
    kids = plan.children()
    for i in range(kids.size()):
        out += _broadcasts(kids.apply(i))
    return out


@pytest.mark.parametrize("name,probe", [
    ("ivf_float", {"nprobe": 1}),
    ("ann_float", {"hamming": 0})])
def test_chunked_batch_broadcasts_one_chunk_of_queries(
        spark, roots, vecs, monkeypatch, name, probe):
    """Each chunk's job broadcasts only that chunk's query vectors.
    One probe key per query, so every broadcast row that carries a
    query vector is one query. Constraint propagation is off so the
    optimizer cannot infer the chunk's qid range onto an unfiltered
    query table and hide the difference (the LSH chunks used to
    broadcast the whole batch's queries: 12 rows per job here,
    chunks of 5)."""
    root, fam, _ = roots[name]
    batch = I.ivf_batch_topk if fam == "ivf" else A.ann_batch_topk
    queries = spark.createDataFrame(
        [(q, [float(x) for x in vecs[q]]) for q in BOUND_QIDS],
        "qid LONG, embedding ARRAY<FLOAT>")
    frames = []
    cls = type(queries)   # the session's concrete DataFrame class
    checkpoint = cls.localCheckpoint

    def recorded(self, *args, **kwargs):
        frames.append(self)
        return checkpoint(self, *args, **kwargs)

    key = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    monkeypatch.setattr(cls, "localCheckpoint", recorded)
    try:
        batch(spark, root, queries, k=K, max_queries_per_job=MAX_Q,
              **probe)
    finally:
        monkeypatch.undo()
        spark.conf.set(key, before)
    per_job = [[n for cols, n in
                _broadcasts(f._jdf.queryExecution().executedPlan())
                if "qci" in cols] for f in frames]
    with_queries = [b for b in per_job if b]
    assert len(with_queries) == len(_chunks(BOUND_QIDS, MAX_Q)), per_job
    assert all(n <= MAX_Q for b in with_queries for n in b), per_job
