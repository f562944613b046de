"""Driver-side cost of BUILDING one single-probe DataFrame, pinned as
counts that host noise cannot move, plus the one-shot indexes'
zero-vector guard.

A single probe's build is control plane only — meta and manifest
reads, leaf listing, Catalyst analysis — yet before the exact-cosine
expression was authored as SQL text it cost more driver time than
the scan it planned: ~2,200 (IVF) / ~2,850 (LSH) Py4J round trips,
most of them rebuilding the same per-element Column tree (64
``lit(c).cast("bigint")`` query literals, Python-lambda hi/lo folds,
the cosine arithmetic) on every call, and the leaf listing paid an
``exists`` + ``listStatus`` + one round trip per child name for
every directory level.
"""

from __future__ import annotations

import gc
import os
import time

import numpy as np
import pytest

from light_redistribution_in_3dptf_data_pipeline_spark import fs as FS
from light_redistribution_in_3dptf_data_pipeline_spark.operators import (
    similarity as S)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)

DIM = 64


def _frame(spark, n, seed=7, labels=2):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, DIM)).astype(np.float32)
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], i % labels) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    """Float and int8 IVF and LSH roots of 64 vectors, one committed
    batch each, with every file's mtime moved past the JSON doc
    cache's recent-write window so probes see the steady state."""
    base = tmp_path_factory.mktemp("probe_cost")
    emb = _frame(spark, 64)
    out = {}
    for storage in ("float", "int8"):
        ivf, ann = str(base / f"ivf_{storage}"), str(base / f"ann_{storage}")
        I.init_ivf_index(spark, ivf, emb, storage=storage)
        I.ivf_ingest_delta(spark, ivf, emb.drop("label"), "d0")
        A.ann_ingest_delta(spark, ann, emb, "d0", storage=storage)
        out[f"ivf_{storage}"], out[f"ann_{storage}"] = ivf, ann
    old = time.time() - 60
    for dirpath, _, names in os.walk(base):
        for name in names:
            os.utime(os.path.join(dirpath, name), (old, old))
    qvec = [float(x) for x in emb.filter("vec_id = 5").head().embedding]
    return out, qvec


PROBES = {"ivf": I.ivf_incremental_topk, "ann": A.ann_incremental_topk}


def _build(spark, root, qvec):
    kind = os.path.basename(root).split("_")[0]
    return PROBES[kind](spark, root, qvec, k=10, exclude_id=5)


def _py4j_commands(monkeypatch, build) -> int:
    """Py4J commands sent while ``build()`` runs — the fewest of three
    builds, with ``gc`` off so no finalizer of an unrelated Java
    object lands in the window."""
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    sent = [0]

    def counting(self, command):
        sent[0] += 1
        return orig(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    best = None
    for _ in range(3):
        gc.collect()
        gc.disable()
        sent[0] = 0
        try:
            df = build()
            n = sent[0]
        finally:
            gc.enable()
        del df
        best = n if best is None else min(best, n)
    monkeypatch.undo()
    return best


@pytest.mark.parametrize("name", ["ivf_float", "ivf_int8",
                                  "ann_float", "ann_int8"])
def test_single_probe_build_py4j_commands(spark, roots, monkeypatch,
                                          name):
    """Building one single-probe DataFrame (no action) on a tiny
    two-batch root stays within a few hundred Py4J commands.

    Measured on the 64-vector roots of this module, build only:

    ============  ======  =====
    root          before  after
    ============  ======  =====
    IVF float      2,159    298
    IVF int8       1,618    252
    LSH float      2,341    278
    LSH int8       1,783    215
    ============  ======  =====

    "before" is the Column-API cosine (per-element literals and
    lambda folds) with per-directory listing; "after" is the one
    SQL-text exact-cosine expression plus the single glob listing.
    The ceiling leaves ~50% headroom over the largest count."""
    by_name, qvec = roots
    root = by_name[name]
    _build(spark, root, qvec).collect()     # first-call caches
    n = _py4j_commands(monkeypatch, lambda: _build(spark, root, qvec))
    assert n <= 450, n


def _fs_calls(monkeypatch, build) -> int:
    """Method calls on Hadoop FileSystem handles while ``build()``
    runs (exists, listStatus, globStatus, getFileStatus, open, …)."""
    calls = [0]
    orig = FS._fs

    class Counted:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            attr = getattr(self._fs, name)
            if not callable(attr):
                return attr

            def call(*args):
                calls[0] += 1
                return attr(*args)
            return call

    def counted(spark, path):
        fs, p = orig(spark, path)
        return Counted(fs), p

    monkeypatch.setattr(FS, "_fs", counted)
    build()
    monkeypatch.undo()
    return calls[0]


@pytest.mark.parametrize("name,expect", [("ivf_float", 10),
                                         ("ann_float", 9)])
def test_single_probe_fs_calls(spark, roots, monkeypatch, name, expect):
    """One single probe's FileSystem calls, pinned exactly. The probe
    leaves are selected AND sized by one ``globStatus`` — formerly
    an ``exists`` + ``listStatus`` per directory level plus a
    ``listStatus`` per selected leaf (15 calls for IVF, 14 for LSH on
    these roots, growing with batches and probed leaves). The
    rest is the commit-protocol control plane: pointer check, meta,
    manifests, and the centroid or stats docs."""
    by_name, qvec = roots
    root = by_name[name]
    _build(spark, root, qvec).collect()
    assert _fs_calls(monkeypatch,
                     lambda: _build(spark, root, qvec)) == expect


@pytest.mark.parametrize("kind", ["ivf", "ann"])
def test_one_shot_index_ranks_zero_vector_last(spark, tmp_path, kind):
    """A stored ZERO vector is legal: the one-shot IVF and LSH
    indexes score it a NULL cosine, ranked last, like the
    incremental probes — not an ANSI DIVIDE_BY_ZERO that kills the
    query (they used their own cosine copy without the guard)."""
    emb = _frame(spark, 8).unionByName(spark.createDataFrame(
        [(8, [0.0] * DIM, 0)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG"))
    qvec = [float(x) for x in emb.filter("vec_id = 0").head().embedding]
    path = str(tmp_path / kind)
    if kind == "ivf":   # two labels, nprobe 2: every cell probed
        S.write_ivf_index(emb, path)
        df = S.ivf_indexed_topk(spark, path, qvec, k=20, exclude_id=0)
    else:               # one plane: both buckets probed
        S.write_ann_index(emb, path, num_planes=1)
        df = S.ann_indexed_topk(spark, path, qvec, k=20, num_planes=1,
                                exclude_id=0)
    rows = df.collect()
    assert [r.vec_id for r in rows].count(8) == 1
    assert rows[-1].vec_id == 8 and rows[-1].cosine is None
    cos = [r.cosine for r in rows[:-1]]
    assert len(cos) == 7 and None not in cos
    assert cos == sorted(cos, reverse=True)
