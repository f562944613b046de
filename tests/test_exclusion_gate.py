"""r14 ADVICE (high): the box-mode early-exit pruning floor must
demand nz >= m + 1 witnesses whenever an exclusion is active
(exclude_id / exclude_self), because nz counts the query's own stored
vector, which the scan never scores. With a seed cell of EXACTLY m
nonzero members one of which is the excluded id, only m-1 rows
witness the floor — the old ``nz >= m`` gate pruned a cell holding
the true m-th row, so early-exit returned m-1 rows where the plain
probe returns m. These fixtures are constructed to hit that corner:
a tight m-member seed cluster containing the query, and a
near-orthogonal cluster (probed, box-prunable under the seed floor)
holding the only candidates for rank m."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.operators.similarity import (
    _plane_signs)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    cellstats as CS)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)

DIM = 8
M = 5   # k == the seed cell's exact nonzero member count


def _seed_cluster():
    """M vectors (vec_id 0..M-1) tightly around +e0; vec_id 0 is the
    query/excluded id. Distinct tiny jitter keeps cosines distinct."""
    rows = []
    for i in range(M):
        v = [1.0] + [0.0] * (DIM - 1)
        v[1] = 1e-4 * i
        rows.append((i, v))
    return rows


def _other_cluster(direction):
    """6 vectors (vec_id 100..105) tightly around ``direction`` —
    nearly orthogonal to e0, so every cosine vs the query is ~0 and
    the cell's box upper bound sits far below the seed floor."""
    rows = []
    for i in range(6):
        v = [c for c in direction]
        v[DIM - 1] += 1e-4 * (i + 1)
        rows.append((100 + i, v))
    return rows


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def _rows(df):
    return sorted((int(r.vec_id), round(float(r.cosine), 9))
                  for r in df.collect())


def _brows(df):
    return sorted((int(r.qid), int(r.vec_id), round(float(r.cosine), 9))
                  for r in df.collect())


# ---------------------------------------------------------------- IVF

@pytest.fixture(scope="module")
def ivf_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("xg") / "ivf")
    rows = _seed_cluster() + _other_cluster(
        [0.0, 0.0, 1.0] + [0.0] * (DIM - 3))
    emb = _frame(spark, rows)
    I.init_ivf_index(spark, root, emb, dim=DIM, train_k=2,
                     train_metric="dot")
    I.ivf_ingest_delta(spark, root, emb, "all")
    # fixture sanity: the two clusters landed in two distinct cells
    # and the seed cell holds exactly M nonzero members
    stats = CS.load_stats(spark, root)
    sizes = sorted(int(e["nz"]) for e in stats["keys"].values())
    assert sizes == [M, 6], sizes
    return root


def test_ivf_single_query_exclusion_parity(spark, ivf_root):
    """exclude_id active, seed nz == m: the old gate pruned the
    orthogonal cell and dropped the true rank-m row; now parity."""
    qv = [1.0] + [0.0] * (DIM - 1)
    want = _rows(I.ivf_incremental_topk(
        spark, ivf_root, qv, k=M, nprobe=2, exclude_id=0))
    assert len(want) == M          # rank M comes from the other cell
    assert any(v >= 100 for v, _ in want)
    got = _rows(I.ivf_incremental_topk(
        spark, ivf_root, qv, k=M, nprobe=2, exclude_id=0,
        early_exit=True))
    assert got == want


def test_ivf_single_query_no_exclusion_still_prunes(spark, ivf_root):
    """Without an exclusion the m witnesses are all scoreable: the
    floor stands, the orthogonal cell prunes, and parity holds
    because its rows genuinely cannot reach the top m."""
    qv = [1.0] + [0.0] * (DIM - 1)
    stats = CS.load_stats(spark, ivf_root)
    cells = sorted(int(k) for k in stats["keys"])
    seed = max(cells, key=lambda c: stats["keys"][str(c)]["nz"] == M)
    probe = [seed] + [c for c in cells if c != seed]
    qci = [int(c * 1e9) for c in qv]
    qsq = sum(c * c for c in qv)   # float-unit scale (see _qdec)
    kept, pruned = CS.box_prune_keys(stats, probe, qci, qsq, M,
                                     spark=spark, excluded=0)
    assert pruned, "gate must still prune when no exclusion is active"
    kept, pruned = CS.box_prune_keys(stats, probe, qci, qsq, M,
                                     spark=spark, excluded=1)
    assert not pruned, "nz == m with an exclusion: no pruning allowed"
    want = _rows(I.ivf_incremental_topk(
        spark, ivf_root, qv, k=M, nprobe=2))
    got = _rows(I.ivf_incremental_topk(
        spark, ivf_root, qv, k=M, nprobe=2, early_exit=True))
    assert got == want


def test_ivf_batch_exclusion_parity(spark, ivf_root):
    """The batch box gate (exclude_self=True default, the bench's
    shape): per-query parity with the plain batch probe."""
    queries = _frame(spark, [(0, [1.0] + [0.0] * (DIM - 1))]) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    want = _brows(I.ivf_batch_topk(spark, ivf_root, queries, k=M,
                                   nprobe=2))
    assert len(want) == M
    assert any(v >= 100 for _, v, _ in want)
    got = _brows(I.ivf_batch_topk(spark, ivf_root, queries, k=M,
                                  nprobe=2, early_exit=True))
    assert got == want
    # no exclusion: the m witnesses stand, pruning is safe, parity
    want = _brows(I.ivf_batch_topk(spark, ivf_root, queries, k=M,
                                   nprobe=2, exclude_self=False))
    got = _brows(I.ivf_batch_topk(spark, ivf_root, queries, k=M,
                                  nprobe=2, exclude_self=False,
                                  early_exit=True))
    assert got == want


# ---------------------------------------------------------------- LSH

def _orthogonal_within_hamming(max_h=2):
    """A unit direction with ZERO e0-component whose LSH bucket is
    within Hamming-``max_h`` of +e0's bucket — found driver-side over
    the same md5 hyperplane signs the engine embeds, so the
    orthogonal cluster is guaranteed to be PROBED (a bucket outside
    the probe ball would make the parity trivially blind to the
    gate). Returns (direction, required_hamming)."""
    signs = _plane_signs(A.NUM_PLANES, DIM)
    b0 = [1 if signs[j][0] > 0 else 0 for j in range(A.NUM_PLANES)]

    def bucket_of(direction):
        bits = []
        for j in range(A.NUM_PLANES):
            d = sum(signs[j][i] * direction[i] for i in range(DIM))
            bits.append(1 if d > 0 else 0)
        return bits

    cands = []
    for i in range(1, DIM):
        for s in (1.0, -1.0):
            v = [0.0] * DIM
            v[i] = s
            cands.append(v)
    for i in range(1, DIM):
        for j2 in range(i + 1, DIM):
            for si in (1.0, -1.0):
                for sj in (1.0, -1.0):
                    v = [0.0] * DIM
                    v[i], v[j2] = si * 0.7071, sj * 0.7071
                    cands.append(v)
    for v in cands:
        d = sum(1 for a, b in zip(bucket_of(v), b0) if a != b)
        if 1 <= d <= max_h:
            return v, d
    raise AssertionError("no orthogonal direction within hamming 2")


@pytest.fixture(scope="module")
def ann_root(spark, tmp_path_factory):
    direction, h = _orthogonal_within_hamming()
    root = str(tmp_path_factory.mktemp("xg") / "ann")
    rows = _seed_cluster() + _other_cluster(direction)
    emb = _frame(spark, rows)
    A.ann_ingest_delta(spark, root, emb, "all", dim=DIM)
    stats = CS.load_stats(spark, root)
    sizes = sorted(int(e["nz"]) for e in stats["keys"].values())
    assert sizes == [M, 6], sizes
    return root, h


def test_ann_single_query_exclusion_parity(spark, ann_root):
    root, h = ann_root
    qv = [1.0] + [0.0] * (DIM - 1)
    want = _rows(A.ann_incremental_topk(
        spark, root, qv, k=M, hamming=h, exclude_id=0))
    assert len(want) == M
    assert any(v >= 100 for v, _ in want)
    got = _rows(A.ann_incremental_topk(
        spark, root, qv, k=M, hamming=h, exclude_id=0,
        early_exit=True))
    assert got == want


def test_ann_batch_exclusion_parity(spark, ann_root):
    root, h = ann_root
    queries = _frame(spark, [(0, [1.0] + [0.0] * (DIM - 1))]) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    want = _brows(A.ann_batch_topk(spark, root, queries, k=M,
                                   hamming=h))
    assert len(want) == M
    assert any(v >= 100 for _, v, _ in want)
    got = _brows(A.ann_batch_topk(spark, root, queries, k=M,
                                  hamming=h, early_exit=True))
    assert got == want
    # no exclusion: pruning is safe and parity still holds
    want = _brows(A.ann_batch_topk(spark, root, queries, k=M,
                                   hamming=h, exclude_self=False))
    got = _brows(A.ann_batch_topk(spark, root, queries, k=M,
                                  hamming=h, exclude_self=False,
                                  early_exit=True))
    assert got == want
