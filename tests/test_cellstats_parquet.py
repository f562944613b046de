"""Parquet escape hatch for the early-exit direction boxes
(plans/cellstats — r13 VERDICT #6): past STATS_PARQUET_THRESHOLD
keys the boxes live in a versioned parquet sidecar with the JSON
stub as the atomic commit pointer. Pins: a 50k-key synthetic root
round-trips widen → widen-merge → recompute → fsck with nothing
key-count-sized on the driver; the batch pruner reads the boxes as a
REAL file scan; probes and pruning behave identically across
formats; a JSON root transitions to parquet when a widen crosses the
threshold; superseded version dirs are swept after the stub flip."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    cellstats as CS)

DIM = 64


def _synthetic(spark, n_keys: int, rows_per_key: int = 1,
               offset: int = 0, seed_scale: float = 1.0):
    """(vec_id, embedding, cell): key i's vectors point mostly along
    axis i%64 with key-dependent jitter — distinct per-key boxes."""
    df = spark.range(n_keys * rows_per_key).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % n_keys + offset).alias("cell"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (F.when(i == F.col("cell") % DIM,
                          F.lit(float(seed_scale)))
                   .otherwise(0.0)
                   + (F.pmod(F.col("vec_id") * (i + 7), 97)
                      .cast("double") / 970.0)).cast("float"))
    return df.select("vec_id", emb.alias("embedding"),
                     F.col("cell").cast("bigint").alias("cell"))


@pytest.fixture(scope="module")
def big_root(spark, tmp_path_factory):
    """A 50k-key root built through TWO widens (parquet from the
    first — 30k keys > threshold; the second exercises the
    distributed merge: 10k overlapping + 20k new keys)."""
    root = str(tmp_path_factory.mktemp("cs") / "big")
    d1 = _synthetic(spark, 30_000)
    CS.widen_stats(spark, root, d1, "cell", "float", DIM)
    d2 = (_synthetic(spark, 30_000, offset=20_000)
          .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    CS.widen_stats(spark, root, d2, "cell", "float", DIM)
    full = d1.unionByName(d2)
    return root, full


def test_parquet_format_chosen_and_counts(spark, big_root):
    root, full = big_root
    stats = CS.load_stats(spark, root)
    assert stats.get("format") == "parquet"
    assert "keys" not in stats
    assert stats["n_keys"] == 50_000
    df = CS._data_frame(spark, stats)
    agg = df.agg(F.sum("n").alias("n"),
                 F.sum("nz").alias("nz")).head()
    assert int(agg.n) == 60_000       # 30k + 30k rows
    assert int(agg.nz) == 60_000      # no zero vectors here


def test_get_entries_match_direct_computation(spark, big_root):
    root, full = big_root
    stats = CS.load_stats(spark, root)
    probe = [0, 25_000, 49_999]
    ents = CS.get_entries(spark, stats, probe)
    assert set(ents) == {str(k) for k in probe}
    kind, payload = CS.payload_column("float")
    want = CS._delta_bounds(
        full.filter(F.col("cell").isin(probe)), "cell", payload, DIM)
    for k in ents:
        for i in (0, 13, 63):
            assert abs(ents[k]["dmin"][i] - want[k]["dmin"][i]) \
                < 1e-12, (k, i)
            assert abs(ents[k]["dmax"][i] - want[k]["dmax"][i]) \
                < 1e-12, (k, i)
        assert ents[k]["n"] == want[k]["n"]
        assert ents[k]["nz"] == want[k]["nz"]
    # overlap keys merged across the two widens
    assert ents["25000"]["n"] == 2


def test_bounds_frame_is_a_real_scan(spark, big_root):
    root, _ = big_root
    stats = CS.load_stats(spark, root)
    bf = CS.bounds_frame(spark, stats, "cell", None)
    assert bf.count() == 50_000
    plan = bf._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()   # a real file scan, no
    #                                    re-literalized driver rows
    few = CS.bounds_frame(spark, stats, "cell", [1, 2, 3])
    assert few.count() == 3


def test_box_prune_and_fsck_on_parquet_root(spark, big_root):
    root, full = big_root
    stats = CS.load_stats(spark, root)
    # a query straight down key 0's axis: every other key's box
    # bound falls below key 0's floor... keys share jitter ranges,
    # so just assert the mechanism runs and is sound (parity below)
    qv = [0.0] * DIM
    qv[0] = 1.0
    qci = [math.floor(x * 1e9 + 0.5) for x in qv]
    qsq = sum(c * c for c in qci) / 1e18
    kept, pruned = CS.box_prune_keys(stats, [0, 7, 11, 200], qci,
                                     qsq, 1, spark=spark)
    assert kept[0] == 0 and set(kept) | set(pruned) == {0, 7, 11, 200}
    status, viol = CS.verify_stats(spark, root, full, "cell",
                                   "float", DIM)
    assert status == "checked" and viol == []
    # tamper one box -> fsck names it (read, shrink, rewrite)
    df = CS._data_frame(spark, stats)
    bad = df.withColumn(
        "dmax", F.when(F.col("key") == 5,
                       F.transform("dmax", lambda _: F.lit(-1.0)))
        .otherwise(F.col("dmax")))
    CS._write_stats(spark, root, stats["payload"], frame=bad)
    status, viol = CS.verify_stats(spark, root, full, "cell",
                                   "float", DIM)
    assert status == "checked" and any("outside" in v for v in viol)


def test_recompute_tightens_and_sweeps_versions(spark, big_root,
                                                tmp_path):
    root, full = big_root
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import list_dir
    prev = CS.load_stats(spark, root)
    doc = CS.recompute_stats(spark, root, full, "cell", "float", DIM)
    assert doc.get("format") == "parquet"
    assert doc["n_keys"] == 50_000
    # the sweep keeps the NEW version plus ONE grace generation (the
    # previously committed dir — r14 ADVICE medium: probes resolve
    # the box table lazily, so a reader holding the old stub must
    # still find its files); everything older is gone
    vers = sorted(d for d in
                  list_dir(spark, f"{root}/{CS.STATS_DATA_DIR}")
                  if d.startswith("v-"))
    assert len(vers) == 2
    assert doc["data"].endswith(vers[-1])
    assert prev["data"].endswith(vers[0])
    # a reader that loaded the stub BEFORE the commit still reads
    ents = CS.get_entries(spark, prev, [0, 42])
    assert set(ents) == {"0", "42"}
    # the NEXT commit retires that grace generation
    doc2 = CS.recompute_stats(spark, root, full, "cell", "float", DIM)
    vers2 = sorted(d for d in
                   list_dir(spark, f"{root}/{CS.STATS_DATA_DIR}")
                   if d.startswith("v-"))
    assert len(vers2) == 2
    assert doc2["data"].endswith(vers2[-1])
    assert doc["data"].endswith(vers2[0])
    assert vers[0] not in vers2
    status, viol = CS.verify_stats(spark, root, full, "cell",
                                   "float", DIM)
    assert status == "checked" and viol == []


def test_json_root_transitions_at_threshold(spark, tmp_path,
                                            monkeypatch):
    monkeypatch.setattr(CS, "STATS_PARQUET_THRESHOLD", 64)
    root = str(tmp_path / "small")
    d1 = _synthetic(spark, 40)
    CS.widen_stats(spark, root, d1, "cell", "float", DIM)
    s1 = CS.load_stats(spark, root)
    assert s1.get("format") != "parquet" and len(s1["keys"]) == 40
    d2 = _synthetic(spark, 40, offset=40).withColumn(
        "vec_id", F.col("vec_id") + 10_000)
    CS.widen_stats(spark, root, d2, "cell", "float", DIM)
    s2 = CS.load_stats(spark, root)
    assert s2.get("format") == "parquet" and s2["n_keys"] == 80
    # entries survive the transition byte-for-byte
    e_new = CS.get_entries(spark, s2, [3])
    assert e_new["3"]["dmin"] == s1["keys"]["3"]["dmin"]
    # and a third widen takes the distributed-merge path
    d3 = _synthetic(spark, 10).withColumn(
        "vec_id", F.col("vec_id") + 20_000)
    CS.widen_stats(spark, root, d3, "cell", "float", DIM)
    s3 = CS.load_stats(spark, root)
    assert s3["n_keys"] == 80
    assert CS.get_entries(spark, s3, [3])["3"]["n"] == \
        e_new["3"]["n"] + 1


def test_probe_parity_json_vs_parquet_root(spark, tmp_path,
                                           monkeypatch):
    """The formats are an implementation detail: the SAME content
    probed through an IVF root with JSON boxes and one forced to
    parquet returns identical rows with identical pruning, both
    early-exit modes."""
    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
        load_table)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        recall as R)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cl = R.clustered_embeddings(emb).localCheckpoint()
    roots = {}
    for fmt, thr in (("json", None), ("parquet", 2)):
        if thr is not None:
            monkeypatch.setattr(CS, "STATS_PARQUET_THRESHOLD", thr)
        root = str(tmp_path / fmt)
        I.init_ivf_index(spark, root, cl, train_k=8,
                         train_metric="dot", storage="int8")
        I.ivf_ingest_delta(spark, root, cl, "d1")
        roots[fmt] = root
        monkeypatch.setattr(CS, "STATS_PARQUET_THRESHOLD", 4096)
    assert CS.load_stats(spark, roots["json"]).get("format") is None
    assert CS.load_stats(spark, roots["parquet"])["format"] == \
        "parquet"
    qv = [float(x) for x in
          cl.filter("vec_id = 3").select("embedding").head()[0]]

    def rows(root, **kw):
        return [(int(r.vec_id), float(r.cosine)) for r in
                I.ivf_incremental_topk(spark, root, qv, k=10,
                                       nprobe=4, exclude_id=3,
                                       **kw).collect()]

    want = rows(roots["json"])
    for mode in (False, True):
        assert rows(roots["json"], early_exit=mode) == want, mode
        assert rows(roots["parquet"], early_exit=mode) == want, mode
    # fsck green on the parquet root too
    rep = I.verify_ivf_index(spark, roots["parquet"])
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []


def test_multitable_root_crosses_parquet_threshold(spark, tmp_path,
                                                   monkeypatch):
    """r15 brief #7: a MULTI-TABLE root's composite key space is
    L·2^J — at J=8, L=4 the ~800 occupied composite buckets of the
    sf0.001 fixture cross a (patched-down) parquet threshold, so the
    boxes live in the sidecar. Pin the full round-trip: two ingests
    (widen → distributed merge), nz accounting (every vector is
    counted once PER TABLE), fsck's cellstats check green, and probe
    parity plain vs box."""
    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
        load_table)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ann_index as A)

    monkeypatch.setattr(CS, "STATS_PARQUET_THRESHOLD", 64)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "mt4")
    A.ann_ingest_delta(spark, root, emb.filter("vec_id % 2 = 0"),
                       "d1", num_tables=4)
    A.ann_ingest_delta(spark, root, emb.filter("vec_id % 2 = 1"),
                       "d2")
    stats = CS.load_stats(spark, root)
    assert stats.get("format") == "parquet", stats.get("format")
    assert stats["n_keys"] > 64
    # nz accounting at parquet scale: each vector is a nonzero
    # direction in exactly one bucket PER TABLE
    agg = CS._data_frame(spark, stats).agg(
        F.sum("n").alias("n"), F.sum("nz").alias("nz")).head()
    assert int(agg.n) == emb.count() * 4
    assert int(agg.nz) == emb.count() * 4
    # fsck: ledger ×L green AND the cellstats soundness check runs
    # against the parquet sidecar
    rep = A.verify_ann_index(spark, root)
    assert rep["violations"] == []
    assert rep["cellstats_check"] == "checked"
    # probe parity: the box floors read the parquet sidecar
    qv = [float(x) for x in
          emb.filter("vec_id = 0").select("embedding").head()[0]]
    want = sorted((int(r.vec_id), round(float(r.cosine), 9))
                  for r in A.ann_incremental_topk(
                      spark, root, qv, k=10, exclude_id=0).collect())
    got = sorted((int(r.vec_id), round(float(r.cosine), 9))
                 for r in A.ann_incremental_topk(
                     spark, root, qv, k=10, exclude_id=0,
                     early_exit=True).collect())
    assert got == want
