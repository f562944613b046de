"""IVF ROUTER of the incremental vector index (plans/vector_index.py
holds the store, the probes and the maintenance): the key is the
``cell`` of a coarse quantizer that is TRAINED ONCE and then FROZEN —
exactly how FAISS serves IVF in production: re-training centroids per
delta would move cell boundaries under the already-written posting
lists, silently mis-probing everything older than the last delta.

- ``{root}/centroids`` — one row per cell (exact int64 nano-unit
  component sums + the training count), written by
  :func:`init_ivf_index` and never again; its digest is in
  ``_meta.json`` and every ingest, probe and fsck re-derives it.
  L rows — driver-sized by IVF construction (that is what a coarse
  quantizer IS).
- Placement: a vector goes to its NEAREST FROZEN CENTROID (the
  mean-scaled exact-integer dot the query-time cell ranking uses, so
  placement and probing can never disagree); a batch may instead
  carry precomputed cells (``cell_col``) when an upstream clustering
  owns placement — the manifest records which (``cell_source``), and
  the fsck re-derives placement only where the nearest-centroid rule
  is the contract.
- Probes rank cells driver-side (single query) or in one window
  (batch) and scan the top ``nprobe``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists, write_text_atomic
from ..operators.similarity import EMB_DIM, TOP_K, _fixed_point
from ..queries.similarity import _fixed_dot, _qdec, component_sums
from . import vector_index as VI
from .corpus import (committed_batches, corpus_writer_lock, delete_batch,
                     prune_uncommitted)
from .vector_index import STORAGES, _checked_dim, _meta_path

IVF_TABLE = "postings"
CENTROIDS_TABLE = "centroids"
# split for the exact hi/lo integer dot against centroid SUMS (their
# components reach nv·2^34, past the per-vector default) — the same
# constant operators/similarity.ivf_search_topk uses for this fold.
CSUM_SPLIT = 1 << 20


def _load_meta(spark: SparkSession, root: str) -> dict:
    return VI.load_meta(spark, root, ROUTER)


def _centroid_digest(rows) -> str:
    """Digest of the frozen quantizer: canonical JSON of the sorted
    (cell, component sums, count) rows. Exact integers only, so the
    digest is engine- and run-independent."""
    import hashlib

    canon = sorted((int(r.cell), [int(s) for s in r.csum], int(r.nv))
                   for r in rows)
    return hashlib.md5(
        json.dumps(canon, separators=(",", ":")).encode()).hexdigest()


# Per-process memo of the frozen centroid rows, revalidated on every
# hit by the centroid table's FILE LISTING (names, mtimes, lengths —
# one listStatus call, no Spark job) plus the meta's centroid_digest.
# Any rewrite of the table — including the out-of-band tamper the
# digest guard exists to catch — produces new files, so a changed
# listing misses the cache, re-reads, and re-derives the digest (the
# tamper test still trips). Without the memo every single-query probe
# and every chunk of a chunked batch probe paid one parquet-read +
# collect job to re-fetch a table that is frozen by contract
# (measured ~0.1-0.3 s per probe at bench scale, ×8 chunks on the
# batch128 legs). Bounded like fs._JSON_DOC_CACHE: tests churn
# thousands of throwaway roots; probes hit the same few.
_CENTROIDS_CACHE: "dict[str, tuple[tuple, str, list]]" = {}
_CENTROIDS_CACHE_MAX = 16


def _centroid_table_sig(spark: SparkSession, root: str) -> "tuple | None":
    """(name, mtime, length) listing signature of the centroid
    table, or None when the listing failed (absent table or a
    transient store error). None NEVER matches and is NEVER cached
    (r16 ADVICE low: the old constant error sentinel was itself an
    insertable signature — a transient listing failure at insert
    time followed by one at hit time after an out-of-band rewrite
    would false-hit and serve stale rows past the digest guard)."""
    from ..fs import _fs

    fs, p = _fs(spark, f"{root}/{CENTROIDS_TABLE}")
    try:
        return tuple(sorted(
            (st.getPath().getName(), int(st.getModificationTime()),
             int(st.getLen()))
            for st in fs.listStatus(p)))
    except Exception:   # absent table → unique miss, read path raises
        return None


def _load_centroids(spark: SparkSession, root: str,
                    meta: dict) -> list:
    """The frozen centroid rows, digest-VALIDATED against ``_meta``:
    a centroid table that drifted from the one the index was built
    under would silently re-route every probe, the exact failure
    class the one-shot index's sidecar guards against. Memoized per
    process, revalidated by file listing + digest — see
    _CENTROIDS_CACHE. While the newest listed mtime is inside the
    store's mtime-granularity window the hit is NOT trusted (r16
    VERDICT #5, mirroring fs.read_json_doc): an out-of-band
    same-name same-length rewrite can land within one mtime tick
    and slip the listing signature, so a just-written table always
    re-reads and re-digests; steady-state probes (tables older than
    the window) keep the zero-read hit path."""
    from ..fs import is_recent

    want = meta.get("centroid_digest")
    sig = _centroid_table_sig(spark, root)
    hit = _CENTROIDS_CACHE.get(root)
    if (hit is not None and sig is not None and hit[0] == sig
            and hit[1] == want and not is_recent(sig)):
        _CENTROIDS_CACHE[root] = _CENTROIDS_CACHE.pop(root)  # LRU
        return hit[2]
    rows = (spark.read.parquet(f"{root}/{CENTROIDS_TABLE}")
            .select("cell", "csum", "nv").collect())
    digest = _centroid_digest(rows)
    if digest != want:
        raise ValueError(
            f"centroid table under {root} does not match the frozen "
            f"quantizer this index was initialized with (stored "
            f"digest {want}, recomputed "
            f"{digest}) — probing would silently mis-route cells")
    _CENTROIDS_CACHE.pop(root, None)
    if sig is not None:   # an unlistable table is never cached
        if len(_CENTROIDS_CACHE) >= _CENTROIDS_CACHE_MAX:
            _CENTROIDS_CACHE.pop(next(iter(_CENTROIDS_CACHE)))
        _CENTROIDS_CACHE[root] = (sig, want, rows)
    return rows


def init_ivf_index(spark: SparkSession, root: str, train: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cell_col: str = "label",
                   dim: int = EMB_DIM,
                   train_k: "int | str | None" = None,
                   train_iters: int | None = None,
                   train_metric: str = "l2",
                   storage: str = "float",
                   train_normalize: bool = False) -> dict:
    """TRAIN-ONCE: freeze the coarse quantizer from a labeled
    training frame (per-cell exact int64 nano-unit component sums +
    counts — the same wide aggregate the one-shot
    ``write_ivf_index`` runs) and initialize an empty incremental
    index. Ingest content separately via :func:`ivf_ingest_delta`
    (the training sample need not be index content — standard IVF
    practice at scale is to train on a sample). Returns the meta.

    UNLABELED frames (VERDICT r10 brief #1): pass ``train_k`` and
    the labels come from the deterministic distributed k-means
    trainer (:func:`plans.kmeans.train_centroids`) run on ``train``
    — no caller-side clustering required. ``train_iters`` caps the
    Lloyd iterations (trainer default otherwise).
    ``train_k="auto"`` (r11 brief #5) sizes k from the training
    count by :func:`plans.kmeans.suggest_k`'s √N convention.
    ``train_metric="dot"`` (r11 brief #1) trains with the index's
    OWN placement rule (argmax mean-scaled centroid dot) so training
    labels equal serve-time placement on any data — recommended for
    new indexes; the "l2" default preserves historical behavior.

    ``storage="int8"`` (r11 brief #3) stores postings as symmetric
    int8 codes + per-vector scale (plans/codes.py — ~4× smaller on
    disk, measured by the fsck's ``table_bytes``) instead of float
    embeddings; placement/routing still computes from the original
    embeddings at ingest, probes score the exact scale-free code
    cosine and optionally exact-rerank a short candidate list
    against caller-supplied float vectors.

    ``train_normalize=True`` (r12 brief #3): the trainer runs TRUE
    spherical k-means (``kmeans.train_centroids(normalize=True)``)
    and the frozen centroids here aggregate the SAME unit-normed
    directions — the mean-dot placement rule is scale-invariant in
    the probed/ingested vector, so serve-time routing of raw
    embeddings is consistent with direction-trained centroids while
    the training objective stops being norm-biased. Recorded in
    ``_meta`` for provenance; pair with ``train_metric="dot"``."""
    if storage not in STORAGES:
        raise ValueError(f"storage must be one of {STORAGES}, "
                         f"got {storage!r}")
    if train_k is not None:
        from .kmeans import DEFAULT_ITERS, suggest_k, train_centroids

        if train_k == "auto":
            train_k = suggest_k(train.count())
        train = train_centroids(
            spark, train, k=train_k,
            n_iters=(train_iters if train_iters is not None
                     else DEFAULT_ITERS),
            id_col=id_col, vec_col=vec_col, dim=dim,
            metric=train_metric,
            normalize=train_normalize)["labeled"]
        id_col, vec_col, cell_col = "vec_id", "embedding", "label"
    with corpus_writer_lock(spark, root, op="ivf_init") as lease:
        if path_exists(spark, _meta_path(root)):
            raise ValueError(
                f"incremental IVF root {root} is already initialized "
                f"— the quantizer is frozen by contract (build a new "
                f"root to re-train)")
        ci_col = _fixed_point(_checked_dim(vec_col, dim,
                                           "init_ivf_index"))
        if train_normalize:
            from .kmeans import unit_fixed
            ci_col = unit_fixed(ci_col)
        dec = train.select(
            F.col(cell_col).cast("bigint").alias("cell"),
            ci_col.alias("ci"))
        cents = (dec.groupBy("cell")
                 .agg(component_sums("ci", dim).alias("csum"),
                      F.count("*").cast("bigint").alias("nv")))
        cents.coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{CENTROIDS_TABLE}")
        rows = (spark.read.parquet(f"{root}/{CENTROIDS_TABLE}")
                .select("cell", "csum", "nv").collect())
        meta = {"kind": "ivf_incremental", "dim": dim,
                "n_cells": len(rows),
                "storage": storage,
                "centroid_digest": _centroid_digest(rows)}
        if train_normalize:
            meta["train_normalize"] = True   # provenance (r12 #3)
        lease.fence()
        write_text_atomic(spark, _meta_path(root),
                          json.dumps(meta, sort_keys=True))
        return meta


def _cell_scores(delta: DataFrame, cents: DataFrame,
                 dim: int = EMB_DIM):
    """(vec_id, cell, score) for every delta vector × centroid —
    score is the EXACT-integer mean-scaled centroid dot as a double,
    the same value the driver-side query ranking computes (Python
    arbitrary-precision int == the hi/lo int64 fold), so placement
    and probing can never disagree. Wrong-dim rows raise per row
    (:func:`_checked_dim`) rather than mis-placing silently."""
    return (delta.select("vec_id",
                         _fixed_point(_checked_dim(
                             "embedding", dim,
                             "ivf cell scoring")).alias("ci"))
            .crossJoin(F.broadcast(cents))
            .select("vec_id", "cell",
                    _centroid_score("ci").alias("score")))


def _centroid_score(ci: str):
    """The mean-scaled exact-integer dot of the nano-unit vector
    ``ci`` against a centroid row's (csum, nv) — as a double."""
    return (_fixed_dot(ci, "csum", split=CSUM_SPLIT).cast("double")
            / (F.col("nv") * F.lit(1e18)))


# (SparkContext, {centroid digest: Broadcast}) — one broadcast of the
# centroid matrices per frozen quantizer, reused by every ingest and
# assignment instead of a new one per call that nothing released
# (each held driver memory and block-manager space for the life of
# the process). LRU-bounded; an evicted handle is unpersisted, so a
# frame still holding it re-fetches from the driver if it runs.
_CENTROID_BROADCASTS: tuple = (None, {})
_CENTROID_BROADCASTS_MAX = 8


def _centroid_broadcast(sc, cent_rows):
    """The broadcast ``(cells, lo_t, hi_t, denom)`` matrices of the
    quantizer ``cent_rows`` (cells ascending; the centroid sums split
    at CSUM_SPLIT and transposed to (dim, k); ``nv``·1e18), made once
    per context and centroid digest."""
    import numpy as np

    global _CENTROID_BROADCASTS
    if _CENTROID_BROADCASTS[0] is not sc._jsc:
        _CENTROID_BROADCASTS = (sc._jsc, {})
    memo = _CENTROID_BROADCASTS[1]
    digest = _centroid_digest(cent_rows)
    bc = memo.pop(digest, None)
    if bc is None:
        cells_sorted = sorted(
            (int(r.cell), [int(s) for s in r.csum], int(r.nv))
            for r in cent_rows)
        cells = np.array([c for c, _, _ in cells_sorted], dtype=np.int64)
        csum = np.array([s for _, s, _ in cells_sorted], dtype=np.int64)
        denom = np.array([v for _, _, v in cells_sorted],
                         dtype=np.float64) * 1e18
        s = CSUM_SPLIT
        lo_t = np.mod(csum, s).T.copy()                      # (dim, k)
        hi_t = ((csum - np.mod(csum, s)) // s).T.copy()
        bc = sc.broadcast((cells, lo_t, hi_t, denom))
        if len(memo) >= _CENTROID_BROADCASTS_MAX:
            memo.pop(next(iter(memo))).unpersist()
    memo[digest] = bc   # (re-)insert at the fresh end
    return bc


def _attach_cells(delta: DataFrame, cent_rows, dim: int) -> DataFrame:
    """``delta`` columns + assigned ``cell``, computed IN-ROW: one
    Arrow-batched ``mapInPandas`` pass whose task holds the frozen
    centroid matrix and argmaxes the mean-scaled centroid dots in
    numpy — a pure map, so the ingest write job carries ZERO
    exchanges for placement. The former shape
    (``_cell_scores`` crossJoin → groupBy(vec_id) max_by → join back
    onto the delta) paid two Exchange pairs per ingest purely to
    glue the argmax onto rows it was derived from (guide §2.4 remove
    shuffles / §4.2 hand batches to vectorized native code).

    BIT-PARITY with the JVM fold and the driver ranking, term by
    term (pinned by the fsck's independent ``_cell_scores``
    re-derivation and the ingest tests):

    - components: ``floor(float64(x) · 1e9 + 0.5) → int64`` — the
      same IEEE ops as ``_fixed_point``;
    - dot: the ``_fixed_dot`` hi/lo split at CSUM_SPLIT as two int64
      matmuls (int64 addition wraps two's-complement in BOTH engines
      and is commutative mod 2^64, so summation order is free),
      recombined exactly in Python ints;
    - score: ``float(exact) / (float(nv) · 1e18)`` — Python float()
      of an int and BigDecimal.doubleValue are both correctly
      rounded, and the divide is the same IEEE double op;
    - tie-break: centroid columns sorted by cell ascending +
      ``argmax`` (first max) ≡ ``max_by(cell, struct(score, -cell))``.

    Wrong-dim rows fail loudly (the stacked matrix's width check),
    matching ``_checked_dim``'s contract.

    The centroid arrays ride to executors as ONE ``sc.broadcast``
    (r17, VERDICT r16 #4; guide §3.2): closure capture pickled the
    (cells, lo/hi, denom) matrices into the serialized command and
    re-shipped them with EVERY task — immaterial at toy K, a
    K·dim-sized per-task tax once the quantizer has thousands of
    cells. The broadcast ships once per executor and is torrent-
    distributed; task closures carry only the handle. It is made once
    per quantizer (see :func:`_centroid_broadcast`)."""
    import numpy as np

    bc = _centroid_broadcast(delta.sparkSession.sparkContext, cent_rows)
    s = CSUM_SPLIT
    from pyspark.sql.types import LongType, StructField, StructType

    # a NEW StructType: StructType.add would mutate the DataFrame's
    # cached schema object in place
    out_schema = StructType(list(delta.schema.fields)
                            + [StructField("cell", LongType())])

    def assign(it):
        import pandas as pd  # noqa: F401 — worker-side import

        b_cells, b_lo_t, b_hi_t, b_denom = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            emb = np.vstack(pdf["embedding"].to_numpy())
            if emb.shape[1] != dim:
                raise ValueError(
                    f"ivf cell scoring: expected {dim}-dim "
                    f"embedding, got {emb.shape[1]}")
            ci = np.floor(emb.astype(np.float64) * 1e9
                          + 0.5).astype(np.int64)
            lo = ci @ b_lo_t
            hi = ci @ b_hi_t
            exact = hi.astype(object) * s + lo
            score = exact.astype(np.float64) / b_denom
            out = pdf.copy()
            out["cell"] = b_cells[score.argmax(axis=1)]
            yield out

    return delta.mapInPandas(assign, schema=out_schema)


def assign_cells(spark: SparkSession, root: str,
                 delta: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest frozen centroid per delta vector —
    the centroid matrix rides into each task (driver-known, tiny)
    and the per-row argmax (max score, ties to the LOWER cell id,
    mirroring the query ranking's sort) runs in one Arrow-batched
    numpy map (:func:`_attach_cells`). Zero shuffles; never moves
    anything corpus-sized."""
    meta = _load_meta(spark, root)
    return _attach_cells(
        delta.select("vec_id", "embedding"),
        _load_centroids(spark, root, meta),
        meta["dim"]).select("vec_id", "cell")


def _ranked_cells(cent_rows, qci: list) -> "list[int]":
    """Every cell, best first: the mean-scaled exact-integer centroid
    dot against the query (Python arbitrary-precision ints — the same
    double the executor-side placement folds), ties to the lower
    cell id."""
    return [c for _, c in sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell)) for r in cent_rows),
        key=lambda t: (-t[0], t[1]))]


def _centroid_frame(spark: SparkSession, cent_rows) -> DataFrame:
    return spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv))
         for r in cent_rows],
        "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")


class IvfRouter(VI.Router):
    """Cells of the frozen quantizer; the routing state is the
    digest-validated centroid rows."""

    kind = "ivf_incremental"
    family, label = "ivf", "IVF"
    init_hint = "init_ivf_index creates it"
    identity = "quantizer"
    table, key, key_type = IVF_TABLE, "cell", "BIGINT"
    check_name = "placement_check"
    source_field = "cell_source"

    def check_meta(self, spark, root, meta, what):
        return _load_centroids(spark, root, meta)

    def attach_keys(self, delta, state, meta, provided):
        if not provided:
            # in-row numpy argmax (zero exchanges) — parity notes on
            # _attach_cells
            return _attach_cells(delta, state, meta["dim"])
        known = sorted(int(r.cell) for r in state)
        n_unknown = (delta.filter(~F.col("cell").isin(known)
                                  | F.col("cell").isNull()).count())
        if n_unknown:
            raise ValueError(
                f"{n_unknown} delta rows carry a cell outside the "
                f"frozen quantizer's {meta['n_cells']} cells — they "
                f"would be stored but never probed")
        return delta

    def probe_keys(self, state, meta, query_vec, nprobe):
        return _ranked_cells(state, _qdec(query_vec)[0])[:nprobe]

    def batch_pairs(self, state, meta, q, nprobe):
        # per-query cell ranking by the placement score (the same
        # double the driver-side ranking folds), ties to the lower
        # cell id
        from pyspark.sql import Window

        wc = Window.partitionBy("qid").orderBy(F.desc("score"),
                                               F.asc("cell"))
        return (q.crossJoin(F.broadcast(
                    _centroid_frame(q.sparkSession, state)))
                .withColumn("score", _centroid_score("qci"))
                .withColumn("rn", F.row_number().over(wc))
                .filter(F.col("rn") <= nprobe)
                .select("qid", "qci", "qsq", "cell",
                        (F.col("rn") == 1).alias("is_seed"))), nprobe

    def expected_keys(self, spark, state, meta, ix, live):
        """Membership (every stored cell is a quantizer cell — an
        unknown cell is stored-but-never-probed data loss) and, for
        ``cell_source == "assigned"`` batches, placement: the stored
        cell equals the one re-derived from the row's own embedding
        by the JVM ``_cell_scores`` fold — the check that pins the
        ingest's numpy argmax (_attach_cells) to it bit for bit."""
        violations = []
        known = sorted(int(r.cell) for r in state)
        n_unknown = ix.filter(~F.col("cell").isin(known)).count()
        if n_unknown:
            violations.append(
                f"membership: {n_unknown} rows sit in a cell outside "
                f"the frozen quantizer's {len(known)} cells (stored "
                f"but never probed)")
        if meta.get("storage", "float") == "int8":
            # codes, not the original embeddings, are stored: a cell
            # re-derived from the DEQUANTIZED vector can legitimately
            # differ near a boundary — skipped, and SAID so
            return ("skipped: int8 storage stores codes; placement "
                    "re-derivation needs the original embeddings",
                    violations)
        assigned = [b for b, m in live.items()
                    if m.get("cell_source") == "assigned"]
        if not assigned:
            return "skipped: no assigned-cell batches", violations
        sub = ix.filter(F.col("batch_id").isin(assigned))
        want = (_cell_scores(sub.select("vec_id", "embedding"),
                             _centroid_frame(spark, state), meta["dim"])
                .groupBy("vec_id")
                .agg(F.max_by(F.col("cell"),
                              F.struct(F.col("score"),
                                       (-F.col("cell")).alias("nc")))
                     .alias("_want")))
        n_drift = (sub.select("vec_id", "cell").join(want, "vec_id")
                   .filter(F.col("cell") != F.col("_want")).count())
        if n_drift:
            violations.append(
                f"placement: {n_drift} assigned rows sit in a cell != "
                f"their own embedding's nearest frozen centroid")
        return "checked", violations


ROUTER = IvfRouter()


# ------------------------------------------------------------ wrappers


def committed_ivf_batches(spark: SparkSession, root: str) -> list[str]:
    return committed_batches(spark, root)


def read_ivf_postings(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row, in the root's STORED layout
    (:func:`vector_index.read_index`)."""
    return VI.read_index(spark, root, ROUTER)


def read_ivf_cells(spark: SparkSession, root: str,
                   cells: "list[int]",
                   parallelism: "str | None" = "bytes") -> DataFrame:
    """The probe reader scoped to ``cells``
    (:func:`vector_index.read_index`)."""
    return VI.read_index(spark, root, ROUTER, cells, parallelism)


def ivf_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) for every committed vector, whatever the
    storage (:func:`vector_index.vectors`)."""
    return VI.vectors(spark, root, ROUTER)


def ivf_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                     batch_id: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cell_col: str | None = None,
                     dedup_ids: bool = True,
                     corpus_batch: "str | list[str] | None" = None,
                     _crash_after: str | None = None,
                     manifest_extra: dict | None = None) -> dict:
    """Append a vector delta under the manifest-last commit protocol
    (:func:`vector_index.ingest_delta`). Cells come from the frozen
    quantizer (``cell_col=None``, the production default) or from a
    caller-provided column (an upstream clustering owns placement —
    values must be known cells). Returns the committed manifest."""
    return VI.ingest_delta(spark, root, ROUTER, emb, batch_id, id_col,
                           vec_col, dedup_ids, corpus_batch,
                           _crash_after, manifest_extra,
                           key_col=cell_col)


def ivf_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         nprobe: int = 2,
                         exclude_id: int | None = None,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: bool = False) -> DataFrame:
    """Top-k cosine over the committed index, scanning the ``nprobe``
    cells whose frozen centroids rank best against the query
    (:func:`vector_index.incremental_topk`). For equal committed
    content the rows equal the one-shot ``ivf_indexed_topk``'s.

    int8 roots score the exact SCALE-FREE code cosine over the pruned
    codes scan; pass ``rerank_vectors`` (a (vec_id, embedding) float
    source) to exact-rerank the top-(``rerank_cut``·k) code-ranked
    candidates (plans/codes module docstring). ``early_exit=True``
    skips probed cells whose direction box provably cannot reach the
    top-k — rows identical; on the clustered bench fixture it prunes
    3 of 4 separated cells at nprobe=4."""
    return VI.incremental_topk(spark, root, ROUTER, query_vec, k,
                               exclude_id, rerank_vectors, rerank_cut,
                               early_exit, nprobe=nprobe)


def ivf_batch_topk(spark: SparkSession, root: str,
                   queries: DataFrame, k: int = TOP_K,
                   nprobe: int = 2,
                   id_col: str = "qid", vec_col: str = "embedding",
                   exclude_self: bool = True,
                   max_queries_per_job: int | None = None,
                   rerank_vectors: DataFrame | None = None,
                   rerank_cut: int = 4,
                   early_exit: bool = False,
                   chunk_concurrency: int = 1) -> DataFrame:
    """Top-k cosine for MANY queries in one job
    (:func:`vector_index.batch_topk`): queries × frozen centroids
    (both broadcast-sized) rank each query's top-``nprobe`` cells in
    one small window. Returns (qid, vec_id, cosine, cell)."""
    return VI.batch_topk(spark, root, ROUTER, queries, k, id_col,
                         vec_col, exclude_self, max_queries_per_job,
                         rerank_vectors, rerank_cut, early_exit,
                         chunk_concurrency, nprobe=nprobe)


def ivf_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    nprobe: int = 2,
                    exclude_id: int | None = None,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the IVF index
    (:func:`vector_index.pinned_topk`). The quantizer is frozen by
    contract, so the pinned probe ranks cells against the centroids
    the pinned vectors were placed with."""
    return VI.pinned_topk(spark, root, ROUTER, pin, query_vec, k,
                          exclude_id, rerank_vectors, rerank_cut,
                          nprobe=nprobe)


def compact_ivf_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_cell: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch
    (:func:`vector_index.compact_batches`) — the small-files relief
    for the per-batch L-way fan-out; ``rows_per_file`` splits hot
    cells (the skew ``verify_ivf_index``'s occupancy canary
    reports)."""
    return VI.compact_batches(spark, root, batch_ids, n_files_per_cell,
                              rows_per_file, ROUTER)


def delete_ivf_vectors(spark: SparkSession, root: str,
                       vec_ids: "list[int] | DataFrame",
                       n_files_per_cell: int = 1,
                       release_conflicting_pins: bool = False,
                       _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown (:func:`vector_index.delete_vectors`):
    surviving rows keep their stored cells, so placement is unchanged
    by construction."""
    return VI.delete_vectors(spark, root, vec_ids, n_files_per_cell,
                             release_conflicting_pins, _crash_after,
                             ROUTER)


def prune_ivf_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Sweep crashed ingests' cell partitions
    (:func:`corpus.prune_uncommitted` over this root's table)."""
    return prune_uncommitted(spark, root, tables=(ROUTER.table,),
                             op=f"{ROUTER.family}_prune_uncommitted")


def delete_ivf_batch(spark: SparkSession, root: str,
                     batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch
    (:func:`corpus.delete_batch` over this root's table)."""
    delete_batch(spark, root, batch_id, tables=(ROUTER.table,),
                 op=f"{ROUTER.family}_delete")


def verify_ivf_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck (:func:`vector_index.verify`): quantizer
    digest, ledger, uniqueness, cell membership, nearest-centroid
    placement of assigned batches, direction boxes and orphans, plus
    the ``cell_occupancy`` canary. Placement is reported under
    ``placement_check``."""
    return VI.verify(spark, root, ROUTER)
