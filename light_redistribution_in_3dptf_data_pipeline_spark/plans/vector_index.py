"""INCREMENTALLY-MAINTAINED VECTOR INDEX — the similarity-search analog
of the incremental corpus (plans/corpus.py): at 100 TB you cannot
rebuild the embedding index per delta, so vector batches append under
the same manifest-last commit protocol the corpus uses, and queries
see exactly the committed batches.

One store, two ROUTERS. Both index families keep their vectors in a
table partitioned by batch THEN by a routing key, and everything but
the routing is written once, here: meta and schema, committed
batches and readers, ingest, the single / pinned / batch probes with
their early exit, compaction, retention and the fsck skeleton. A
:class:`Router` says how a vector or a query maps to keys — the only
real difference between the families (the pluggable partitioner of
REPOSE, ICDE 2021):

- IVF (plans/ivf_index.py): key ``cell BIGINT``, the nearest FROZEN
  centroid of a coarse quantizer trained once
  (``init_ivf_index``) — re-training per delta would move cell
  boundaries under the already-written posting lists;
- LSH (plans/ann_index.py): key ``bucket INT``, the sign pattern of
  random hyperplanes (``num_tables`` independent tables store one
  copy per table under a composite key).

Layout (one root per index):

- ``{root}/{table}/batch_id=B/{key}=N/`` — the vectors, Parquet
  partitioned by batch THEN key (``postings/…/cell=`` or
  ``buckets/…/bucket=``), so a top-k probe prunes on a literal
  ``key IN (probe keys)`` inside every committed batch (static
  directory pruning on the second level) while batch visibility
  stays the invisible-set complement on the first.
- ``{root}/_manifests/{batch_id}.json`` — written LAST: the commit.
  Same snapshot cache, supersession compaction, writer lease + fence
  and crash recovery ("run it again") as the corpus — all reused from
  plans/corpus, which is root-generic by construction.
- ``{root}/_meta.json`` — the routing identity (kind, dim, storage,
  and the quantizer's centroid digest or the planes digest). Every
  ingest and every query validates it (:meth:`Router.check_meta`):
  two batches routed under different centroids or hyperplanes would
  silently cross-probe wrong keys, the drift class the one-shot
  indexes' sidecars guard against.
- ``{root}/_cellstats.json`` — per-key direction boxes for probe
  early exit (plans/cellstats.py).

Scale notes: the per-delta data cost is one in-row routing map plus
the delta-sized write; the optional id-dedup gate anti-joins the
delta against a COLUMN-PRUNED scan of committed vec_ids (one bigint
column, never the vectors). Per-batch small-files debt (each batch
fans out over every key it touches) is what :func:`compact_batches`
folds away.

Reference parity: the reference rebuilds its whole search structure
per run; operators/similarity.write_ivf_index / write_ann_index are
this engine's one-shot restatements of that, and this module is
their production shape ("at 100 TB the bucket column becomes the
partition key of the stored index table").
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import empty_frame
from ..fs import delete_path, path_exists, write_text_atomic
from ..operators.similarity import _fixed_point
from ..queries.similarity import _dot_sql, _qdec, exact_cosine
from .corpus import (BatchAlreadyIngested, _load_manifests,
                     _manifest_path, _next_seq_id, _superseded,
                     _visible_scan, _write_snapshot, committed_batches,
                     corpus_writer_lock)

META_NAME = "_meta.json"
STORAGES = ("float", "int8")


class Router:
    """How vectors and queries map to partition keys. A subclass sets
    the attributes and implements the five methods; the core calls
    nothing else.

    ``state`` is whatever :meth:`check_meta` returns after validating
    the meta (the IVF centroid rows, the LSH meta) — loaded once per
    call and handed to the routing methods."""

    kind: str           # meta "kind"
    family: str         # lease op prefix: "ivf" / "ann"
    label: str          # messages: "IVF" / "ANN"
    init_hint: str      # how a root gets its _meta.json
    identity: str       # what check_meta guards, for the fsck
    table: str          # posting table under the root
    key: str            # partition key column
    key_type: str       # its SQL type
    check_name: str     # fsck report key of expected_keys' status
    source_field: "str | None" = None   # manifest: provided/assigned

    def check_meta(self, spark: SparkSession, root: str, meta: dict,
                   what: str):
        """Validate ``meta``; return the routing state (raises
        ValueError on drift)."""
        raise NotImplementedError

    def attach_keys(self, delta: DataFrame, state, meta: dict,
                    provided: bool) -> DataFrame:
        """``delta`` + the key column, computed in-row at ingest
        (``provided``: the delta already carries it — validate)."""
        raise NotImplementedError

    def probe_keys(self, state, meta: dict, query_vec: list,
                   **probe) -> "list[int]":
        """One query's probe keys, its seed key (own cell/bucket)
        first."""
        raise NotImplementedError

    def batch_pairs(self, state, meta: dict, q: DataFrame,
                    **probe) -> "tuple[DataFrame, int]":
        """((qid, qci, qsq, key, is_seed) probe pairs of the decoded
        query frame ``q`` (qid, embedding, qci, qsq) — per query the
        keys of :meth:`probe_keys`, exactly one seed — , the
        per-query fan-out)."""
        raise NotImplementedError

    def expected_keys(self, spark: SparkSession, state, meta: dict,
                      ix: DataFrame,
                      live: "dict[str, dict]") -> "tuple[str, list]":
        """The fsck's routing check of the live scan ``ix``
        (``live``: batch id → manifest) — re-derived independently
        of the ingest's code path. Returns (status, violations)."""
        raise NotImplementedError


def router_of(kind: str) -> Router:
    """The router of a meta ``kind`` — loud on anything else."""
    from . import ann_index, ivf_index

    for r in (ann_index.ROUTER, ivf_index.ROUTER):
        if kind == r.kind:
            return r
    raise ValueError(f"index kind {kind!r} is not an incremental "
                     f"vector index kind")


def _meta_path(root: str) -> str:
    return f"{root}/{META_NAME}"


def load_meta(spark: SparkSession, root: str,
              router: "Router | None" = None) -> dict:
    from ..fs import read_json_doc
    doc = read_json_doc(spark, _meta_path(root))   # memoized (fs.py)
    if doc is None:
        if router is None:
            raise ValueError(
                f"{root} has no {META_NAME} — not an initialized "
                f"incremental vector index")
        raise ValueError(
            f"incremental {router.label} root {root} has no "
            f"{META_NAME} — not an initialized index "
            f"({router.init_hint})")
    return dict(doc)   # shallow copy: the cached doc is shared


def _num_tables(meta: dict) -> int:
    """Rows stored per vector: L, the LSH hyperplane-table count
    (multi-table LSH). Absent from IVF and single-table metas → 1."""
    return int(meta.get("num_tables", 1))


def schema_of(router: Router, meta: dict) -> str:
    # Explicit schema: partition-column types included, and an index
    # whose committed batches are all empty has no footers to infer
    # from (same reasoning as corpus._read_index).
    if meta.get("storage", "float") == "int8":
        from .codes import CODE_COLS
        payload = CODE_COLS
    else:
        payload = "embedding ARRAY<FLOAT>"
    return (f"vec_id BIGINT, {payload}, "
            f"{router.key} {router.key_type}, batch_id STRING")


def _checked_dim(vec: str, dim: int, what: str) -> str:
    """SQL text of the embedding ``vec`` (SQL text) with a per-row
    dimensionality guard (ADVICE r9): ``zip_with`` NULL-pads a
    wrong-length vector and its folds turn NULL — a row stored that
    way is unprobeable (NULL cosine) and mis-routed. Fail loudly at
    execution instead."""
    msg = (f"{what}: expected {dim}-dim embedding, got "
           .replace("\\", "\\\\").replace("'", "\\'"))
    return (f"CASE WHEN size({vec}) = {dim} THEN {vec} ELSE raise_error("
            f"concat('{msg}', CAST(size({vec}) AS STRING))) END")


def _merge_manifest_extra(manifest: dict,
                          extra: dict | None) -> dict:
    """Fold caller metadata into a manifest about to commit —
    protocol keys (counts, identity, supersession, provenance) are
    refused so an extra can never alter visibility or ledger
    semantics."""
    if not extra:
        return manifest
    reserved = {"batch_id", "n_input", "n_id_dupes", "n_admitted",
                "replaces", "corpus_batch", "cell_source",
                "released_pins", "n_deleted"}
    bad = sorted(reserved & set(extra))
    if bad:
        raise ValueError(
            f"manifest_extra must not override protocol keys {bad}")
    return {**manifest, **extra}


# ------------------------------------------------------------ readers


def read_index(spark: SparkSession, root: str,
               router: "Router | None" = None,
               keys: "list[int] | None" = None,
               parallelism: "str | None" = "bytes") -> DataFrame:
    """Every committed posting row in the root's STORED layout
    (float: vec_id, embedding, key, batch_id; int8: vec_id, code,
    scale, key, batch_id) — visibility identical to the corpus
    reader: present ∩ committed via the invisible-set complement,
    directory-level. For a storage-independent (vec_id, embedding)
    view use :func:`vectors`.

    ``keys``: the PROBE reader — only the ``batch_id=B/{key}=K`` leaf
    directories of a driver-known probe key set are handed to the
    scan (corpus._visible_scan_keys), so a probe lists |keys| ×
    batches directories instead of the whole key space × batches
    tree; rows are identical to filtering on ``key IN keys``
    (parity-pinned). ``parallelism``: task-count bound of that pruned
    scan — ``"bytes"`` (single-query probes) tracks file bytes,
    ``None`` (batch fan-outs, whose per-byte scoring work is ~Q×)
    keeps Spark's splitting."""
    meta = load_meta(spark, root, router)
    router = router or router_of(meta.get("kind"))
    committed = committed_batches(spark, root)
    path, schema = f"{root}/{router.table}", schema_of(router, meta)
    if not committed or not path_exists(spark, path):
        return empty_frame(spark, schema)
    if keys is None:
        return _visible_scan(spark, path, committed, schema)
    from .corpus import _visible_scan_keys
    return _visible_scan_keys(spark, path, committed, schema,
                              router.key, keys, parallelism)


def one_copy(scan: DataFrame, meta: dict) -> DataFrame:
    """One row per VECTOR: a multi-table root stores one copy per
    table, so keep the table-0 partition (``key < 2^J`` — a static
    partition filter, not a dedup shuffle; every copy stores the
    same payload bytes)."""
    if _num_tables(meta) > 1:
        return scan.filter(F.col("bucket") < (1 << meta["num_planes"]))
    return scan


def vectors(spark: SparkSession, root: str,
            router: "Router | None" = None) -> DataFrame:
    """(vec_id, embedding) for every committed vector, whatever the
    storage: float roots project the stored column, int8 roots
    DEQUANTIZE (plans/codes.dequant_embedding — lossy by exactly the
    sim5 reconstruction error). What training, recall grading, and a
    cross-storage migration read."""
    meta = load_meta(spark, root, router)
    scan = one_copy(read_index(spark, root, router), meta)
    if meta.get("storage", "float") == "int8":
        from .codes import dequant_embedding
        return scan.select(
            "vec_id",
            dequant_embedding(F.col("code"), F.col("scale"))
            .alias("embedding"))
    return scan.select("vec_id", "embedding")


# ------------------------------------------------------------- ingest


def ingest_delta(spark: SparkSession, root: str, router: Router,
                 emb: DataFrame, batch_id: str, id_col: str,
                 vec_col: str, dedup_ids: bool,
                 corpus_batch: "str | list[str] | None",
                 _crash_after: str | None,
                 manifest_extra: dict | None,
                 key_col: str | None = None,
                 init_meta=None) -> dict:
    """Append a vector delta under the manifest-last commit protocol;
    returns the committed manifest (the ingest ledger row).

    - ``dedup_ids``: drop delta vectors whose ``vec_id`` is already
      committed (anti-join against the column-pruned id scan) — the
      at-scale idempotence for re-delivered upstream rows.
      Batch-level exactly-once is by manifest identity regardless.
    - ``corpus_batch``: PROVENANCE — the corpus batch these vectors
      embed, recorded for the cross-root fsck
      (plans/linkage.verify_linked).
    - ``manifest_extra`` merges caller metadata (protocol keys
      refused — :func:`_merge_manifest_extra`).
    - ``key_col``: the delta already carries its keys (the router
      validates them) instead of the router assigning them in-row.
    - ``init_meta``: called under the writer lease to create or
      check the meta (LSH roots are initialized by their first
      ingest); default: the meta must exist.
    - Crash recovery is the corpus protocol verbatim: an unmanifested
      partition is swept on same-id retry, readers never see it, the
      manifest write IS the commit. ``_crash_after=router.table`` is
      the test seam."""
    if batch_id.startswith(("compact-", "retain-")):
        raise ValueError(
            f"batch_id {batch_id!r} uses a reserved maintenance prefix")
    with corpus_writer_lock(spark, root,
                            op=f"{router.family}_ingest:{batch_id}"
                            ) as lease:
        meta = (init_meta() if init_meta is not None
                else load_meta(spark, root, router))
        state = router.check_meta(spark, root, meta, "ingest")
        return _ingest_delta(spark, root, router, meta, state, emb,
                             batch_id, id_col, vec_col, dedup_ids,
                             corpus_batch, _crash_after, lease,
                             manifest_extra, key_col)


def _ingest_delta(spark, root, router, meta, state, emb, batch_id,
                  id_col, vec_col, dedup_ids, corpus_batch,
                  _crash_after, lease, manifest_extra, key_col):
    ms = _load_manifests(spark, root)
    if batch_id in ms or batch_id in _superseded(ms):
        raise BatchAlreadyIngested(
            f"batch_id {batch_id!r} already ingested under {root} "
            f"(manifest {_manifest_path(root, batch_id)})")
    committed = sorted(b for b in ms if b not in _superseded(ms))
    path = f"{root}/{router.table}"
    delete_path(spark, f"{path}/batch_id={batch_id}")

    dim, key = meta["dim"], router.key
    storage = meta.get("storage", "float")
    what = f"{router.family}_ingest_delta({batch_id})"
    # dim-check the stored column itself, so provided keys are
    # guarded too: a wrong-dim vector would be stored unprobeable
    cols = [F.col(id_col).alias("vec_id"),
            F.expr(_checked_dim(f"CAST({vec_col} AS ARRAY<FLOAT>)",
                                dim, what)).alias("embedding")]
    if key_col is not None:
        cols.append(F.col(key_col).cast(router.key_type).alias(key))
    if (storage == "int8" and "code" in emb.columns
            and "scale" in emb.columns):
        # codes arriving WITH the delta (an int8→int8 migration) are
        # stored verbatim — no double-quantization loss
        cols += [F.col("code").cast("array<tinyint>").alias("code"),
                 F.col("scale").cast("bigint").alias("scale")]
    delta = emb.select(*cols)
    n_input = delta.count()
    # path_exists guard: committed batches that all admitted zero
    # vectors leave no table directory at all — the anti-join is
    # then a no-op, not a crash
    if dedup_ids and committed and path_exists(spark, path):
        ids = _visible_scan(spark, path, committed,
                            schema_of(router, meta)).select("vec_id")
        delta = delta.join(ids, "vec_id", "left_anti")
    delta = delta.localCheckpoint()
    n_admitted = delta.count()
    lease.renew()

    tagged = (router.attach_keys(delta, state, meta, key_col is not None)
              .withColumn("batch_id", F.lit(batch_id)))
    if storage == "int8":
        # routing above used the ORIGINAL embedding; only the STORED
        # columns compress (plans/codes module docstring)
        from .codes import attach_codes
        stored = attach_codes(tagged, dim, what).select(
            "vec_id", "code", "scale", key, "batch_id")
    else:
        stored = tagged.select("vec_id", "embedding", key, "batch_id")
    if n_admitted:
        # repartition(key) so each key directory is written by the
        # tasks owning its rows — no tasks × keys file blowup
        (stored.repartition(F.col(key))
         .write.mode("append").partitionBy("batch_id", key)
         .parquet(path))
    if _crash_after == router.table:
        raise RuntimeError(
            f"injected crash after {router.table} write "
            f"(batch {batch_id})")

    manifest = {"batch_id": batch_id, "n_input": n_input,
                "n_id_dupes": n_input - n_admitted,
                "n_admitted": n_admitted}
    if router.source_field:
        manifest[router.source_field] = ("provided" if key_col
                                         else "assigned")
    if corpus_batch is not None:
        manifest["corpus_batch"] = corpus_batch
    manifest = _merge_manifest_extra(manifest, manifest_extra)
    lease.fence()   # no zombie commit after a takeover
    # direction-box widening BEFORE the manifest commit (and AFTER
    # the fence, so a zombie writer can never clobber a new lease
    # holder's stats): a crash here leaves a sound superset box
    # (plans/cellstats module docstring). Bounds come from the
    # `stored` lineage over the CHECKPOINTED delta: routing is one
    # in-row map, so re-running it is a cheap fold over checkpointed
    # rows, while a read-back of the just-written partition re-listed
    # and re-read the per-key tiny files every ingest (0.96 → 0.36 s
    # at sf0.1; at scale a full delta re-read from storage). Values
    # are identical — deterministic maps over a pinned input, and the
    # parquet round-trip is lossless for float32/int8/bigint.
    if n_admitted:
        from .cellstats import widen_stats
        widen_stats(spark, root, stored, key, storage, dim)
    write_text_atomic(spark, _manifest_path(root, batch_id),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, batch_id: manifest})
    return manifest


# ------------------------------------------------------ single probes


def _check_query(meta: dict, query_vec: list) -> None:
    if len(query_vec) != meta["dim"]:
        raise ValueError(
            f"expected {meta['dim']}-dim query vector, "
            f"got {len(query_vec)}")


def _early_exit_stats(spark: SparkSession, root: str, storage: str,
                      early_exit: bool, fanout: int) -> "dict | None":
    """The root's direction-box stats when an early exit can prune
    anything (``fanout`` > 1 probe keys per query); None otherwise,
    or when the stats bound another payload (the fsck names that
    drift; the probe stays exact)."""
    from .cellstats import check_early_exit, load_stats, payload_column

    if not check_early_exit(early_exit) or fanout <= 1:
        return None
    stats = load_stats(spark, root)
    if stats is not None and \
            stats["payload"] != payload_column(storage)[0]:
        return None
    return stats


def _scores(scan: DataFrame, qci: list, qsq: float,
            exclude_id: int | None, storage: str,
            key: str) -> DataFrame:
    """UNSORTED exact scored rows (vec_id, cosine, key) of an already
    key-pruned scan — the one scoring expression
    (``queries.similarity.exact_cosine``) the plain, early-exit and
    pinned probes all rank."""
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    scored, cosine = exact_cosine(scan, qci, qsq, storage)
    return scored.select("vec_id", cosine.alias("cosine"), key)


def _dedup_tables(scored: DataFrame, key: str,
                  per_qid: bool = False) -> DataFrame:
    """Collapse a multi-table scored frame to one row per vector: a
    vector stored in L tables appears once per PROBED table, with
    the identical cosine (the stored payload is the same bytes), so
    duplicates would occupy several top-k slots. Keep the max cosine
    (they are equal; max is NULL-safe) and the lowest probed key
    (deterministic provenance).

    ``per_qid`` pre-partitions by qid ALONE: hash partitioning on qid
    satisfies the (qid, vec_id) aggregate's clustering AND the
    downstream per-qid top-k window's, so the dedup + window pipeline
    runs on ONE Exchange of the candidate set."""
    aggs = (F.max("cosine").alias("cosine"), F.min(key).alias(key))
    if per_qid:
        return (scored.repartition(F.col("qid"))
                .groupBy("qid", "vec_id").agg(*aggs)
                .select("qid", "vec_id", "cosine", key))
    return (scored.groupBy("vec_id").agg(*aggs)
            .select("vec_id", "cosine", key))


def _rank(scored: DataFrame, qci: list, qsq: float, k: int,
          storage: str, rerank_vectors: DataFrame | None,
          rerank_cut: int, key: str, dedup: bool) -> DataFrame:
    """Top-k of a single probe's scored rows under (cosine desc,
    vec_id asc). int8 roots: the code cosine IS the exact cosine of
    the dequantized vectors; with ``rerank_vectors`` (a (vec_id,
    embedding) float source) the ``rerank_cut``·k code-ranked
    candidates are exact-reranked instead — the candidate list is
    probe-sized, so the fetch is a broadcast join; point
    ``rerank_vectors`` at an id-prunable source at scale."""
    if dedup:   # one row per vector ACROSS the probed tables
        scored = _dedup_tables(scored, key)
    ranked = scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
    if storage != "int8" or rerank_vectors is None:
        return ranked.limit(k)
    cand = ranked.limit(rerank_cut * k).select("vec_id", key)
    fetch = (rerank_vectors.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"))
        .join(F.broadcast(cand), "vec_id"))
    return _rank(_scores(fetch, qci, qsq, None, "float", key), qci,
                 qsq, k, "float", None, rerank_cut, key, False)


def _cut(storage: str, k: int, rerank_vectors, rerank_cut: int) -> int:
    """m, the candidate depth the early exit must keep exact."""
    return (rerank_cut * k
            if storage == "int8" and rerank_vectors is not None else k)


def incremental_topk(spark: SparkSession, root: str, router: Router,
                     query_vec: list, k: int,
                     exclude_id: int | None,
                     rerank_vectors: DataFrame | None,
                     rerank_cut: int, early_exit: bool,
                     **probe) -> DataFrame:
    """Top-k cosine over the COMMITTED index: the router ranks the
    probe keys DRIVER-side, the scan carries them as a literal
    ``key IN (...)`` — static directory pruning inside every
    committed batch, zero exchanges; batch visibility adds at most a
    NOT IN over the (normally empty) invisible set. Scoring is the
    exact fixed-point cosine of the one-shot indexes, so for equal
    committed content both return identical rows. ``root`` may be a
    pointer file written by a migration cutover
    (plans/migration.set_index_pointer) — resolved transparently —
    or an :class:`migration.IndexPointerHandle` whose cached
    resolution serves high-QPS probe loops without per-probe FS
    reads.

    ``early_exit=True`` SKIPS probed keys whose direction-box upper
    bound (plans/cellstats) provably cannot reach the top-k — result
    rows are IDENTICAL by the bound's soundness (test-pinned at every
    fan-out); the win is the skipped posting lists' scan work. The
    threshold is the seed key's own box LOWER bound — pure driver
    arithmetic over the stats sidecar, ZERO extra jobs, so the plan
    is the plain plan with a (possibly) smaller literal IN-list:
    never slower, idle or busy. A no-op on roots without committed
    stats; off by default because on a uniform distribution the
    boxes are loose and prune nothing."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = load_meta(spark, root, router)
    state = router.check_meta(spark, root, meta, "query")
    _check_query(meta, query_vec)
    qci, qsq = _qdec(query_vec)
    keys = router.probe_keys(state, meta, query_vec, **probe)
    key, storage = router.key, meta.get("storage", "float")
    # probe reader: the probe keys are a driver literal list — scope
    # the scan's file index to their leaf dirs; the inner key filters
    # (early-exit kept-sets, the plain IN) keep their semantics
    scan = read_index(spark, root, router, keys)
    stats = _early_exit_stats(spark, root, storage, early_exit,
                              len(keys))

    def score(s):
        return _scores(s, qci, qsq, exclude_id, storage, key)

    if stats is not None:
        from .cellstats import early_exit_scored
        scored, _ = early_exit_scored(
            stats, scan, key, keys, qci, qsq,
            _cut(storage, k, rerank_vectors, rerank_cut), score,
            excluded=0 if exclude_id is None else 1)
    else:
        scored = score(scan.filter(F.col(key).isin(keys)))
    return _rank(scored, qci, qsq, k, storage, rerank_vectors,
                 rerank_cut, key, _num_tables(meta) > 1)


def pinned_topk(spark: SparkSession, root: str, router: Router, pin,
                query_vec: list, k: int, exclude_id: int | None,
                rerank_vectors: DataFrame | None, rerank_cut: int,
                **probe) -> DataFrame:
    """Top-k cosine over a PINNED view of the index
    (plans/snapshots.pin_snapshot): the scan is the pinned batch
    directories only (path selection — snapshots.read_pinned_table),
    with the same driver-side key ranking and the same exact
    re-rank as :func:`incremental_topk`. A similarity query quoted in
    an eval or paper re-runs bit-for-bit after the live index has
    grown, compacted, or been row-retained (routing is frozen by
    contract, so the pinned probe ranks keys the way the pinned
    vectors were placed)."""
    from .snapshots import read_pinned_table

    meta = load_meta(spark, root, router)
    state = router.check_meta(spark, root, meta, "query")
    _check_query(meta, query_vec)
    keys = router.probe_keys(state, meta, query_vec, **probe)
    qci, qsq = _qdec(query_vec)
    storage = meta.get("storage", "float")
    scan = (read_pinned_table(spark, root, pin, router.table,
                              schema=schema_of(router, meta))
            .filter(F.col(router.key).isin(keys)))
    return _rank(_scores(scan, qci, qsq, exclude_id, storage,
                         router.key),
                 qci, qsq, k, storage, rerank_vectors, rerank_cut,
                 router.key, _num_tables(meta) > 1)


# ------------------------------------------------------- batch probes


def _chunk_ranges(qids: "list[int]",
                  max_queries: int) -> "list[tuple[int, int]]":
    return [(qids[i], qids[min(i + max_queries, len(qids)) - 1])
            for i in range(0, len(qids), max_queries)]


def _run_chunks(n: int, one, concurrency: int = 1) -> DataFrame:
    """Union of ``one(i)`` over the chunks ``0..n-1`` — each call
    executes one broadcast-bounded chunk and returns its MATERIALIZED
    ≤ k rows/query result, so no job ever broadcasts more than one
    chunk's queries; the union is over already-computed small frames.
    Per-qid results are independent, so chunked ≡ unchunked
    row-for-row.

    ``concurrency``: chunks are submitted from a BOUNDED driver
    thread pool instead of strictly serially — a serial loop idles
    the cluster between each chunk's tail and the next chunk's
    ramp-up; Spark's scheduler interleaves the concurrent jobs'
    tasks, restoring full-width occupancy while the per-JOB broadcast
    cap (the reason chunking exists) is untouched. The union order is
    fixed by chunk index, and per-qid results are single-chunk, so
    results are deterministic and identical to the serial loop
    (test-pinned); ``concurrency=1`` is strict serial submission."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    if concurrency <= 1:
        parts = [one(i) for i in range(n)]
    else:
        with ThreadPoolExecutor(max_workers=min(concurrency, n)) as pool:
            parts = list(pool.map(one, range(n)))
    return reduce(DataFrame.unionByName, parts)


def _batch_score(cand: DataFrame, storage: str, key: str) -> DataFrame:
    """(qid, vec_id, cosine, key) exact per-pair scores over a
    fanned-out candidate frame carrying (qid, vec_id, key, qci, qsq,
    code|embedding) — the batch form of :func:`_scores`."""
    scored, cosine = exact_cosine(cand, "qci", "qsq", storage)
    return scored.select("qid", "vec_id", cosine.alias("cosine"), key)


def _batch_tail(scored: DataFrame, dq: DataFrame, k: int,
                rerank_vectors: DataFrame | None, rerank_cut: int,
                storage: str, key: str, dedup: bool) -> DataFrame:
    """Per-qid top-k window over exact scored pairs, with the optional
    int8 exact-rerank of each query's ``rerank_cut``·k code slice
    (``dq`` is the decoded (qid, qci, qsq) query frame the rerank
    join needs). ``dedup``: collapse multi-table duplicate candidates
    per (qid, vec_id) first."""
    from pyspark.sql import Window

    if dedup:
        scored = _dedup_tables(scored, key, per_qid=True)
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    if storage == "int8" and rerank_vectors is not None:
        top = (scored.withColumn("rn", F.row_number().over(wk))
               .filter(F.col("rn") <= rerank_cut * k).drop("rn"))
        fetch = (rerank_vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"))
            .join(F.broadcast(top.select("qid", "vec_id", key)),
                  "vec_id")
            .join(F.broadcast(dq), "qid"))
        scored = _batch_score(fetch, "float", key)
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k).drop("rn"))


def batch_topk(spark: SparkSession, root: str, router: Router,
               queries: DataFrame, k: int, id_col: str, vec_col: str,
               exclude_self: bool, max_queries_per_job: int | None,
               rerank_vectors: DataFrame | None, rerank_cut: int,
               early_exit: bool, chunk_concurrency: int,
               **probe) -> DataFrame:
    """Top-k cosine for MANY queries in ONE job — the eval/serving
    shape: a driver loop issues one small job per query (right for
    tens), but grading or serving thousands wants a single
    distributed plan. Per query the result rows equal
    :func:`incremental_topk`'s (same exact routing executor-side,
    same scoring and tie order; test-pinned). Plan shape:

    1. the router's (qid, query vector, key, is_seed) probe pairs,
       computed ONCE (one job, one checkpoint);
    2. the scan keeps STATIC directory pruning: the probed keys'
       union is collected and becomes a literal ``key IN (...)``;
    3. pruned postings ⋈ the broadcast pairs fan each posting row out
       to ONLY the queries probing its key, the exact cosine scores,
       and a per-qid window keeps k — one shuffle of the candidate
       rows by qid.

    Returns (qid, vec_id, cosine, key). ``exclude_self`` drops
    ``vec_id == qid`` matches (self-neighborhood grading). ``root``
    may be a pointer/handle like the single-query probe.

    The pairs are BROADCAST — right for the thousands-of-queries
    shape, but a million-query batch would blow the broadcast limit:
    ``max_queries_per_job`` degrades the batch
    into a deterministic loop of broadcast-bounded jobs over sorted
    qid ranges (:func:`_run_chunks`). The chunk ranges and every
    chunk's literal key list come from two small driver collects —
    the distinct qids, then the distinct (chunk, key) pairs — so the
    driver never holds the Q × fan-out pairs and the chunks run no
    control-plane job of their own; each chunk broadcasts only its
    own queries' pairs. ``chunk_concurrency=N`` overlaps up to N
    chunks from a bounded driver pool (measured 2.6× wall at
    sf1/128 queries) at the cost of N coexisting broadcasts and
    checkpoints — N× the peak memory the cap exists to bound, so the
    default is 1: strict serial.

    ``early_exit=True``: per-QUERY posting-list pruning from the
    direction-box stats — each query's non-seed probe keys drop when
    their box bound provably cannot reach that query's top-k
    (:func:`_batch_early`); rows identical (test-pinned)."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = load_meta(spark, root, router)
    state = router.check_meta(spark, root, meta, "query")
    key, storage = router.key, meta.get("storage", "float")
    dedup = _num_tables(meta) > 1
    checked = _checked_dim("embedding", meta["dim"],
                           f"{router.family}_batch_topk")
    q = (queries.select(F.col(id_col).cast("bigint").alias("qid"),
                        F.col(vec_col).alias("embedding"))
         .withColumn("qci", _fixed_point(checked))
         .withColumn("qsq", F.expr(_dot_sql("qci", "qci"))))
    # the pairs carry each query's vector, so a fan-out broadcasts
    # ONE frame: its (chunk's) pairs
    pairs, fan = router.batch_pairs(state, meta, q, **probe)
    probe_all = pairs.localCheckpoint()
    dq = q.select("qid", "qci", "qsq")   # the int8 rerank's join side
    stats = _early_exit_stats(spark, root, storage, early_exit, fan)

    def keys_of(p):
        # driver-sized collect: the literal key IN-list that buys
        # directory pruning, batch-count-independent
        return sorted({int(r[0]) for r in
                       p.select(key).distinct().collect()})

    def fanout(p, keys):
        # parallelism=None: the fan-out's scoring work is ~Q× per
        # scanned byte, so the single-probe bytes bound would
        # under-parallelize it (corpus._visible_scan_keys notes)
        c = (read_index(spark, root, router, keys, parallelism=None)
             .join(F.broadcast(p), key))
        return (c.filter(F.col("vec_id") != F.col("qid"))
                if exclude_self else c)

    def run(pa, dqc, keys):
        if stats is not None:
            return _batch_early(
                spark, stats, pa, dqc, keys, k, rerank_vectors,
                rerank_cut, storage, key, dedup, keys_of, fanout,
                excluded=1 if exclude_self else 0)
        return _batch_tail(
            _batch_score(fanout(pa.drop("is_seed"), keys), storage, key),
            dqc, k, rerank_vectors, rerank_cut, storage, key, dedup)

    if max_queries_per_job:
        # one seed pair per query: the distinct qids without a shuffle
        qids = sorted({int(r.qid) for r in
                       probe_all.filter("is_seed").select("qid").collect()})
        if len(qids) > max_queries_per_job:
            ranges = _chunk_ranges(qids, max_queries_per_job)
            # chunk index of a qid = how many chunk upper bounds lie
            # below it: one grouped (chunk, key) collect then gives
            # every chunk's IN-list
            his = ", ".join(f"{hi}L" for _, hi in ranges[:-1])
            chunk = F.expr(f"size(filter(array({his}), h -> h < qid))")
            chunk_keys: dict = {}
            for r in (probe_all.select(chunk.alias("_chunk"), key)
                      .distinct().collect()):
                chunk_keys.setdefault(int(r[0]), []).append(int(r[1]))

            def one(i):
                within = F.col("qid").between(*ranges[i])
                return run(probe_all.filter(within), dq.filter(within),
                           sorted(chunk_keys[i])).localCheckpoint()
            return _run_chunks(len(ranges), one, chunk_concurrency)
        # cap not exceeded: the single-job path, pairs already built
    return run(probe_all, dq, keys_of(probe_all))


def _batch_early(spark, stats, probe_all, dq, all_keys, k,
                 rerank_vectors, rerank_cut, storage, key, dedup,
                 keys_of, fanout, excluded=0):
    """The batch-probe early exit — per-QUERY pruning, fully
    distributed: each query's threshold is its seed key's box LOWER
    bound (cellstats.lower_bound_col), gated on that box's ``nz``
    nonzero count ≥ m — derived entirely from broadcast-joined
    probe-frame-sized frames, NO seed scan, NO materialization
    barrier: the plan stays the plain batch probe's single fan-out
    with a (possibly) smaller surviving-pairs broadcast and IN-list,
    so early exit never costs wall. A non-seed (qid, key) pair drops
    when the key's box upper bound against THAT query
    (cellstats.upper_bound_col) is below the query's floor: every
    row it would fan out scores below m rows the query already has.

    Per-qid results equal the plain batch probe row-for-row
    (test-pinned) — the same soundness argument as the single-query
    :func:`cellstats.early_exit_scored`. ``all_keys``: the probe
    frame's key union (bounds the boxes read)."""
    from .cellstats import (bounds_frame, lower_bound_col,
                            upper_bound_col)

    m = _cut(storage, k, rerank_vectors, rerank_cut)
    bf = bounds_frame(spark, stats, key, all_keys)
    p1 = probe_all.filter(F.col("is_seed")).drop("is_seed")
    qci, qsq = F.col("qci"), F.col("qsq")
    # nz >= m + excluded (r14 ADVICE high): exclude_self removes at
    # most one stored row per query — a row nz counts but the scan
    # never scores; with nz == m exactly, only m-1 rows witness the
    # floor, so the gate demands one extra witness whenever an
    # exclusion is active (cellstats.box_prune_keys is the
    # single-query form).
    lq = (p1.join(F.broadcast(bf), key, "left")
          .select("qid",
                  F.when(F.col("nz") >= m + excluded,
                         lower_bound_col(qci, qsq)).alias("_L"))
          .filter(F.col("_L").isNotNull()))
    rest = probe_all.filter(~F.col("is_seed")).drop("is_seed")
    survivors = (rest.join(F.broadcast(bf), key, "left")
                 .join(F.broadcast(lq), "qid", "left")
                 .withColumn("_ub", upper_bound_col(qci, qsq))
                 .filter(F.col("_L").isNull()
                         | F.col("dmin").isNull()
                         | (F.col("_ub") >= F.col("_L")))
                 .select(*p1.columns))
    pairs = p1.unionByName(survivors)
    scored = _batch_score(fanout(pairs, keys_of(pairs)), storage, key)
    return _batch_tail(scored, dq, k, rerank_vectors, rerank_cut,
                       storage, key, dedup)


# -------------------------------------------------------- maintenance


def _size_aware_writer(rows: DataFrame, part_col: str,
                       n_files_per_part: int,
                       rows_per_file: int | None):
    """The partitioned-table write strategy of compaction: fixed
    ``n_files_per_part`` (the default), or — with ``rows_per_file``
    — each partition value salted into ``ceil(rows/target)`` shuffle
    keys so a hot key's rewrite parallelizes (the per-value counts
    table is bounded by the key domain — broadcast), with
    ``maxRecordsPerFile`` enforcing the exact per-file cap even where
    two salts hash to the same task."""
    if rows_per_file is None:
        return rows.repartition(n_files_per_part,
                                F.col(part_col)).write
    counts = rows.groupBy(part_col).agg(F.count("*").alias("_n"))
    salted = (rows.join(F.broadcast(counts), part_col)
              .withColumn("_file", F.pmod(
                  F.hash("vec_id"),
                  F.greatest(F.lit(1),
                             F.ceil(F.col("_n") / rows_per_file))
                  .cast("int"))))
    return (salted.repartition(F.col(part_col), F.col("_file"))
            .drop("_n", "_file")
            .write.option("maxRecordsPerFile", rows_per_file))


def compact_batches(spark: SparkSession, root: str,
                    batch_ids: list[str] | None = None,
                    n_files_per_key: int = 1,
                    rows_per_file: int | None = None,
                    router: "Router | None" = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch —
    the small-files relief for the per-batch key fan-out. Same
    manifest-supersession commit as corpus compaction: the rewrite is
    invisible until its manifest (carrying the transitive
    ``replaces``) lands; superseded partitions are pruned after;
    crash anywhere leaves only invisible garbage.

    SIZE-AWARE mode (``rows_per_file``): skewed data piles rows into
    a few cells or buckets — a hot key is salted into
    ``ceil(rows/target)`` write tasks with ``maxRecordsPerFile``
    capping every output file, so file sizes stay balanced however
    skewed the occupancy (the fsck's occupancy canary says when it's
    needed). Compaction is also the direction-box RE-TIGHTENING pass
    (plans/cellstats)."""
    router = router or router_of(load_meta(spark, root).get("kind"))
    with corpus_writer_lock(spark, root,
                            op=f"{router.family}_compact") as lease:
        return _compact_batches(spark, root, router, batch_ids,
                                n_files_per_key, lease, rows_per_file)


def _compact_batches(spark, root, router, batch_ids, n_files_per_key,
                     lease, rows_per_file):
    meta = load_meta(spark, root, router)
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = [b for b in ms if b not in gone]
    ids = sorted(batch_ids) if batch_ids is not None else sorted(live)
    unknown = [b for b in ids if b not in live]
    if unknown:
        raise ValueError(f"cannot compact non-live batches {unknown}")
    if not ids:
        raise ValueError("nothing to compact: no live batches")

    cid = _next_seq_id(ms, "compact")
    path = f"{root}/{router.table}"
    delete_path(spark, f"{path}/batch_id={cid}")
    if path_exists(spark, path):
        # input pinned with a localCheckpoint before the same-table
        # append starts (the corpus compaction discipline, ADVICE r7)
        rows = (spark.read.schema(schema_of(router, meta))
                .parquet(path)
                .filter(F.col("batch_id").isin(ids))
                .withColumn("batch_id", F.lit(cid))
                .localCheckpoint())
        (_size_aware_writer(rows, router.key, n_files_per_key,
                            rows_per_file)
         .mode("append").partitionBy("batch_id", router.key)
         .parquet(path))

    replaces = sorted(set(ids) | {r for b in ids
                                  for r in ms[b].get("replaces", ())})
    manifest = {
        "batch_id": cid, "replaces": replaces,
        **{k: sum(ms[b].get(k, 0) for b in ids)
           for k in ("n_input", "n_id_dupes", "n_admitted")},
    }
    if router.source_field:
        sources = {ms[b].get(router.source_field) for b in ids}
        manifest[router.source_field] = (sources.pop()
                                         if len(sources) == 1
                                         else "mixed")
    if rows_per_file is not None:
        # size-aware compactions RECORD their target: the advisory's
        # compact_hot suppression reads it (advisory._hot_suppressed)
        # so a just-split hot partition is not re-advised forever
        manifest["rows_per_file"] = rows_per_file
    from .corpus import _union_provenance
    prov = _union_provenance(ms, ids)
    if prov is not None:   # lineage survives compaction
        manifest["corpus_batch"] = prov
    lease.fence()
    write_text_atomic(spark, _manifest_path(root, cid),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, cid: manifest})

    from .corpus import _prune_superseded
    _prune_superseded(spark, root, tables=(router.table,), lease=lease)
    # recompute the early-exit boxes exactly from the live rows just
    # rewritten (also upgrades legacy pre-stats roots)
    from .cellstats import recompute_stats
    recompute_stats(spark, root, read_index(spark, root, router),
                    router.key, meta.get("storage", "float"),
                    meta["dim"])
    return cid


def delete_vectors(spark: SparkSession, root: str,
                   vec_ids: "list[int] | DataFrame",
                   n_files_per_key: int = 1,
                   release_conflicting_pins: bool = False,
                   _crash_after: str | None = None,
                   router: "Router | None" = None) -> str:
    """ROW-LEVEL vector takedown — what :func:`delete_batch` cannot
    do once batches are compacted, and the index-side analog of
    ``plans/corpus.delete_documents`` (a corpus takedown's embedding
    must leave the index too; ``verify_linked`` names the orphan
    until this runs). Filter-and-rewrite of ONLY the affected batches
    under a fresh ``retain-N`` batch, committed by
    manifest-supersession:

    1. Locate the live batches holding any target vec_id (one
       semi-join over the visible scan).
    2. Rewrite those batches' SURVIVING rows under ``retain-N`` —
       keys ride along unchanged (the partition column is stored per
       row), so nothing is re-routed and placement invariants hold by
       construction.
    3. The ``retain-N`` manifest lands LAST with transitive
       ``replaces`` plus an ``n_deleted`` audit field; superseded
       partitions are pruned after; a crash before the manifest
       leaves only an invisible partition that the re-minted same-id
       retry sweeps first.

    Deleted ids are RE-ADMITTABLE through the id-dedup gate. The
    retain manifest carries no provided/assigned key source (its
    rows may mix lineages), so the fsck treats it as provided.
    Unaffected batches are never rewritten: cost is proportional to
    the batches touched, never the index. ``vec_ids`` is a Python
    list (takedown-notice convenience) or a one-column DataFrame of
    ids (the at-scale shape — joined, never expanded into an
    IN-list). Returns the new batch id. Takes the writer lease."""
    router = router or router_of(load_meta(spark, root).get("kind"))
    with corpus_writer_lock(spark, root,
                            op=f"{router.family}_retain") as lease:
        return _retain_vectors(spark, root, router, vec_ids,
                               n_files_per_key, lease, _crash_after,
                               release_conflicting_pins)


def _retain_vectors(spark, root, router, vec_ids, n_files_per_key,
                    lease, _crash_after, release_conflicting_pins):
    from .corpus import _prune_superseded

    meta = load_meta(spark, root, router)
    table, schema = router.table, schema_of(router, meta)
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = sorted(b for b in ms if b not in gone)
    if not live:
        raise ValueError(f"no committed batches under {root}")

    if isinstance(vec_ids, DataFrame):
        first = vec_ids.columns[0]
        targets = (vec_ids.select(F.col(first).cast("bigint")
                                  .alias("vec_id")).distinct())
        label = f"<DataFrame {first}>"
    else:
        targets = spark.createDataFrame(
            [(int(i),) for i in vec_ids], "vec_id LONG")
        label = repr(list(vec_ids))

    path = f"{root}/{table}"
    ix = (_visible_scan(spark, path, live, schema)
          if path_exists(spark, path)
          else empty_frame(spark, schema))
    affected = sorted(
        r.batch_id for r in
        ix.join(targets, "vec_id", "left_semi")
        .select("batch_id").distinct().collect())
    if not affected:
        raise ValueError(
            f"no live batch contains any of vec_ids {label}")

    # a pin covering an affected batch — or anything it transitively
    # replaced, whose pinned files still hold the rows — would keep
    # the deleted embeddings readable (GC honors pins): same
    # takedown-wins policy and closure as corpus._delete_documents
    from .snapshots import PinConflictError, _pin_path, list_pins
    closure = set(affected) | {r for b in affected
                               for r in ms[b].get("replaces", ())}
    conflicting = sorted(
        d for d, p in list_pins(spark, root).items()
        if set(p["batches"]) & closure)
    if conflicting and not release_conflicting_pins:
        raise PinConflictError(
            f"pins {conflicting} cover batches affected by this "
            f"vector takedown and would keep the deleted "
            f"embeddings readable (snapshots.read_pinned_table). "
            f"Release them or pass release_conflicting_pins=True.")
    # conflict DETECTED here (before the expensive rewrite), but the
    # pin files are deleted only AFTER the fenced manifest PUT
    # (ADVICE r9): a crash anywhere before the PUT leaves every hold
    # intact — the takedown never landed and will be retried — while
    # a crash between the PUT and the sweep heals at the next prune,
    # which honors the committed manifest's released_pins as the
    # staged release intent. No new pin can land meanwhile: we hold
    # the writer lease pin_snapshot also takes.
    released: list[str] = list(conflicting)

    cid = _next_seq_id(ms, "retain")
    delete_path(spark, f"{path}/batch_id={cid}")
    surv = (ix.filter(F.col("batch_id").isin(affected))
            .join(targets, "vec_id", "left_anti")
            .withColumn("batch_id", F.lit(cid))
            .localCheckpoint())
    n_before = sum(ms[b].get("n_admitted", 0) for b in affected)
    # manifests count VECTORS (the fsck's ledger multiplies by the
    # tables of a multi-table root)
    n_after = (surv.select("vec_id").distinct().count()
               if _num_tables(meta) > 1 else surv.count())
    if n_after:
        (surv.repartition(n_files_per_key, F.col(router.key))
         .write.mode("append").partitionBy("batch_id", router.key)
         .parquet(path))
    if _crash_after == table:
        raise RuntimeError(
            f"injected crash after {table} rewrite (batch {cid})")

    replaces = sorted(set(affected) | {r for b in affected
                                       for r in ms[b].get("replaces",
                                                          ())})
    manifest = {"batch_id": cid, "replaces": replaces,
                "n_deleted": n_before - n_after,
                "n_admitted": n_after}
    if released:
        manifest["released_pins"] = released   # takedown audit trail
    lease.fence()
    write_text_atomic(spark, _manifest_path(root, cid),
                      json.dumps(manifest, sort_keys=True))
    if _crash_after == "manifest":
        raise RuntimeError(
            f"injected crash after manifest PUT (batch {cid})")
    # pins swept only AFTER the manifest landed: a crash mid-rewrite
    # leaves every hold intact (the takedown never happened), and a
    # crash between the PUT and this sweep heals at the next prune —
    # _prune_superseded honors committed released_pins as the staged
    # release intent (ADVICE r9 crash-window, both directions)
    for d in released:   # takedown wins over EVERY holder
        delete_path(spark, _pin_path(root, d))
    _write_snapshot(spark, root, {**ms, cid: manifest})
    _prune_superseded(spark, root, tables=(table,), lease=lease)
    return cid


# ---------------------------------------------------------------- fsck


def verify(spark: SparkSession, root: str,
           router: "Router | None" = None) -> dict:
    """Consistency fsck of an incremental vector index — the
    similarity-side analog of plans/corpus.verify_corpus.
    Invariants:

    - **routing identity**: the meta validates (IVF: the stored
      centroid table matches the frozen digest);
    - **ledger**: every live batch holds exactly its manifest's
      ``n_admitted`` vectors × rows per vector (a missing data
      directory under live manifests is a per-batch violation, never
      a silent skip);
    - **uniqueness**: every ``vec_id`` appears in exactly one live
      row per table (the id-dedup admission guarantee);
    - **routing**: the router's own re-derivation of each stored
      row's key (:meth:`Router.expected_keys` — IVF membership and
      placement, LSH bucketing), independent of the ingest path;
    - **cellstats**: the early-exit direction boxes COVER every live
      row (plans/cellstats — a row outside its box could be wrongly
      pruned at probe time);
    - **orphans**: unmanifested/superseded partitions still on disk
      (snapshot-pinned ones are reported as held, not garbage).

    The report also carries the OCCUPANCY canary (max / median / mean
    rows per occupied key and the hottest key): a drifting embedding
    distribution piling into few keys is visible before probe latency
    shows it; size-aware compaction and ``migration.migrate_index``
    are the responses. One aggregate scan each; nothing collected
    row-wise."""
    import statistics

    from ..fs import dir_bytes, list_dir

    meta = load_meta(spark, root, router)
    router = router or router_of(meta.get("kind"))
    key, storage = router.key, meta.get("storage", "float")
    violations: list[str] = []
    try:
        state = router.check_meta(spark, root, meta, "fsck")
    except ValueError as e:
        violations.append(f"{router.identity}: {e}")
        state = None

    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = sorted(b for b in ms if b not in gone)
    path = f"{root}/{router.table}"
    ix = (_visible_scan(spark, path, live, schema_of(router, meta))
          if live and path_exists(spark, path) else None)
    nt = _num_tables(meta)
    occupancy: dict = {f"n_{key}s_occupied": 0, "max": 0,
                       "median": 0, "mean": 0.0, f"hottest_{key}": None}
    check = cellstats_check = "skipped: no live data"
    # a missing table under live manifests is a per-batch ledger
    # violation, never a silent skip
    per_batch = ({r.batch_id: r.n for r in
                  ix.groupBy("batch_id")
                  .agg(F.count("*").alias("n")).collect()}
                 if ix is not None else {})
    n_rows = sum(per_batch.values())
    for bid in live:
        # manifests count VECTORS; a multi-table root stores one row
        # per vector per table
        want = ms[bid].get("n_admitted", 0) * nt
        got = per_batch.get(bid, 0)
        if want != got:
            violations.append(
                f"ledger: batch {bid} has {got} rows, "
                f"manifest says {want}"
                + (f" ({ms[bid].get('n_admitted', 0)} vectors × "
                   f"{nt} tables)" if nt > 1 else "")
                + (f" — {path} is missing" if ix is None else ""))
    if ix is not None:
        # exactly one row per vector per table — a multi-table vector
        # missing from some table (or doubled in one) is as broken as
        # a duplicate single-table id
        n_dupes = (ix.groupBy("vec_id")
                   .agg(F.count("*").alias("n"))
                   .filter(F.col("n") != nt).count())
        if n_dupes:
            violations.append(
                f"uniqueness: {n_dupes} vec_ids do not appear in "
                f"exactly {nt} live index row(s)"
                + (" (one per table)" if nt > 1 else ""))
        per_key = {int(r[key]): int(r.n) for r in
                   ix.groupBy(key)
                   .agg(F.count("*").alias("n")).collect()
                   if r[key] is not None}
        if per_key:
            occ = sorted(per_key.values())
            occupancy = {
                f"n_{key}s_occupied": len(occ),
                "max": occ[-1],
                "median": statistics.median(occ),
                "mean": round(sum(occ) / len(occ), 2),
                f"hottest_{key}": max(per_key, key=per_key.get)}
        if state is None:
            check = f"skipped: no valid {router.identity}"
        else:
            check, routed = router.expected_keys(
                spark, state, meta, ix, {b: ms[b] for b in live})
            violations += routed
        from .cellstats import verify_stats
        cellstats_check, cs_viol = verify_stats(
            spark, root, ix, key, storage, meta["dim"])
        violations += cs_viol

    live_set = set(live)
    orphans = {
        child[len("batch_id="):]
        for child in list_dir(spark, path)
        if child.startswith("batch_id=")
        and child[len("batch_id="):] not in live_set}
    # snapshot-pinned batches are deliberately held, not sweepable
    # garbage — same split as corpus.verify_corpus
    from .snapshots import pinned_batches
    pinned = orphans & pinned_batches(spark, root)
    return {"live_batches": len(live), "index_rows": n_rows,
            f"{key}_occupancy": occupancy,
            "storage": storage,
            "cellstats_check": cellstats_check,
            router.check_name: check,
            "table_bytes": (dir_bytes(spark, path)
                            if path_exists(spark, path) else 0),
            "orphans": sorted(orphans - pinned),
            "pinned_held": sorted(pinned), "violations": violations}
