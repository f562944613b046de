"""INCREMENTALLY-MAINTAINED ANN index — the similarity-search analog
of the incremental corpus (plans/corpus.py): at 100 TB you cannot
rebuild the embedding index per delta, so vector batches append under
the same manifest-last commit protocol the corpus uses, and queries
see exactly the committed batches.

Reference parity: the reference rebuilds its whole search structure
per run (one-shot, like operators/similarity.write_ann_index); this
module is the production shape that one-shot form documents itself as
standing in for ("at 100 TB the bucket column becomes the partition
key of the stored index table").

Layout (one root per index):

- ``{root}/buckets/batch_id=B/bucket=N/`` — the vectors, Parquet
  partitioned by batch THEN LSH bucket, so a top-k probe prunes on
  ``bucket IN (J+1 probes)`` inside every committed batch (static
  directory pruning on the second partition level) while batch
  visibility stays the invisible-set complement on the first.
- ``{root}/_manifests/{batch_id}.json`` — written LAST: the commit.
  Same snapshot cache, same supersession compaction, same writer
  lease, same crash recovery ("run it again") as the corpus — all
  reused from plans/corpus, which is root-generic by construction.
- ``{root}/_meta.json`` — the bucketing identity (plane count, dim,
  planes digest), written by the FIRST ingest and validated by every
  later ingest and every query: two batches bucketed under different
  hyperplanes would silently cross-probe wrong buckets, the same
  drift class the one-shot index's sidecar guards against
  (operators/similarity._read_index_meta).

Scale notes: the per-delta data cost is one pure-map bucketing stage
plus the delta-sized write; the optional id-dedup gate anti-joins the
delta against a COLUMN-PRUNED scan of committed vec_ids (one bigint
column, never the vectors). Per-batch small-files debt (each batch
fans out over 2^J bucket directories) is exactly what
:func:`compact_ann_batches` folds away.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import delete_path, path_exists, read_text, write_text_atomic
from ..operators.similarity import (EMB_DIM, NUM_PLANES, TOP_K,
                                    _fixed_point, _planes_digest,
                                    lsh_buckets, query_bucket)
from ..queries.similarity import _dot_sql, _qdec, exact_cosine
from .corpus import (BatchAlreadyIngested, _load_manifests,
                     _manifest_path, _next_seq_id, _superseded,
                     _visible_scan, _write_snapshot, corpus_writer_lock)

ANN_TABLE = "buckets"
META_NAME = "_meta.json"


def _merge_manifest_extra(manifest: dict,
                          extra: dict | None) -> dict:
    """Fold caller metadata into a manifest about to commit —
    protocol keys (counts, identity, supersession, provenance) are
    refused so an extra can never alter visibility or ledger
    semantics. Shared by the LSH and IVF ingests."""
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


STORAGES = ("float", "int8")


def _ann_schema(dim: int, storage: str = "float") -> str:
    # Explicit schema: partition-column types included, and an index
    # whose committed batches are all empty has no footers to infer
    # from (same reasoning as corpus._read_index).
    if storage == "int8":
        from .codes import CODE_COLS
        return (f"vec_id BIGINT, {CODE_COLS}, "
                f"bucket INT, batch_id STRING")
    return ("vec_id BIGINT, embedding ARRAY<FLOAT>, "
            "bucket INT, batch_id STRING")


def _schema_of(meta: dict) -> str:
    return _ann_schema(meta["dim"], meta.get("storage", "float"))


def _meta_path(root: str) -> str:
    return f"{root}/{META_NAME}"


def _load_meta(spark: SparkSession, root: str) -> dict:
    from ..fs import read_json_doc
    doc = read_json_doc(spark, _meta_path(root))   # memoized (fs.py)
    if doc is None:
        raise ValueError(
            f"incremental ANN root {root} has no {META_NAME} — not an "
            f"initialized index (the first ann_ingest_delta creates it)")
    return dict(doc)   # shallow copy: the cached doc is shared


def _num_tables(meta: dict) -> int:
    """L, the hyperplane-table count (multi-table LSH, r13 VERDICT
    #3). Absent from every pre-r14 meta → 1: single-table roots are
    byte-identical to before."""
    return int(meta.get("num_tables", 1))


def _check_meta(meta: dict, num_planes: int, dim: int,
                root: str, what: str,
                num_tables: int | None = None) -> None:
    nt = _num_tables(meta)
    mismatches = {k: (meta.get(k), v) for k, v in (
        ("num_planes", num_planes), ("dim", dim),
        ("planes_digest", _planes_digest(num_planes, dim, nt)))
        if meta.get(k) != v}
    if num_tables is not None and num_tables != nt:
        mismatches["num_tables"] = (nt, num_tables)
    if mismatches:
        raise ValueError(
            f"incremental ANN index at {root} was built with different "
            f"parameters than this {what} (stored, given): {mismatches} "
            f"— proceeding would silently mix incompatible bucketings")


def committed_ann_batches(spark: SparkSession, root: str) -> list[str]:
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    return sorted(b for b in ms if b not in gone)


def read_ann_index(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row in the root's STORED layout
    (float: vec_id, embedding, bucket, batch_id; int8: vec_id, code,
    scale, bucket, batch_id) — visibility identical to the corpus
    reader: present ∩ committed via the invisible-set complement,
    directory-level. For a storage-independent (vec_id, embedding)
    view use :func:`ann_vectors`."""
    meta = _load_meta(spark, root)
    committed = committed_ann_batches(spark, root)
    path = f"{root}/{ANN_TABLE}"
    if not committed or not path_exists(spark, path):
        return spark.createDataFrame([], _schema_of(meta))
    return _visible_scan(spark, path, committed, _schema_of(meta))


def read_ann_buckets(spark: SparkSession, root: str,
                     buckets: "list[int]",
                     parallelism: "str | None" = "bytes") -> DataFrame:
    """:func:`read_ann_index` scoped to a driver-known probed bucket
    set — the PROBE reader (r15): only the
    ``batch_id=B/bucket=K`` leaf directories of the probe set are
    handed to the scan (corpus._visible_scan_keys), so a 36-bucket
    probe lists 36 × batches directories instead of the whole
    2^J·L × batches tree. Rows are identical to
    ``read_ann_index(...).filter(bucket IN buckets)``
    (parity-pinned). ``parallelism``: task-count bound of the
    pruned scan — ``"bytes"`` (default; single-query probes) tracks
    file bytes, ``None`` (batch fan-outs, whose per-byte scoring
    work is ~Q×) keeps Spark's splitting — see
    ``corpus._visible_scan_keys``."""
    from .corpus import _visible_scan_keys

    meta = _load_meta(spark, root)
    committed = committed_ann_batches(spark, root)
    path = f"{root}/{ANN_TABLE}"
    if not committed or not path_exists(spark, path):
        return spark.createDataFrame([], _schema_of(meta))
    return _visible_scan_keys(spark, path, committed,
                              _schema_of(meta), "bucket", buckets,
                              parallelism)


def ann_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) whatever the storage — int8 roots
    dequantize (plans/codes.dequant_embedding, lossy by exactly the
    sim5 reconstruction error); what recall grading and a
    cross-storage migration read. Multi-table roots return ONE copy
    per vector (the table-0 partition — ``bucket < 2^J`` is a
    static partition filter, not a dedup shuffle; every copy stores
    the same payload bytes)."""
    meta = _load_meta(spark, root)
    scan = read_ann_index(spark, root)
    if _num_tables(meta) > 1:
        scan = scan.filter(
            F.col("bucket") < (1 << meta["num_planes"]))
    if meta.get("storage", "float") == "int8":
        from .codes import dequant_embedding
        return scan.select(
            "vec_id",
            dequant_embedding(F.col("code"), F.col("scale"))
            .alias("embedding"))
    return scan.select("vec_id", "embedding")


def ann_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                     batch_id: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     num_planes: int = NUM_PLANES, dim: int = EMB_DIM,
                     dedup_ids: bool = True,
                     corpus_batch: "str | list[str] | None" = None,
                     _crash_after: str | None = None,
                     manifest_extra: dict | None = None,
                     storage: str | None = None,
                     num_tables: int | None = None) -> dict:
    """Append a vector delta under the manifest-last commit protocol.
    Returns the committed manifest (the ingest ledger row).
    ``manifest_extra`` merges caller metadata into the manifest
    (protocol keys refused) — e.g. a coalesced migration commit
    recording the old batches it folds.

    - First ingest initializes ``_meta.json`` (the bucketing
      identity); later ingests and queries validate against it.
    - ``num_tables=L`` (multi-table LSH — VERDICT r13 #3, the
      standard production answer to the single-hash recall ceiling):
      every vector is stored once per INDEPENDENT hyperplane table
      under composite partition key ``(t << J) | bucket_t`` — L×
      storage buys candidates OR-ed across L hash views, which is
      what lifts recall where one table's unlucky cuts lose
      neighbors. Probes stay literal-IN-pruned per table; every
      maintenance path (compaction, retention, fsck, pins,
      direction boxes) operates on the composite key unchanged.
      Manifest counts stay in VECTORS (rows = vectors × L — the
      fsck knows). Fixed at the first ingest like the plane count.
    - ``dedup_ids``: drop delta vectors whose ``vec_id`` is already
      committed (anti-join against the column-pruned id scan) — the
      at-scale idempotence for re-delivered upstream rows. Batch-level
      exactly-once is by manifest identity regardless.
    - ``corpus_batch``: PROVENANCE — the corpus batch these vectors
      embed, recorded in the manifest so the cross-root fsck
      (plans/linkage.verify_linked) can name vector batches whose
      source documents were never committed or were later removed.
    - Crash recovery is the corpus protocol verbatim: an unmanifested
      partition is swept on same-id retry, readers never see it, the
      manifest write IS the commit. ``_crash_after="buckets"`` is the
      test seam.
    """
    if batch_id.startswith(("compact-", "retain-")):
        raise ValueError(
            f"batch_id {batch_id!r} uses a reserved maintenance prefix")
    with corpus_writer_lock(spark, root,
                            op=f"ann_ingest:{batch_id}") as lease:
        return _ann_ingest_delta(spark, root, emb, batch_id, id_col,
                                 vec_col, num_planes, dim, dedup_ids,
                                 corpus_batch, _crash_after, lease,
                                 manifest_extra, storage, num_tables)


def _ann_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                      batch_id: str, id_col: str, vec_col: str,
                      num_planes: int, dim: int, dedup_ids: bool,
                      corpus_batch: "str | list[str] | None",
                      _crash_after: str | None,
                      lease=None,
                      manifest_extra: dict | None = None,
                      storage: str | None = None,
                      num_tables: int | None = None) -> dict:
    if storage is not None and storage not in STORAGES:
        raise ValueError(f"storage must be one of {STORAGES}, "
                         f"got {storage!r}")
    if num_tables is not None and num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    if path_exists(spark, _meta_path(root)):
        meta0 = _load_meta(spark, root)
        _check_meta(meta0, num_planes, dim, root, "ingest",
                    num_tables)
        nt = _num_tables(meta0)
        stored_storage = meta0.get("storage", "float")
        if storage is not None and storage != stored_storage:
            raise ValueError(
                f"incremental ANN index at {root} stores "
                f"{stored_storage!r} postings; an ingest requesting "
                f"{storage!r} would silently mix layouts")
        storage = stored_storage
    else:
        storage = storage or "float"
        nt = num_tables or 1
        meta_doc = {
            "kind": "ann_lsh_incremental", "num_planes": num_planes,
            "dim": dim, "storage": storage,
            "planes_digest": _planes_digest(num_planes, dim, nt),
        }
        if nt > 1:   # single-table metas stay byte-identical
            meta_doc["num_tables"] = nt
        write_text_atomic(spark, _meta_path(root),
                          json.dumps(meta_doc, sort_keys=True))

    ms = _load_manifests(spark, root)
    if batch_id in ms or batch_id in _superseded(ms):
        raise BatchAlreadyIngested(
            f"batch_id {batch_id!r} already ingested under {root} "
            f"(manifest {_manifest_path(root, batch_id)})")
    committed = sorted(b for b in ms if b not in _superseded(ms))
    delete_path(spark, f"{root}/{ANN_TABLE}/batch_id={batch_id}")

    cols = [F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<float>").alias("embedding")]
    if (storage == "int8" and "code" in emb.columns
            and "scale" in emb.columns):
        # codes arriving WITH the delta (an int8→int8 migration) are
        # stored verbatim — no double-quantization loss
        cols += [F.col("code").cast("array<tinyint>").alias("code"),
                 F.col("scale").cast("bigint").alias("scale")]
    delta = emb.select(*cols)
    n_input = delta.count()
    # path_exists guard: committed batches that all admitted zero
    # vectors (e.g. an empty first micro-batch) leave no buckets/
    # directory at all — the anti-join is then a no-op, not a crash
    # (same reasoning as read_ann_index / corpus._read_index).
    if (dedup_ids and committed
            and path_exists(spark, f"{root}/{ANN_TABLE}")):
        ids = _visible_scan(spark, f"{root}/{ANN_TABLE}", committed,
                            _ann_schema(dim, storage)).select("vec_id")
        delta = delta.join(ids, "vec_id", "left_anti")
    delta = delta.localCheckpoint()
    n_admitted = delta.count()

    tagged = (_attach_buckets(delta, num_planes, dim, nt)
              .withColumn("batch_id", F.lit(batch_id)))
    if storage == "int8":
        # bucketing above used the ORIGINAL embedding; only the
        # STORED columns compress (plans/codes module docstring)
        from .codes import attach_codes
        tagged = attach_codes(
            tagged, dim, f"ann_ingest_delta({batch_id})").select(
            "vec_id", "code", "scale", "bucket", "batch_id")
    if n_admitted:
        # repartition(bucket) so each bucket directory is written by
        # the tasks owning its rows — no tasks×buckets file blowup
        (tagged.repartition(F.col("bucket"))
         .write.mode("append").partitionBy("batch_id", "bucket")
         .parquet(f"{root}/{ANN_TABLE}"))
    if _crash_after == ANN_TABLE:
        raise RuntimeError(
            f"injected crash after {ANN_TABLE} write (batch {batch_id})")

    manifest = {"batch_id": batch_id, "n_input": n_input,
                "n_id_dupes": n_input - n_admitted,
                "n_admitted": n_admitted}
    if corpus_batch is not None:
        manifest["corpus_batch"] = corpus_batch
    manifest = _merge_manifest_extra(manifest, manifest_extra)
    if lease is not None:   # fence: no zombie commit after takeover
        lease.fence()
    # direction-box widening BEFORE the manifest commit, AFTER the
    # fence — crash leaves a sound superset box (plans/cellstats).
    # Bounds come from the `tagged` lineage over the CHECKPOINTED
    # delta: since the bucketing became an in-row map (r16,
    # _attach_buckets) re-executing it is one cheap fold over
    # checkpointed rows, while the former read-back of the
    # just-written partition re-listed and re-read the 2^J-way tiny
    # files every ingest (measured 0.96 → 0.36 s at sf0.1; at scale
    # it is a full delta re-read from storage). Values are identical
    # — deterministic maps over a pinned input, and the parquet
    # round-trip is lossless for float32/int8/bigint (verified
    # byte-equal) — so the box still covers every written row.
    if n_admitted:
        from .cellstats import widen_stats
        widen_stats(spark, root, tagged, "bucket", storage, dim)
    write_text_atomic(spark, _manifest_path(root, batch_id),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, batch_id: manifest})
    return manifest


def _run_chunks(qids: "list[int]", max_queries: int, one,
                concurrency: int = 1) -> DataFrame:
    """Run a chunked batch probe over DETERMINISTIC sorted qid
    ranges of ``max_queries`` (VERDICT r11 brief #6): ``one(bounds)``
    executes one broadcast-bounded chunk and returns its
    MATERIALIZED ≤ k rows/query result, so no job ever broadcasts
    more than ``max_queries`` queries; the union is over
    already-computed small frames. Per-qid results are independent,
    so chunked ≡ unchunked row-for-row. Shared by ``ann_batch_topk``
    and ``ivf_batch_topk``, which since r17 compute the per-query
    probe frame ONCE (one ranking job, one checkpoint) and hand each
    chunk a filtered slice of it — the former shape re-ran the
    ranking window, its checkpoint and the distinct-keys collect
    inside every chunk (guide §5: driver-side job elimination).

    ``concurrency`` (r12 brief #2): chunks are submitted from a
    BOUNDED driver thread pool instead of strictly serially — the
    r11 loop idled the cluster between each chunk's tail and the
    next chunk's ramp-up; Spark's scheduler interleaves the
    concurrent jobs' tasks, restoring full-width occupancy while
    the per-JOB broadcast cap (the reason chunking exists) is
    untouched. The union order is fixed by chunk index, and per-qid
    results are single-chunk, so results are deterministic and
    identical to the serial loop (test-pinned); ``concurrency=1``
    restores strict serial submission (e.g. under a memory-starved
    driver where even k·max_queries-row checkpoints should not
    coexist)."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    ranges = [(qids[i], qids[min(i + max_queries, len(qids)) - 1])
              for i in range(0, len(qids), max_queries)]
    if concurrency <= 1:
        parts = [one(b) for b in ranges]
    else:
        with ThreadPoolExecutor(
                max_workers=min(concurrency, len(ranges))) as pool:
            parts = list(pool.map(one, ranges))
    return reduce(DataFrame.unionByName, parts)


def _probe_set(b: int, num_planes: int, hamming: int) -> list[int]:
    """The query's probe buckets: every bucket within Hamming
    distance ≤ ``hamming`` of the query bucket — the LSH probe
    FAN-OUT knob. hamming=1 (the default everywhere) probes J+1 of
    2^J buckets; hamming=2 adds the J·(J-1)/2 two-bit flips. The
    recall/latency trade is measured, not guessed:
    plans/recall.measure_recall + tools/recall.py."""
    from itertools import combinations

    return [b ^ sum(1 << j for j in flips)
            for r in range(hamming + 1)
            for flips in combinations(range(num_planes), r)]


def multiprobe_set(query_vec: list, num_planes: int, dim: int,
                   n_buckets: int) -> list[int]:
    """MARGIN-RANKED probe sequence (VERDICT r12 brief #7 — the
    multi-probe LSH of Lv et al., VLDB'07): instead of the blind
    Hamming-ball fan-out (`_probe_set` — every 1-bit flip equally
    likely to help), rank candidate buckets by the query's own
    SIGNED-MARGIN distances: flipping plane j moves the probe across
    a boundary the query sits |margin_j| away from, so the cheapest
    flips (smallest Σ margin² over the flipped set) are the buckets
    most likely to hold near neighbors. Probing a BUDGET of the
    best-ranked buckets beats the Hamming ball at equal scan rows —
    measured per-round in RECALL_r{N}.json (tools/recall.py).

    Driver-side and exact: margins are the same integer plane dots
    ``query_bucket`` signs (operators/similarity.query_margins);
    scores are arbitrary-precision Σ margin² — deterministic, ties
    broken by flip mask (the heap path carries (score, mask, idxs)
    entries so equal-score flip sets pop in the SAME raw-mask order
    as the enumeration's (score, mask) sort — ADVICE r13). The
    first element is always the query's own bucket (empty flip set,
    score 0). For J ≤ 16 the 2^J flip sets are enumerated outright
    (≤ 65536 driver-side scores); larger J uses a best-first heap
    over margin-sorted flips (extend-last / replace-last — the
    classic Lv et al. generation, every subset reached exactly once
    in nondecreasing score order) without materializing 2^J
    candidates. Both live in :func:`_ranked_flips`, shared with the
    multi-table merged ranking (:func:`_mt_probe_list`)."""
    from ..operators.similarity import query_bucket

    b = query_bucket(query_vec, num_planes, dim)
    n_buckets = max(1, min(n_buckets, 1 << num_planes))
    return [b ^ mask for _, mask in
            _ranked_flips(query_vec, num_planes, dim, n_buckets)]


def _ranked_flips(query_vec: list, num_planes: int, dim: int,
                  limit: int, table: int = 0) -> "list[tuple]":
    """[(Σ margin², flip mask)] — the first ``limit`` flip sets of
    one table's hyperplanes in nondecreasing-score order, ties by
    raw mask (the :func:`multiprobe_set` ranking, factored out so
    multi-table probing can MERGE the per-table streams by score).
    Scores are exact arbitrary-precision integers."""
    from ..operators.similarity import query_margins

    m2 = [m * m for m in query_margins(query_vec, num_planes, dim,
                                       table)]
    if num_planes <= 16:
        ranked = sorted(range(1 << num_planes),
                        key=lambda mask: (
                            sum(m2[j] for j in range(num_planes)
                                if mask >> j & 1), mask))
        return [(sum(m2[j] for j in range(num_planes)
                     if mask >> j & 1), mask)
                for mask in ranked[:limit]]
    import heapq

    order = sorted(range(num_planes), key=lambda j: (m2[j], j))
    sm2 = [m2[j] for j in order]

    def mask_of(idxs):
        out = 0
        for i in idxs:
            out |= 1 << order[i]
        return out

    heap = [(sm2[0], mask_of((0,)), (0,))]
    got = [(0, 0)]
    seen = set()
    while heap and len(got) < limit:
        score, mask, idxs = heapq.heappop(heap)
        if idxs in seen:
            continue
        seen.add(idxs)
        got.append((score, mask))
        last = idxs[-1]
        if last + 1 < num_planes:
            nx = idxs[:-1] + (last + 1,)
            heapq.heappush(heap, (score - sm2[last] + sm2[last + 1],
                                  mask_of(nx), nx))
            ext = idxs + (last + 1,)
            heapq.heappush(heap, (score + sm2[last + 1],
                                  mask_of(ext), ext))
    return got


def _mt_probe_list(query_vec: list, meta: dict, hamming: int,
                   probe_buckets: int | None) -> list[int]:
    """The COMPOSITE probe-bucket list for a root of ``num_tables``
    hyperplane tables (multi-table LSH — VERDICT r13 #3): composite
    id ``(t << J) | bucket_t``, which is exactly the stored
    partition key, so the literal IN-list pruning is unchanged.

    - Hamming mode: each table's own bucket + its ≤h-flip ball,
      tables concatenated (table 0's own bucket FIRST — the
      early-exit seed).
    - ``probe_buckets=N`` budget mode: the per-table margin-ranked
      flip streams (:func:`_ranked_flips`) are MERGED by exact
      score (ties → lower table, lower mask), so the N probed
      buckets are globally the cheapest boundary crossings across
      ALL tables — all L own buckets (score 0) lead.

    A single-table root reproduces :func:`_probe_set` /
    :func:`multiprobe_set` exactly."""
    from ..operators.similarity import query_bucket

    num_planes, dim = meta["num_planes"], meta["dim"]
    nt = _num_tables(meta)
    if nt == 1:
        b = query_bucket(query_vec, num_planes, dim)
        return (multiprobe_set(query_vec, num_planes, dim,
                               probe_buckets)
                if probe_buckets is not None
                else _probe_set(b, num_planes, hamming))
    own = [query_bucket(query_vec, num_planes, dim, t)
           for t in range(nt)]
    if probe_buckets is None:
        return [(t << num_planes) | p
                for t in range(nt)
                for p in _probe_set(own[t], num_planes, hamming)]
    n = max(1, min(probe_buckets, nt << num_planes))
    import heapq

    merged = heapq.merge(*[
        [(s, t, mask) for s, mask in
         _ranked_flips(query_vec, num_planes, dim, n, t)]
        for t in range(nt)])
    out = []
    for _, t, mask in merged:
        out.append((t << num_planes) | (own[t] ^ mask))
        if len(out) >= n:
            break
    return out


def _mt_bucket_frame(emb: DataFrame, id_col: str, vec_col: str,
                     num_planes: int, dim: int,
                     num_tables: int) -> DataFrame:
    """(id, composite bucket) — ``num_tables`` rows per vector, one
    per hyperplane table, in ONE pass (the nano decode is shared;
    each table's signature folds over it; posexplode fans the L
    composite ids out row-side — no joins, no shuffle). L=1
    delegates to :func:`operators.similarity.lsh_buckets` verbatim."""
    from ..operators.similarity import (_check_id_col, _pack_bits_sql,
                                        _plane_signs, _fixed_point,
                                        _signed_sum_sql)

    if num_tables <= 1:
        return lsh_buckets(emb, id_col, vec_col, num_planes, dim)
    _check_id_col(id_col)
    ci = F.when(
        F.size(F.col(vec_col)) == dim, _fixed_point(vec_col)
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"multi-table bucketing: expected {dim}-dim embedding,"
              f" got "),
        F.size(F.col(vec_col)).cast("string"))))
    # SQL text + staged per-plane dot columns (see
    # operators.similarity._signed_sum_sql on why text and why the
    # dots are separate columns): table t's composite bucket packs
    # its J staged dots and adds the t<<J table prefix
    cols, per_table = [], []
    for t in range(num_tables):
        signs = _plane_signs(num_planes, dim, t)
        cols.extend(
            F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{t}_{j}")
            for j, row in enumerate(signs))
        per_table.append(
            f"({_pack_bits_sql(f'_d{t}_', num_planes)} "
            f"+ {t << num_planes}L)")
    arr = "array(" + ", ".join(per_table) + ")"
    return (emb.select(id_col, ci.alias("_ci"))
            .select(id_col, *cols)
            .select(id_col, F.explode(F.expr(arr)).alias("bucket")))


def _attach_buckets(delta: DataFrame, num_planes: int, dim: int,
                    num_tables: int) -> DataFrame:
    """``delta`` columns + composite ``bucket``, computed IN-ROW —
    the INGEST twin of :func:`_mt_bucket_frame`: the same staged
    SQL-text sign folds, but the payload columns ride through the
    staging selects and the L composite ids explode row-side, so no
    join ever re-attaches the payload. The former
    ``delta.join(_mt_bucket_frame(delta, ...), "vec_id")`` put one
    Exchange pair (or a broadcast build) into every ingest's write
    job purely to glue the bucket back onto rows it was derived
    from (guide §2.4: remove shuffles outright). Rows are identical:
    same signs, same pack, same L-way fan-out per vector."""
    from ..operators.similarity import (_pack_bits_sql, _plane_signs,
                                        _fixed_point, _signed_sum_sql)

    carry = delta.columns
    ci = F.when(
        F.size(F.col("embedding")) == dim,
        _fixed_point("embedding")
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"ann ingest bucketing: expected {dim}-dim embedding,"
              f" got "),
        F.size(F.col("embedding")).cast("string"))))
    cols, per_table = [], []
    for t in range(num_tables):
        signs = _plane_signs(num_planes, dim, t)
        cols.extend(
            F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{t}_{j}")
            for j, row in enumerate(signs))
        pack = _pack_bits_sql(f"_d{t}_", num_planes)
        per_table.append(f"({pack} + {t << num_planes}L)"
                         if t else pack)
    staged = (delta.select(*carry, ci.alias("_ci"))
              .select(*carry, *cols))
    if num_tables == 1:
        return staged.select(
            *carry, F.expr(per_table[0]).alias("bucket"))
    arr = "array(" + ", ".join(per_table) + ")"
    return staged.select(*carry,
                         F.explode(F.expr(arr)).alias("bucket"))


def _batch_multiprobe_pairs(q: DataFrame, num_planes: int, dim: int,
                            num_tables: int,
                            n_buckets: int) -> DataFrame:
    """(qid, bucket, m) probe pairs for the BATCH margin-ranked
    multi-probe (the executor-side :func:`_mt_probe_list` /
    :func:`multiprobe_set`): per query and table, the J signed plane
    dots are computed once (the same integer folds ``lsh_buckets``
    signs), every flip mask is generated executor-side
    (``sequence(0, 2^J−1)`` — no 2^J literals in the plan), scored
    ``Σ_{j∈mask} margin_j²`` in DECIMAL(38,0) — margins reach ~2^39,
    squares ~2^78: exact in 38 digits, so the executor ranking is
    BIT-IDENTICAL to the driver's arbitrary-precision integers —
    and a per-qid window keeps the ``n_buckets`` cheapest boundary
    crossings in the single-query order ((score, table, mask)).
    ``m`` is the global flip id ((t << J) | mask): m == 0 is
    table 0's own bucket, the early-exit seed. The frame is
    query-batch-sized (Q × 2^J rows pre-aggregate) — the broadcast
    contract the batch probes already assume; chunk via
    ``max_queries_per_job`` past that."""
    from ..operators.similarity import (_fixed_point, _plane_signs,
                                        _signed_sum_sql)

    if num_planes > 16:
        # the flip enumeration materializes 2^J rows per (query,
        # table) pre-window; past J=16 that is ≥65k rows/query —
        # the single-query path switches to the driver heap there,
        # the batch path refuses rather than silently exploding.
        raise ValueError(
            f"batch probe_buckets supports num_planes <= 16 "
            f"(got {num_planes}): the executor-side flip enumeration "
            f"is 2^J rows per query and table; use single-query "
            f"probes or a smaller J")
    n_buckets = max(1, min(n_buckets, num_tables << num_planes))
    ci = F.when(
        F.size(F.col("embedding")) == dim,
        _fixed_point("embedding")
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"batch multiprobe: expected {dim}-dim embedding, "
              f"got "),
        F.size(F.col("embedding")).cast("string"))))

    # per-table signed plane dots as SQL text over staged per-plane
    # columns (the Column-tree build cost thousands of py4j round
    # trips — ~5.6 s driver time per call at L=4, measured r15; and
    # one fused expression overflows janino's 64 KB method limit —
    # see operators.similarity._signed_sum_sql)
    cols, structs = [], []
    for t in range(num_tables):
        signs = _plane_signs(num_planes, dim, t)
        cols.extend(
            F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{t}_{j}")
            for j, row in enumerate(signs))
        darr = ", ".join(f"_d{t}_{j}" for j in range(num_planes))
        structs.append(f"struct({t} AS t, array({darr}) AS dots)")
    tb = "array(" + ", ".join(structs) + ")"
    per_t = (q.select("qid", ci.alias("_ci"))
             .select("qid", *cols)
             .select("qid", F.explode(F.expr(tb)).alias("tb"))
             .select("qid", F.col("tb.t").alias("t"),
                     F.col("tb.dots").alias("dots")))
    # own bucket from the SAME dots the margins come from
    own = None
    for j in range(num_planes):
        bit = F.when(F.element_at("dots", j + 1) > 0, F.lit(1)
                     .cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, j)
        own = term if own is None else own + term
    per_t = per_t.withColumn("own", own)
    masks = per_t.select(
        "qid", "t", "own", "dots",
        F.explode(F.sequence(
            F.lit(0), F.lit((1 << num_planes) - 1))).alias("mask"))
    # Σ_{j∈mask} margin_j² as a driver-side fold over the J plane
    # indices (J is a Python int; F.shiftright's numBits must be a
    # Python int, so a lambda-bound Column cannot index the bit —
    # `1 << j` below is a Python literal, same shape as the `own`
    # fold above). Terms stay DECIMAL so the executor ranking is
    # bit-identical to the driver's arbitrary-precision integers.
    score = F.lit(0).cast("decimal(38,0)")
    for j in range(num_planes):
        dj = F.element_at("dots", j + 1).cast("decimal(19,0)")
        score = score + F.when(
            F.col("mask").bitwiseAND(F.lit(1 << j)) != 0, dj * dj
        ).otherwise(F.lit(0).cast("decimal(38,0)"))
    score = score.cast("decimal(38,0)")
    # per-qid top-n_buckets as ONE aggregate (r17, VERDICT r16 #3;
    # guide §2.3 aggregate-before-shuffle): the former
    # row_number-over-window shape shuffled AND SORTED the full
    # Q×L×2^J mask frame to keep n_buckets rows per query; the
    # aggregate shuffles the same rows but replaces the global
    # per-partition sort + rank filter with one hash aggregate whose
    # per-group state is the collected mask structs — BOUNDED at
    # L·2^J ≤ L·65536 by the num_planes<=16 refusal above, so the
    # group never outgrows memory. array_sort's ascending struct
    # order IS the window's (score, t, mask) order (t, mask unique
    # per qid → `own` can never decide), so the kept set and its
    # order are bit-identical.
    ranked = (masks.withColumn("score", score)
              .groupBy("qid")
              .agg(F.slice(F.array_sort(F.collect_list(F.struct(
                  F.col("score").alias("s"), F.col("t"),
                  F.col("mask"), F.col("own")))),
                  1, n_buckets).alias("_top"))
              .select("qid", F.explode("_top").alias("_e"))
              .select("qid", F.col("_e.t").alias("t"),
                      F.col("_e.mask").alias("mask"),
                      F.col("_e.own").alias("own")))
    # cast t/mask to bigint BEFORE shifting (matches
    # _mt_bucket_frame's `t << J` bigint literal — int32 shifts
    # would wrap for large J·t composites)
    t64 = F.col("t").cast("bigint")
    m64 = F.col("mask").cast("bigint")
    return ranked.select(
        "qid",
        (F.shiftleft(t64, num_planes)
         + F.col("own").bitwiseXOR(m64)).alias("bucket"),
        (F.shiftleft(t64, num_planes) + m64).alias("m"))


def _dedup_tables(scored: DataFrame,
                  per_qid: bool = False) -> DataFrame:
    """Collapse a multi-table scored frame to one row per vector: a
    vector stored in L tables appears once per PROBED table, with
    the identical cosine (the stored payload is the same bytes), so
    duplicates would occupy several top-k slots. Keep the max
    cosine (they are equal; max is NULL-safe) and the lowest probed
    composite bucket (deterministic provenance).

    ``per_qid`` pre-partitions by qid ALONE (r17; guide §2.4): hash
    partitioning on qid satisfies the (qid, vec_id) aggregate's
    clustering AND the downstream per-qid top-k window's, so the
    dedup + window pipeline runs on ONE Exchange of the candidate
    set where the former groupBy(qid, vec_id) → window(qid) shape
    shuffled it twice. Rows identical — same aggregate, same keys."""
    if per_qid:
        return (scored.repartition(F.col("qid"))
                .groupBy("qid", "vec_id")
                .agg(F.max("cosine").alias("cosine"),
                     F.min("bucket").alias("bucket"))
                .select("qid", "vec_id", "cosine", "bucket"))
    return (scored.groupBy("vec_id")
            .agg(F.max("cosine").alias("cosine"),
                 F.min("bucket").alias("bucket"))
            .select("vec_id", "cosine", "bucket"))


def ann_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         exclude_id: int | None = None,
                         hamming: int = 1,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: "bool | str" = False,
                         probe_buckets: int | None = None
                         ) -> DataFrame:
    """Top-k cosine over the COMMITTED index: probe set (query bucket
    + Hamming-≤h neighbors, default h=1) computed driver-side, so the
    scan carries a literal ``bucket IN (...)`` — static pruning to a
    fixed fraction of 2^J bucket directories inside every committed
    batch; batch visibility adds at most a NOT IN over the (normally
    empty) invisible set. Scoring is the exact fixed-point cosine
    re-rank of the one-shot index
    (operators/similarity.ann_indexed_topk), so for equal committed
    content the two return identical rows. ``root`` may be a pointer
    file written by a migration cutover
    (plans/migration.set_index_pointer) — resolved transparently —
    or an :class:`migration.IndexPointerHandle` (cached resolution
    for high-QPS probe loops).

    ``early_exit=True`` (r12 brief #1; reshaped r14): skip probed
    buckets whose direction-box upper bound (plans/cellstats)
    provably cannot reach the top-k — rows identical by the bound's
    soundness (test-pinned). ``True``/``"box"`` uses the own
    bucket's box LOWER bound as a zero-job threshold (never slower
    than the plain probe, idle or busy); ``"seed"`` is the r13
    measured-threshold two-phase shape (maximal pruning; pays under
    constrained task slots, ~2× wall on an idle session) — the full
    cost model lives on ``ivf_incremental_topk``'s docstring.

    ``probe_buckets=N`` (r12 brief #7) replaces the Hamming-ball
    fan-out with the MARGIN-RANKED multi-probe sequence
    (:func:`multiprobe_set`): the N candidate buckets whose flipped
    planes the query sits nearest to — higher recall at the same
    scan budget (measured in RECALL_r{N}.json); scoring, literal
    pruning, and the early-exit knob are unchanged (the first probe
    is still the query's own bucket). Overrides ``hamming``."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    num_planes, dim = meta["num_planes"], meta["dim"]
    _check_meta(meta, num_planes, dim, root, "query")
    if len(query_vec) != dim:
        raise ValueError(
            f"expected {dim}-dim query vector, got {len(query_vec)}")

    nt = _num_tables(meta)
    probes = _mt_probe_list(query_vec, meta, hamming, probe_buckets)
    storage = meta.get("storage", "float")
    # probe reader (r15): the probe set is a driver literal list, so
    # the scan's file index covers ONLY those leaf dirs — the inner
    # bucket filters below (early-exit kept-sets, the plain IN) keep
    # their semantics within it
    scan = read_ann_buckets(spark, root, probes)
    from .cellstats import normalize_mode
    ee_mode = normalize_mode(early_exit)
    stats = None
    if ee_mode and len(probes) > 1:
        from .cellstats import load_stats, payload_column
        stats = load_stats(spark, root)
        if stats is not None and \
                stats["payload"] != payload_column(storage)[0]:
            stats = None   # fsck names this drift; probe stays exact
    if stats is not None:
        from .cellstats import early_exit_scored
        qci, qsq = _qdec(query_vec)
        m = (rerank_cut * k
             if storage == "int8" and rerank_vectors is not None
             else k)
        scored, _ = early_exit_scored(
            stats, scan, "bucket", probes, qci, qsq, m,
            lambda s: _ann_scores(s, qci, qsq, exclude_id, storage),
            mode=ee_mode,
            excluded=0 if exclude_id is None else 1)
        if nt > 1:   # one row per vector ACROSS the probed tables
            scored = _dedup_tables(scored)
        ranked = scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        if storage == "int8":
            return _ann_rerank_tail(ranked, query_vec, k,
                                    rerank_vectors, rerank_cut)
        return ranked.limit(k)
    scan = scan.filter(F.col("bucket").isin(probes))
    if storage == "int8":
        return _ann_code_topk(scan, query_vec, k, exclude_id,
                              rerank_vectors, rerank_cut,
                              dedup=nt > 1)
    return _cosine_rerank(scan, query_vec, k, exclude_id,
                          dedup=nt > 1)


def _ann_scores(scan: DataFrame, qci: list, qsq: float,
                exclude_id: int | None, storage: str) -> DataFrame:
    """UNSORTED exact scored rows (vec_id, cosine, bucket) of an
    already bucket-pruned scan — the LSH twin of
    ``ivf_index._ivf_scores`` over the same shared expression
    (``queries.similarity.exact_cosine``), factored out so the plain
    and the EARLY-EXIT probes rank literally the same values."""
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    scored, cosine = exact_cosine(scan, qci, qsq, storage)
    return scored.select("vec_id", cosine.alias("cosine"), "bucket")


def _ann_code_topk(scan: DataFrame, query_vec: list, k: int,
                   exclude_id: int | None,
                   rerank_vectors: DataFrame | None,
                   rerank_cut: int, dedup: bool = False) -> DataFrame:
    """Top-k over an already bucket-pruned int8 codes scan — the LSH
    twin of ``ivf_index._ivf_code_topk``: exact scale-free code
    cosine (plans/codes.code_cosine), then either the code-ranked
    top-k directly or an exact fixed-point rerank of a
    ``rerank_cut``·k candidate slice fetched (broadcast join) from
    the caller's float vector source. ``dedup``: collapse
    multi-table duplicate candidates first."""
    qci, qsq = _qdec(query_vec)
    scored = _ann_scores(scan, qci, qsq, exclude_id, "int8")
    if dedup:
        scored = _dedup_tables(scored)
    ranked = scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return _ann_rerank_tail(ranked, query_vec, k, rerank_vectors,
                            rerank_cut)


def _ann_rerank_tail(ranked: DataFrame, query_vec: list, k: int,
                     rerank_vectors: DataFrame | None,
                     rerank_cut: int) -> DataFrame:
    """The int8 probe tail over an already RANKED code-cosine frame
    (the LSH twin of ``ivf_index._code_rerank_tail``)."""
    if rerank_vectors is None:
        return ranked.limit(k)
    cand = ranked.limit(rerank_cut * k).select("vec_id", "bucket")
    fetch = (rerank_vectors.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"))
        .join(F.broadcast(cand), "vec_id"))
    return _cosine_rerank(fetch, query_vec, k, None)


def _ann_batch_score(cand: DataFrame, storage: str) -> DataFrame:
    """(qid, vec_id, cosine, bucket) exact per-pair scores over a
    fanned-out candidate frame carrying (qid, vec_id, bucket, qci,
    qsq, code|embedding) — the batch twin of :func:`_ann_scores`
    (``queries.similarity.exact_cosine``), shared by the plain and
    the early-exit batch probes."""
    scored, cosine = exact_cosine(cand, "qci", "qsq", storage)
    return scored.select("qid", "vec_id", cosine.alias("cosine"),
                         "bucket")


def _ann_batch_tail(scored: DataFrame, dec_q: DataFrame, k: int,
                    rerank_vectors: DataFrame | None,
                    rerank_cut: int, storage: str,
                    dedup: bool = False) -> DataFrame:
    """Per-qid top-k window, with the optional int8 exact-rerank of
    each query's ``rerank_cut``·k code slice — the LSH twin of
    ``ivf_index._ivf_batch_tail``. ``dedup``: collapse multi-table
    duplicate candidates per (qid, vec_id) first."""
    from pyspark.sql import Window

    if dedup:
        scored = _dedup_tables(scored, per_qid=True)
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    if storage == "int8" and rerank_vectors is not None:
        top = (scored.withColumn("rn", F.row_number().over(wk))
               .filter(F.col("rn") <= rerank_cut * k).drop("rn"))
        fetch = (rerank_vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"))
            .join(F.broadcast(top.select("qid", "vec_id", "bucket")),
                  "vec_id")
            .join(F.broadcast(dec_q), "qid"))
        scored = _ann_batch_score(fetch, "float")
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k).drop("rn"))


def ann_batch_topk(spark: SparkSession, root: str,
                   queries: DataFrame, k: int = TOP_K,
                   hamming: int = 1,
                   id_col: str = "qid", vec_col: str = "embedding",
                   exclude_self: bool = True,
                   max_queries_per_job: int | None = None,
                   rerank_vectors: DataFrame | None = None,
                   rerank_cut: int = 4,
                   early_exit: "bool | str" = False,
                   chunk_concurrency: int = 1,
                   probe_buckets: int | None = None) -> DataFrame:
    """Top-k cosine for MANY queries in ONE job — the LSH side of
    ``ivf_index.ivf_batch_topk`` (r11): per query the rows equal
    ``ann_incremental_topk``'s (same signatures via the shared
    ``lsh_buckets`` fold — executor-side here — the same Hamming-≤h
    probe expansion as literal XOR masks, the same fixed-point
    rerank and tie order; test-pinned). Plan shape:

    1. queries → buckets (one in-row fold), exploded against the
       ``_probe_set(0, J, h)`` mask literals → (qid, probe bucket);
    2. the scan keeps STATIC pruning: the probed buckets' union
       (≤ 2^J values) becomes a literal ``bucket IN (...)``;
    3. pruned buckets ⋈ broadcast (qid, bucket) pairs, rerank, one
       per-qid window keeps k.

    Returns (qid, vec_id, cosine, bucket). The (qid, bucket) probe
    frame and the decoded query table are BROADCAST — pass
    ``max_queries_per_job`` to degrade a too-big batch into a
    deterministic loop of broadcast-sized jobs (r11 brief #6 —
    :func:`_run_chunks`; chunked ≡ unchunked row-for-row).
    ``chunk_concurrency=N`` (r12 brief #2) submits up to N chunks
    concurrently from a bounded driver pool — measured 2.6× wall at
    sf1/128 queries — but N chunks' broadcasts and checkpointed
    results COEXIST, multiplying by N the peak driver/executor
    memory the chunking cap exists to bound; default 1 (strict
    serial) so setting the cap for memory reasons is never silently
    undone (ADVICE r13).

    ``early_exit=True`` (r12 brief #1; reshaped r14): per-QUERY
    posting-list pruning from the direction-box stats — each
    query's non-own probe buckets drop when their box bound
    provably cannot reach that query's top-k; rows identical
    (test-pinned), same two modes and shape as
    ``ivf_index._ivf_batch_early`` (``"box"`` = zero-job own-bucket
    floor, ``"seed"`` = measured threshold with a barrier).

    ``probe_buckets=N`` (r14 — the batch form of the single-query
    margin-ranked multi-probe): each query's N cheapest boundary
    crossings replace the Hamming ball, ranked EXECUTOR-side in
    exact DECIMAL(38,0) so per-query probe sets equal
    ``ann_incremental_topk(probe_buckets=N)``'s bit-for-bit
    (:func:`_batch_multiprobe_pairs`); the scan's literal IN-list
    becomes the union of the ranked buckets. Overrides ``hamming``;
    composes with multi-table roots (budget merged across tables)
    and with ``early_exit`` (table-0's own bucket stays the seed)."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    num_planes, dim = meta["num_planes"], meta["dim"]
    _check_meta(meta, num_planes, dim, root, "query")
    nt = _num_tables(meta)

    q = queries.select(
        F.col(id_col).cast("bigint").alias("qid"),
        F.col(vec_col).cast("array<float>").alias("embedding"))
    masks = _probe_set(0, num_planes, hamming)
    qb = _mt_bucket_frame(q, "qid", "embedding", num_planes, dim, nt)
    dec_q = q.select(
        "qid", _fixed_point("embedding").alias("qci")) \
        .withColumn("qsq", F.expr(_dot_sql("qci", "qci")))
    # probe pairs carry the flip mask: m == 0 IS the query's own
    # bucket — the early-exit seed (the single-query probes' first
    # probe key). Multi-table roots make m GLOBAL ((t << J) | mask):
    # m == 0 is then specifically TABLE 0's own bucket, the seed key
    # the single-query probes also lead with; other tables' own
    # buckets are prunable like any flip — sound, the bound is
    # per-bucket content.
    if probe_buckets is not None:
        probe_all = _batch_multiprobe_pairs(
            q, num_planes, dim, nt, probe_buckets).localCheckpoint()
    else:
        m_col = (F.col("m") if nt == 1
                 else F.col("m") + F.shiftleft(
                     F.shiftright(F.col("bucket"), num_planes),
                     num_planes))
        probe_all = (qb.select(
            "qid",
            F.explode(F.array(*[F.lit(int(m)) for m in masks]))
            .alias("m"), "bucket")
            .select("qid", F.col("bucket").bitwiseXOR(F.col("m"))
                    .alias("bucket"), m_col.alias("m"))
            .localCheckpoint())
    probe = probe_all.drop("m")

    storage = meta.get("storage", "float")
    from .cellstats import normalize_mode
    ee_mode = normalize_mode(early_exit)
    stats = None
    # gate on the EFFECTIVE per-query probe count (r14 ADVICE low):
    # a multi-table root fans nt buckets per query even at hamming=0,
    # so there is something to prune whenever masks × tables > 1
    if ee_mode and (len(masks) * nt > 1 if probe_buckets is None
                    else probe_buckets > 1):
        from .cellstats import load_stats, payload_column
        stats = load_stats(spark, root)
        if stats is not None and \
                stats["payload"] != payload_column(storage)[0]:
            stats = None   # fsck names this drift; probe stays exact
    def _fanout(pairs, buckets):
        # probe reader (r15): buckets are a driver list by the time
        # a fan-out is built — scope the scan's file index to them.
        # parallelism=None: the fan-out's scoring work is ~Q× per
        # scanned byte, so the single-probe bytes bound would
        # under-parallelize it (measured — _visible_scan_keys notes)
        c = (read_ann_buckets(spark, root, buckets, parallelism=None)
             .join(F.broadcast(pairs), "bucket")
             .join(F.broadcast(dec_q), "qid"))
        return (c.filter(F.col("vec_id") != F.col("qid"))
                if exclude_self else c)

    def _buckets_of(pairs):
        # static pruning: probed-bucket union ≤ 2^J values
        return sorted({int(r.bucket) for r in
                       pairs.select("bucket").distinct().collect()})

    if max_queries_per_job:
        # chunked path (r17 reshape, guide §5): the probe frame above
        # was computed ONCE for the whole batch — one bucketing/
        # ranking job, one checkpoint — and each chunk filters that
        # slice instead of re-deriving it (the former per-chunk
        # recursion re-ran the sign folds — for ``probe_buckets`` the
        # whole Q×L×2^J ranking window — plus a checkpoint and the
        # qid collect inside every chunk). The per-JOB broadcast cap
        # is untouched: only a chunk's filtered pairs and queries are
        # ever broadcast; the bucket IN-list per chunk comes from one
        # ≤ 2^J·L-row distinct collect over the checkpointed pairs.
        qids = sorted(int(r.qid) for r in
                      probe_all.select("qid").distinct().collect())
        if len(qids) > max_queries_per_job:
            def _one(bounds):
                lo, hi = bounds
                within = F.col("qid").between(lo, hi)
                pa = probe_all.filter(within)
                dq = dec_q.filter(within)
                buckets = _buckets_of(pa)
                if stats is not None:
                    part = _ann_batch_early(
                        spark, stats, pa, dq, k, rerank_vectors,
                        rerank_cut, storage, _fanout, _buckets_of,
                        ee_mode, dedup=nt > 1, num_planes=num_planes,
                        excluded=1 if exclude_self else 0,
                        all_buckets=buckets)
                else:
                    part = _ann_batch_tail(
                        _ann_batch_score(
                            _fanout(pa.drop("m"), buckets), storage),
                        dq, k, rerank_vectors, rerank_cut, storage,
                        dedup=nt > 1)
                return part.localCheckpoint()
            return _run_chunks(qids, max_queries_per_job, _one,
                               chunk_concurrency)
        # cap not exceeded: the single-job path below, probe frame
        # already built
    if stats is not None:
        return _ann_batch_early(spark, stats, probe_all, dec_q, k,
                                rerank_vectors, rerank_cut, storage,
                                _fanout, _buckets_of, ee_mode,
                                dedup=nt > 1, num_planes=num_planes,
                                excluded=1 if exclude_self else 0)
    scored = _ann_batch_score(_fanout(probe, _buckets_of(probe)),
                              storage)
    return _ann_batch_tail(scored, dec_q, k, rerank_vectors,
                           rerank_cut, storage, dedup=nt > 1)


def _ann_batch_early(spark, stats, probe_all, dec_q, k,
                     rerank_vectors, rerank_cut, storage, fanout,
                     buckets_of, mode="box", dedup=False,
                     num_planes=NUM_PLANES, excluded=0,
                     all_buckets=None):
    """The LSH batch early exit — structurally
    ``ivf_index._ivf_batch_early`` with (bucket, flip mask) in place
    of (cell, rank): the threshold key is each query's OWN bucket
    (mask 0). ``mode="box"`` derives per-query floors from the own
    bucket's box (zero-job, never slower); ``mode="seed"``
    materializes the own-bucket top-m and prunes against the
    measured m-th cosine. Soundness and the row-for-row parity pin
    are the same argument as the IVF twin. ``all_buckets``: the
    probe frame's bucket union when the caller already collected it
    (the chunked path) — skips one control-plane job."""
    from pyspark.sql import Window

    from .cellstats import (bounds_frame, lower_bound_col,
                            upper_bound_col)

    m = (rerank_cut * k
         if storage == "int8" and rerank_vectors is not None else k)
    if all_buckets is None:
        all_buckets = buckets_of(probe_all)
    if mode == "box":
        p1 = probe_all.filter(F.col("m") == 0).drop("m")
        bf = bounds_frame(spark, stats, "bucket", all_buckets)
        # nz >= m + excluded (r14 ADVICE high): exclude_self removes
        # at most one nz-counted row per query from scoring — demand
        # one extra box witness (see the IVF twin's note).
        lq = (p1.join(F.broadcast(dec_q), "qid")
              .join(F.broadcast(bf), "bucket", "left")
              .select("qid",
                      F.when(F.col("nz") >= m + excluded,
                             lower_bound_col(F.col("qci"),
                                             F.col("qsq")))
                      .alias("_L"))
              .filter(F.col("_L").isNotNull()))
        rest = probe_all.filter(F.col("m") != 0).drop("m")
        survivors = (rest.join(F.broadcast(dec_q), "qid")
                     .join(F.broadcast(bf), "bucket", "left")
                     .join(F.broadcast(lq), "qid", "left")
                     .withColumn("_ub",
                                 upper_bound_col(F.col("qci"),
                                                 F.col("qsq")))
                     .filter(F.col("_L").isNull()
                             | F.col("dmin").isNull()
                             | (F.col("_ub") >= F.col("_L")))
                     .select("qid", "bucket"))
        pairs = p1.unionByName(survivors)
        scored = _ann_batch_score(fanout(pairs, buckets_of(pairs)),
                                  storage)
        return _ann_batch_tail(scored, dec_q, k, rerank_vectors,
                               rerank_cut, storage, dedup=dedup)
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    bf = bounds_frame(spark, stats, "bucket", all_buckets)

    def _tops(scored):
        # count("cosine"), not count("*") (ADVICE r13): NULL-cosine
        # seed rows would inflate the >= m gate while min() skips
        # them — an overestimated L that wrongly prunes (see the
        # IVF twin's note)
        return (scored.groupBy("qid")
                .agg(F.count("cosine").alias("_n"),
                     F.min("cosine").alias("_L"))
                .filter(F.col("_n") >= m).select("qid", "_L"))

    def _prune(pairs, lq):
        return (pairs.join(F.broadcast(dec_q), "qid")
                .join(F.broadcast(bf), "bucket", "left")
                .join(F.broadcast(lq), "qid", "left")
                .withColumn("_ub", upper_bound_col(F.col("qci"),
                                                   F.col("qsq")))
                .filter(F.col("_L").isNull()
                        | F.col("dmin").isNull()
                        | (F.col("_ub") >= F.col("_L")))
                .select("qid", "bucket"))

    p1 = probe_all.filter(F.col("m") == 0).drop("m")
    scored = (_ann_batch_score(fanout(p1, buckets_of(p1)), storage)
              .withColumn("rn", F.row_number().over(wk))
              .filter(F.col("rn") <= m).drop("rn")
              .localCheckpoint())
    lq = _tops(scored)
    rest_pred = F.col("m") != 0
    if mode == "seed2":
        # ITERATIVE TIGHTENING (r13 VERDICT #7): the Hamming-band
        # ladder — score the 1-flip band (plus other tables' own
        # buckets, whose within-table mask is also ≤ 1 bit), itself
        # pruned by the seed threshold first; re-measure each
        # query's m-th over seed ∪ band; prune the farther bands
        # against the strictly-tighter value. The within-table flip
        # count is bit_count(m & (2^J − 1)) — the bits above J are
        # table routing, not distance.
        band = F.bit_count(
            F.col("m").bitwiseAND(F.lit((1 << num_planes) - 1)))
        band2 = _prune(
            probe_all.filter(rest_pred & (band <= 1)).drop("m"),
            lq).localCheckpoint()
        b2 = buckets_of(band2)
        if b2:
            scored = (scored.unionByName(
                _ann_batch_score(fanout(band2, b2), storage))
                .withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") <= m).drop("rn")
                .localCheckpoint())
            lq = _tops(scored)
        rest_pred = rest_pred & (band > 1)
    rest = probe_all.filter(rest_pred).drop("m")
    survivors = _prune(rest, lq).localCheckpoint()
    buckets2 = buckets_of(survivors)
    if buckets2:
        scored = scored.unionByName(
            _ann_batch_score(fanout(survivors, buckets2), storage))
    return _ann_batch_tail(scored, dec_q, k, rerank_vectors,
                           rerank_cut, storage, dedup=dedup)


def _cosine_rerank(scan: DataFrame, query_vec: list, k: int,
                   exclude_id: int | None,
                   dedup: bool = False) -> DataFrame:
    """The exact fixed-point cosine re-rank over an already-pruned
    (vec_id, embedding, bucket) scan — shared by the committed probe
    and the pinned probe so their scoring can never drift (the
    scoring expression itself lives in :func:`_ann_scores`, shared
    further with the early-exit probe). ``dedup``: collapse
    multi-table duplicate candidates first."""
    qci, qsq = _qdec(query_vec)
    scored = _ann_scores(scan, qci, qsq, exclude_id, "float")
    if dedup:
        scored = _dedup_tables(scored)
    return (scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def ann_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    exclude_id: int | None = None,
                    hamming: int = 1,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the index
    (plans/snapshots.pin_snapshot): the scan is the pinned batch
    directories only (path selection — snapshots.read_pinned_table),
    with the same driver-side ``bucket IN (J+1)`` pruning on the
    second partition level and the same exact re-rank as
    :func:`ann_incremental_topk`. A similarity query quoted in an
    eval or paper can thus be re-run bit-for-bit after the live index
    has grown, compacted, or been row-retained."""
    meta = _load_meta(spark, root)
    num_planes, dim = meta["num_planes"], meta["dim"]
    _check_meta(meta, num_planes, dim, root, "query")
    if len(query_vec) != dim:
        raise ValueError(
            f"expected {dim}-dim query vector, got {len(query_vec)}")
    from .snapshots import read_pinned_table

    nt = _num_tables(meta)
    probes = _mt_probe_list(query_vec, meta, hamming, None)
    scan = (read_pinned_table(spark, root, pin, ANN_TABLE,
                              schema=_schema_of(meta))
            .filter(F.col("bucket").isin(probes)))
    if meta.get("storage", "float") == "int8":
        return _ann_code_topk(scan, query_vec, k, exclude_id,
                              rerank_vectors, rerank_cut,
                              dedup=nt > 1)
    return _cosine_rerank(scan, query_vec, k, exclude_id,
                          dedup=nt > 1)


def compact_ann_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_bucket: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch —
    the small-files relief for the 2^J-way per-batch fan-out. Same
    manifest-supersession commit as corpus compaction: the rewrite is
    invisible until its manifest (carrying the transitive
    ``replaces``) lands; superseded partitions are pruned after;
    crash anywhere leaves only invisible garbage.

    SIZE-AWARE mode (``rows_per_file``): random hyperplanes on
    non-uniform embeddings skew bucket occupancy exactly like IVF
    cells — a hot bucket is salted into ``ceil(rows/target)`` write
    tasks with ``maxRecordsPerFile`` capping every output file, the
    same mechanism as ``compact_ivf_batches`` (the occupancy canary
    in ``verify_ann_index`` says when it's needed)."""
    with corpus_writer_lock(spark, root, op="ann_compact") as lease:
        return _compact_ann_batches(spark, root, batch_ids,
                                    n_files_per_bucket, lease,
                                    rows_per_file)


def _compact_ann_batches(spark: SparkSession, root: str,
                         batch_ids: list[str] | None,
                         n_files_per_bucket: int,
                         lease=None,
                         rows_per_file: int | None = None) -> str:
    meta = _load_meta(spark, root)
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = [b for b in ms if b not in gone]
    ids = sorted(batch_ids) if batch_ids is not None else sorted(live)
    unknown = [b for b in ids if b not in live]
    if unknown:
        raise ValueError(
            f"cannot compact non-live batches {unknown}")
    if not ids:
        raise ValueError("nothing to compact: no live batches")

    cid = _next_seq_id(ms, "compact")
    path = f"{root}/{ANN_TABLE}"
    delete_path(spark, f"{path}/batch_id={cid}")
    if path_exists(spark, path):
        # input pinned with a localCheckpoint before the same-table
        # append starts (the corpus compaction discipline, ADVICE r7)
        rows = (spark.read.schema(_schema_of(meta))
                .parquet(path)
                .filter(F.col("batch_id").isin(ids))
                .withColumn("batch_id", F.lit(cid))
                .localCheckpoint())
        (_size_aware_writer(rows, "bucket", n_files_per_bucket,
                            rows_per_file)
         .mode("append").partitionBy("batch_id", "bucket")
         .parquet(path))

    replaces = sorted(set(ids) | {r for b in ids
                                  for r in ms[b].get("replaces", ())})
    manifest = {
        "batch_id": cid, "replaces": replaces,
        **{k: sum(ms[b].get(k, 0) for b in ids)
           for k in ("n_input", "n_id_dupes", "n_admitted")},
    }
    if rows_per_file is not None:
        # size-aware compactions RECORD their target: the advisory's
        # compact_hot suppression reads it (advisory._hot_suppressed)
        # so a just-split hot partition is not re-advised forever
        manifest["rows_per_file"] = rows_per_file
    from .corpus import _union_provenance
    prov = _union_provenance(ms, ids)
    if prov is not None:   # lineage survives compaction
        manifest["corpus_batch"] = prov
    if lease is not None:
        lease.fence()
    write_text_atomic(spark, _manifest_path(root, cid),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, cid: manifest})

    from .corpus import _prune_superseded
    _prune_superseded(spark, root, tables=(ANN_TABLE,), lease=lease)
    # compaction re-tightens (or creates, on legacy roots) the
    # early-exit direction boxes from the rows just rewritten
    from .cellstats import recompute_stats
    recompute_stats(spark, root, read_ann_index(spark, root),
                    "bucket", meta.get("storage", "float"),
                    meta["dim"])
    return cid


def _size_aware_writer(rows: DataFrame, part_col: str,
                       n_files_per_part: int,
                       rows_per_file: int | None):
    """The partitioned-table write strategy shared by both index
    compactions: fixed ``n_files_per_part`` (the default), or — with
    ``rows_per_file`` — each partition value salted into
    ``ceil(rows/target)`` shuffle keys so a hot bucket/cell's rewrite
    parallelizes (the per-value counts table is bounded by the
    partition-value domain — broadcast), with ``maxRecordsPerFile``
    enforcing the exact per-file cap even where two salts hash to
    the same task."""
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


def verify_ann_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck for the incremental ANN index — the
    similarity-side analog of plans/corpus.verify_corpus. Invariants:

    - **ledger**: every live batch holds exactly its manifest's
      ``n_admitted`` vectors (a missing data directory under live
      manifests is a per-batch violation, never a silent skip);
    - **uniqueness**: ``vec_id`` is globally unique across the live
      index (the id-dedup admission guarantee);
    - **bucketing**: every stored row's partition bucket equals the
      bucket recomputed from its own embedding under the ``_meta``
      planes — the drift the sidecar can't catch (e.g. a partition
      directory moved/renamed out-of-band);
    - **orphans**: unmanifested/superseded partitions still on disk.

    The report also carries the BUCKET-OCCUPANCY canary (max/median/
    mean rows per occupied bucket + the hottest bucket — the same
    skew signal as ``verify_ivf_index``'s ``cell_occupancy``: random
    hyperplanes on drifted embeddings pile rows into few buckets
    long before probe latency shows it; ``compact_ann_batches
    (rows_per_file=...)`` and ``migration.migrate_index`` are the
    responses). One 2^J-row aggregate.

    One aggregate scan each; nothing collected row-wise."""
    import statistics

    from ..fs import list_dir, path_exists

    meta = _load_meta(spark, root)
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = sorted(b for b in ms if b not in gone)
    violations: list[str] = []

    path = f"{root}/{ANN_TABLE}"
    ix = (_visible_scan(spark, path, live, _schema_of(meta))
          if live and path_exists(spark, path) else None)
    n_rows = 0
    occupancy: dict = {"n_buckets_occupied": 0, "max": 0,
                       "median": 0, "mean": 0.0,
                       "hottest_bucket": None}
    if ix is None and live:
        for bid in live:
            want = ms[bid].get("n_admitted", 0)
            if want:
                violations.append(
                    f"ledger: batch {bid} manifest says {want} "
                    f"vectors but {path} is missing")
    nt = _num_tables(meta)
    if ix is not None:
        per_batch = {r.batch_id: r.n for r in
                     ix.groupBy("batch_id")
                     .agg(F.count("*").alias("n")).collect()}
        n_rows = sum(per_batch.values())
        for bid in live:
            # manifests count VECTORS; a multi-table root stores one
            # row per vector per table
            want = ms[bid].get("n_admitted", 0) * nt
            got = per_batch.get(bid, 0)
            if want != got:
                violations.append(
                    f"ledger: batch {bid} has {got} rows, "
                    f"manifest says {want}"
                    + (f" ({ms[bid].get('n_admitted', 0)} vectors × "
                       f"{nt} tables)" if nt > 1 else ""))
        # uniqueness: exactly one row per vector per table — a
        # multi-table vector missing from some table (or doubled in
        # one) is as broken as a duplicate single-table id
        n_dupes = (ix.groupBy("vec_id")
                   .agg(F.count("*").alias("n"))
                   .filter(F.col("n") != nt).count())
        if n_dupes:
            violations.append(
                f"uniqueness: {n_dupes} vec_ids do not appear in "
                f"exactly {nt} live index row(s)"
                + (" (one per table)" if nt > 1 else ""))
        per_bucket = {int(r.bucket): int(r.n) for r in
                      ix.groupBy("bucket")
                      .agg(F.count("*").alias("n")).collect()
                      if r.bucket is not None}
        if per_bucket:
            occ = sorted(per_bucket.values())
            occupancy = {
                "n_buckets_occupied": len(occ),
                "max": occ[-1],
                "median": statistics.median(occ),
                "mean": round(sum(occ) / len(occ), 2),
                "hottest_bucket": max(per_bucket,
                                      key=per_bucket.get)}
        if meta.get("storage", "float") == "int8":
            # codes, not the original embeddings, are stored: a
            # re-derived bucket from the DEQUANTIZED vector can
            # legitimately differ near a hyperplane, so the drift
            # check would false-positive — skipped, and SAID so
            bucketing_check = ("skipped: int8 storage stores codes; "
                               "bucket re-derivation needs the "
                               "original embeddings")
        else:
            bucketing_check = "checked"
            # per-table re-derivation: each stored row's partition
            # bucket must equal the bucket of its own embedding
            # under ITS table's planes (table = composite >> J) —
            # one pass via the same multi-table fold the ingest ran,
            # joined on (vec_id, composite bucket)
            expected = _mt_bucket_frame(
                ix.select("vec_id", "embedding")
                .filter(F.col("bucket") < (1 << meta["num_planes"]))
                if nt > 1 else ix.select("vec_id", "embedding"),
                "vec_id", "embedding",
                meta["num_planes"], meta["dim"], nt)
            n_drift = (ix.select("vec_id", "bucket")
                       .join(expected.withColumnRenamed("bucket",
                                                        "_want"),
                             "vec_id")
                       .groupBy("vec_id", "bucket")
                       .agg(F.max(F.when(F.col("bucket")
                                         == F.col("_want"), 1)
                                  .otherwise(0)).alias("_ok"))
                       .filter(F.col("_ok") == 0)
                       .count())
            if n_drift:
                violations.append(
                    f"bucketing: {n_drift} rows sit in a partition "
                    f"whose bucket != the bucket of their own "
                    f"embedding")
            if nt > 1:
                # reverse direction: every EXPECTED (vec, table)
                # copy must exist — membership + row count alone
                # would miss a doubled copy shadowing a missing one
                n_missing = (expected.join(
                    ix.select("vec_id", "bucket"),
                    ["vec_id", "bucket"], "left_anti").count())
                if n_missing:
                    violations.append(
                        f"bucketing: {n_missing} expected per-table "
                        f"copies are missing from the live index")

    # early-exit direction boxes must COVER every live row — same
    # soundness check as the IVF fsck (plans/cellstats)
    from .cellstats import verify_stats
    if ix is not None:
        cellstats_check, cs_viol = verify_stats(
            spark, root, ix, "bucket", meta.get("storage", "float"),
            meta["dim"])
        violations += cs_viol
    else:
        cellstats_check = "skipped: no live data"

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
    from ..fs import dir_bytes
    return {"live_batches": len(live), "index_rows": n_rows,
            "bucket_occupancy": occupancy,
            "storage": meta.get("storage", "float"),
            "cellstats_check": cellstats_check,
            "bucketing_check": (bucketing_check if ix is not None
                                else "skipped: no live data"),
            "table_bytes": (dir_bytes(spark, path)
                            if path_exists(spark, path) else 0),
            "orphans": sorted(orphans - pinned),
            "pinned_held": sorted(pinned), "violations": violations}


def prune_ann_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Garbage-collect bucket partitions with NO manifest that are
    not superseded — crashed ingests never retried under the same
    batch id. ``verify_ann_index`` NAMES these orphans; this sweeps
    them (the corpus ``prune_uncommitted`` under this root's tables).
    Takes the writer lease, so an in-flight ingest can never have its
    unmanifested batch swept out from under it."""
    from .corpus import _prune_uncommitted

    with corpus_writer_lock(spark, root,
                            op="ann_prune_uncommitted") as lease:
        return _prune_uncommitted(spark, root, lease=lease,
                                  tables=(ANN_TABLE,))


def delete_vectors(spark: SparkSession, root: str,
                   vec_ids: "list[int] | DataFrame",
                   n_files_per_bucket: int = 1,
                   release_conflicting_pins: bool = False,
                   _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown — the operation
    :func:`delete_vector_batch` cannot perform once batches are
    compacted, and the ANN-side analog of
    ``plans/corpus.delete_documents`` (a corpus takedown's embedding
    must leave the index too; ``verify_linked`` names the orphan
    until this runs). Filter-and-rewrite of ONLY the affected
    batches under a fresh ``retain-N`` batch, committed by
    manifest-supersession:

    1. Locate the live batches holding any target vec_id (one
       semi-join over the visible scan).
    2. Rewrite those batches' SURVIVING rows under ``retain-N`` —
       buckets ride along unchanged (the partition column is stored
       per row), so no re-hashing happens and placement invariants
       hold by construction.
    3. The ``retain-N`` manifest lands LAST with transitive
       ``replaces`` plus an ``n_deleted`` audit field; superseded
       partitions are pruned after; a crash before the manifest
       leaves only an invisible partition that the re-minted same-id
       retry sweeps first.

    Deleted ids are RE-ADMITTABLE through the id-dedup gate (their
    rows are gone from every committed batch). Unaffected batches
    are never rewritten: cost is proportional to the batches
    touched, never the index. ``vec_ids`` is a Python list
    (takedown-notice convenience) or a one-column DataFrame of ids
    (the at-scale shape — joined, never expanded into an IN-list).
    Returns the new batch id. Takes the writer lease."""
    with corpus_writer_lock(spark, root, op="ann_retain") as lease:
        meta = _load_meta(spark, root)
        return _retain_vectors(spark, root, ANN_TABLE, "bucket",
                               _schema_of(meta),
                               vec_ids, n_files_per_bucket, lease,
                               _crash_after,
                               release_conflicting_pins,
                               rows_per_vec=_num_tables(meta))


def _retain_vectors(spark: SparkSession, root: str, table: str,
                    part_col: str, schema: str,
                    vec_ids: "list[int] | DataFrame",
                    n_files_per_part: int, lease,
                    _crash_after: str | None,
                    release_conflicting_pins: bool = False,
                    rows_per_vec: int = 1) -> str:
    """Generic row-level retention for a manifest-committed vector
    table partitioned ``batch_id={b}/{part_col}={n}`` — shared by the
    LSH index (``buckets``/``bucket``) and the IVF index
    (``postings``/``cell``). Lease already held. ``rows_per_vec``:
    a multi-table LSH root stores that many rows per vector;
    manifest counts stay in VECTORS (the fsck's ledger multiplies),
    so the surviving count is the DISTINCT id count there."""
    from .corpus import _next_seq_id, _prune_superseded

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
          else spark.createDataFrame([], schema))
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
    n_after = (surv.select("vec_id").distinct().count()
               if rows_per_vec > 1 else surv.count())
    if n_after:
        (surv.repartition(n_files_per_part, F.col(part_col))
         .write.mode("append").partitionBy("batch_id", part_col)
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
    if lease is not None:
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
    if released:
        from ..fs import delete_path as _dp
        for d in released:   # takedown wins over EVERY holder
            _dp(spark, _pin_path(root, d))
    _write_snapshot(spark, root, {**ms, cid: manifest})
    _prune_superseded(spark, root, tables=(table,), lease=lease)
    return cid


def delete_vector_batch(spark: SparkSession, root: str,
                        batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch — manifest deleted
    first (the atomic de-commit), partition swept after. Deleted ids
    become re-admittable through the id-dedup gate, exactly like the
    corpus delete (plans/corpus.delete_batch)."""
    with corpus_writer_lock(spark, root,
                            op=f"ann_delete:{batch_id}") as lease:
        ms = _load_manifests(spark, root)
        if batch_id not in ms or batch_id in _superseded(ms):
            raise ValueError(
                f"batch_id {batch_id!r} is not a live committed batch "
                f"under {root}")
        from .snapshots import PinConflictError, list_pins
        # closure: see corpus.delete_batch — deleting the manifest
        # would resurrect pinned-held replaced batches as live
        closure = {batch_id} | set(ms[batch_id].get("replaces", ()))
        holders = sorted(d for d, p in list_pins(spark, root).items()
                         if set(p["batches"]) & closure)
        if holders:
            raise PinConflictError(
                f"batch {batch_id!r} (or a batch it replaced) is "
                f"held by pins {holders} — release them before the "
                f"batch-level delete")
        lease.fence()   # before the de-commit
        delete_path(spark, _manifest_path(root, batch_id))
        _write_snapshot(spark, root,
                        {b: m for b, m in ms.items() if b != batch_id})
        delete_path(spark, f"{root}/{ANN_TABLE}/batch_id={batch_id}")
