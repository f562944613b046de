"""LSH ROUTER of the incremental vector index (plans/vector_index.py
holds the store, the probes and the maintenance): the key is the
``bucket`` of random hyperplanes — the sign pattern of the vector's
integer plane dots (operators/similarity.lsh_buckets, the same fold
the one-shot ``write_ann_index`` runs).

- ``_meta.json`` (plane count, dim, planes digest) is written by the
  FIRST ingest and validated by every later ingest and query: two
  batches bucketed under different hyperplanes would silently
  cross-probe wrong buckets.
- ``num_tables=L`` (multi-table LSH): every vector is stored once per
  INDEPENDENT hyperplane table under composite key
  ``(t << J) | bucket_t`` — L× storage buys candidates OR-ed across L
  hash views, which lifts recall where one table's unlucky cuts lose
  neighbors. Probes stay literal-IN-pruned per table and deduplicate
  vectors across tables; manifests count VECTORS.
- Probes take the query's own bucket plus its Hamming-≤h ball
  (``hamming``) or a margin-ranked budget of the cheapest boundary
  crossings (``probe_buckets`` — multi-probe LSH, Lv et al. VLDB'07).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists, write_text_atomic
from ..operators.similarity import (EMB_DIM, NUM_PLANES, TOP_K,
                                    _fixed_point, _planes_digest,
                                    lsh_buckets)
from . import vector_index as VI
from .corpus import committed_batches, delete_batch, prune_uncommitted
from .vector_index import STORAGES, _checked_dim, _meta_path, _num_tables

ANN_TABLE = "buckets"


def _load_meta(spark: SparkSession, root: str) -> dict:
    return VI.load_meta(spark, root, ROUTER)


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

    A single-table root is the one-table case of both: it reproduces
    :func:`_probe_set` / :func:`multiprobe_set` exactly."""
    from ..operators.similarity import query_bucket

    num_planes, dim = meta["num_planes"], meta["dim"]
    nt = _num_tables(meta)
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
                                        _plane_signs, _signed_sum_sql)

    if num_tables <= 1:
        return lsh_buckets(emb, id_col, vec_col, num_planes, dim)
    _check_id_col(id_col)
    ci = _fixed_point(_checked_dim(vec_col, dim,
                                   "multi-table bucketing"))
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
    the twin of :func:`_mt_bucket_frame` that ingest and the batch
    probe route with: the same staged SQL-text sign folds, but the
    input's columns (the payload, the query vector) ride through the
    staging selects and the L composite ids explode row-side, so no
    join ever re-attaches them. The former
    ``delta.join(_mt_bucket_frame(delta, ...), "vec_id")`` put one
    Exchange pair (or a broadcast build) into every ingest's write
    job purely to glue the bucket back onto rows it was derived
    from (guide §2.4: remove shuffles outright). Rows are identical:
    same signs, same pack, same L-way fan-out per vector."""
    from ..operators.similarity import (_pack_bits_sql, _plane_signs,
                                        _signed_sum_sql)

    carry = delta.columns
    ci = _fixed_point(_checked_dim("embedding", dim, "lsh bucketing"))
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
    """``q`` + (bucket, m) probe pairs for the BATCH margin-ranked
    multi-probe (the executor-side :func:`_mt_probe_list` /
    :func:`multiprobe_set`): per query and table, the J signed plane
    dots are computed once (the same integer folds ``lsh_buckets``
    signs), every flip mask is generated executor-side
    (``sequence(0, 2^J−1)`` — no 2^J literals in the plan), scored
    ``Σ_{j∈mask} margin_j²`` in DECIMAL(38,0) — margins reach ~2^39,
    squares ~2^78: exact in 38 digits, so the executor ranking is
    BIT-IDENTICAL to the driver's arbitrary-precision integers —
    and the ``n_buckets`` cheapest boundary crossings are kept in the
    single-query order ((score, table, mask)) by ONE in-row
    ``array_sort`` per query: no shuffle, and the query's other
    columns ride along. ``m`` is the global flip id
    ((t << J) | mask): m == 0 is table 0's own bucket, the
    early-exit seed."""
    from ..operators.similarity import _plane_signs, _signed_sum_sql

    if num_planes > 16:
        # the flip enumeration holds L·2^J entries per query; past
        # J=16 that is ≥65k per table — the single-query path
        # switches to the driver heap there, the batch path refuses
        # rather than silently exploding.
        raise ValueError(
            f"batch probe_buckets supports num_planes <= 16 "
            f"(got {num_planes}): the executor-side flip enumeration "
            f"is 2^J entries per query and table; use single-query "
            f"probes or a smaller J")
    n_buckets = max(1, min(n_buckets, num_tables << num_planes))
    ci = _fixed_point(_checked_dim("embedding", dim, "batch multiprobe"))

    # per-table signed plane dots as SQL text over staged per-plane
    # columns (the Column-tree build cost thousands of py4j round
    # trips — ~5.6 s driver time per call at L=4, measured r15; and
    # one fused expression overflows janino's 64 KB method limit —
    # see operators.similarity._signed_sum_sql); the own bucket
    # packs the SAME dots the margins come from
    cols, tables = [], []
    for t in range(num_tables):
        signs = _plane_signs(num_planes, dim, t)
        cols.extend(
            F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{t}_{j}")
            for j, row in enumerate(signs))
        darr = ", ".join(f"_d{t}_{j}" for j in range(num_planes))
        own = " + ".join(f"IF(_d{t}_{j} > 0, {1 << j}L, 0L)"
                         for j in range(num_planes))
        tables.append(f"struct({t} AS t, array({darr}) AS d, "
                      f"{own} AS own)")
    score = " + ".join(
        f"IF((mask & {1 << j}) != 0, CAST(tb.d[{j}] AS DECIMAL(19,0))"
        f" * CAST(tb.d[{j}] AS DECIMAL(19,0)), 0BD)"
        for j in range(num_planes))
    ranked = (
        f"slice(array_sort(flatten(transform(array({', '.join(tables)}),"
        f" tb -> transform(sequence(0, {(1 << num_planes) - 1}), mask ->"
        f" struct(CAST({score} AS DECIMAL(38,0)) AS s, tb.t AS t,"
        f" mask AS mask, tb.own AS own))))), 1, {n_buckets})")
    carry = q.columns
    # t and mask widen to bigint BEFORE shifting (int32 shifts would
    # wrap for large J·t composites)
    t64 = F.col("_e.t").cast("bigint")
    m64 = F.col("_e.mask").cast("bigint")
    return (q.select(*carry, ci.alias("_ci"))
            .select(*carry, *cols)
            .select(*carry, F.explode(F.expr(ranked)).alias("_e"))
            .select(*carry,
                    (F.shiftleft(t64, num_planes)
                     + F.col("_e.own").bitwiseXOR(m64)).alias("bucket"),
                    (F.shiftleft(t64, num_planes) + m64).alias("m")))


class LshRouter(VI.Router):
    """Buckets of the root's hyperplanes; the routing state is the
    validated meta."""

    kind = "ann_lsh_incremental"
    family, label = "ann", "ANN"
    init_hint = "the first ann_ingest_delta creates it"
    identity = "planes"
    table, key, key_type = ANN_TABLE, "bucket", "INT"
    check_name = "bucketing_check"

    def check_meta(self, spark, root, meta, what):
        _check_meta(meta, meta["num_planes"], meta["dim"], root, what)
        return meta

    def attach_keys(self, delta, state, meta, provided):
        return _attach_buckets(delta, meta["num_planes"], meta["dim"],
                               _num_tables(meta))

    def probe_keys(self, state, meta, query_vec, hamming=1,
                   probe_buckets=None):
        return _mt_probe_list(query_vec, meta, hamming, probe_buckets)

    def batch_pairs(self, state, meta, q, hamming=1,
                    probe_buckets=None):
        # pairs carry the flip mask m: m == 0 IS the query's own
        # bucket — the seed (the single-query probes' first key).
        # Multi-table roots make m GLOBAL ((t << J) | mask): m == 0
        # is then TABLE 0's own bucket, the key the single-query
        # probes also lead with; other tables' own buckets are
        # prunable like any flip — sound, the bound is per-bucket
        # content.
        num_planes, dim, nt = meta["num_planes"], meta["dim"], \
            _num_tables(meta)
        if probe_buckets is not None:
            pairs = _batch_multiprobe_pairs(q, num_planes, dim, nt,
                                            probe_buckets)
            fan = probe_buckets
        else:
            masks = _probe_set(0, num_planes, hamming)
            m = F.explode(F.array(*[F.lit(int(m)) for m in masks]))
            pairs = (_attach_buckets(q, num_planes, dim, nt)
                     .withColumn("m", m)
                     .withColumn("bucket",
                                 F.col("bucket").bitwiseXOR(F.col("m")))
                     .withColumn("m", F.col("m") + F.shiftleft(
                         F.shiftright(F.col("bucket"), num_planes),
                         num_planes)))
            # a multi-table root fans nt buckets per query even at
            # hamming=0 (r14 ADVICE low)
            fan = len(masks) * nt
        return pairs.select("qid", "qci", "qsq", "bucket",
                            (F.col("m") == 0).alias("is_seed")), fan

    def expected_keys(self, spark, state, meta, ix, live):
        """Each stored row's partition bucket must equal the bucket of
        its own embedding under ITS table's planes (table = composite
        >> J) — one pass via the same multi-table fold the ingest
        runs, joined on (vec_id, composite bucket) — the drift the
        sidecar can't catch (e.g. a partition directory moved
        out-of-band)."""
        if meta.get("storage", "float") == "int8":
            # codes, not the original embeddings, are stored: a bucket
            # re-derived from the DEQUANTIZED vector can legitimately
            # differ near a hyperplane — skipped, and SAID so
            return ("skipped: int8 storage stores codes; bucket "
                    "re-derivation needs the original embeddings", [])
        violations = []
        nt = _num_tables(meta)
        expected = _mt_bucket_frame(
            VI.one_copy(ix, meta).select("vec_id", "embedding"),
            "vec_id", "embedding", meta["num_planes"], meta["dim"], nt)
        n_drift = (ix.select("vec_id", "bucket")
                   .join(expected.withColumnRenamed("bucket", "_want"),
                         "vec_id")
                   .groupBy("vec_id", "bucket")
                   .agg(F.max(F.when(F.col("bucket") == F.col("_want"),
                                     1).otherwise(0)).alias("_ok"))
                   .filter(F.col("_ok") == 0)
                   .count())
        if n_drift:
            violations.append(
                f"bucketing: {n_drift} rows sit in a partition whose "
                f"bucket != the bucket of their own embedding")
        if nt > 1:
            # reverse direction: every EXPECTED (vec, table) copy must
            # exist — membership + row count alone would miss a
            # doubled copy shadowing a missing one
            n_missing = (expected.join(ix.select("vec_id", "bucket"),
                                       ["vec_id", "bucket"],
                                       "left_anti").count())
            if n_missing:
                violations.append(
                    f"bucketing: {n_missing} expected per-table "
                    f"copies are missing from the live index")
        return "checked", violations


ROUTER = LshRouter()


# ------------------------------------------------------------ wrappers


def committed_ann_batches(spark: SparkSession, root: str) -> list[str]:
    return committed_batches(spark, root)


def read_ann_index(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row in the root's STORED layout
    (:func:`vector_index.read_index`)."""
    return VI.read_index(spark, root, ROUTER)


def read_ann_buckets(spark: SparkSession, root: str,
                     buckets: "list[int]",
                     parallelism: "str | None" = "bytes") -> DataFrame:
    """The probe reader scoped to ``buckets``
    (:func:`vector_index.read_index`)."""
    return VI.read_index(spark, root, ROUTER, buckets, parallelism)


def ann_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) whatever the storage, ONE copy per vector
    on multi-table roots (:func:`vector_index.vectors`)."""
    return VI.vectors(spark, root, ROUTER)


def _init_meta(spark: SparkSession, root: str, num_planes: int,
               dim: int, storage: str | None,
               num_tables: int | None) -> dict:
    """The root's meta, created by its FIRST ingest (the bucketing
    identity) and checked against the given parameters by every
    later one."""
    if storage is not None and storage not in STORAGES:
        raise ValueError(f"storage must be one of {STORAGES}, "
                         f"got {storage!r}")
    if num_tables is not None and num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    if path_exists(spark, _meta_path(root)):
        meta = _load_meta(spark, root)
        _check_meta(meta, num_planes, dim, root, "ingest", num_tables)
        stored = meta.get("storage", "float")
        if storage is not None and storage != stored:
            raise ValueError(
                f"incremental ANN index at {root} stores {stored!r} "
                f"postings; an ingest requesting {storage!r} would "
                f"silently mix layouts")
        return meta
    nt = num_tables or 1
    meta = {"kind": ROUTER.kind, "num_planes": num_planes, "dim": dim,
            "storage": storage or "float",
            "planes_digest": _planes_digest(num_planes, dim, nt)}
    if nt > 1:   # single-table metas stay byte-identical
        meta["num_tables"] = nt
    write_text_atomic(spark, _meta_path(root),
                      json.dumps(meta, sort_keys=True))
    return meta


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
    """Append a vector delta under the manifest-last commit protocol
    (:func:`vector_index.ingest_delta`); returns the committed
    manifest. The first ingest initializes ``_meta.json`` with
    ``num_planes``, ``dim``, ``storage`` and ``num_tables`` (all
    fixed from then on); later ingests and queries validate against
    it."""
    return VI.ingest_delta(
        spark, root, ROUTER, emb, batch_id, id_col, vec_col, dedup_ids,
        corpus_batch, _crash_after, manifest_extra,
        init_meta=lambda: _init_meta(spark, root, num_planes, dim,
                                     storage, num_tables))


def ann_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         exclude_id: int | None = None,
                         hamming: int = 1,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: bool = False,
                         probe_buckets: int | None = None
                         ) -> DataFrame:
    """Top-k cosine over the committed index, scanning the query's
    bucket plus its Hamming-≤``hamming`` neighbors, or the
    ``probe_buckets`` cheapest margin-ranked crossings
    (:func:`multiprobe_set`; overrides ``hamming``) —
    :func:`vector_index.incremental_topk`. For equal committed content
    the rows equal the one-shot ``ann_indexed_topk``'s; int8
    ``rerank_vectors`` and ``early_exit`` work as on the IVF probe
    (the first probe is always the query's own bucket)."""
    return VI.incremental_topk(spark, root, ROUTER, query_vec, k,
                               exclude_id, rerank_vectors, rerank_cut,
                               early_exit, hamming=hamming,
                               probe_buckets=probe_buckets)


def ann_batch_topk(spark: SparkSession, root: str,
                   queries: DataFrame, k: int = TOP_K,
                   hamming: int = 1,
                   id_col: str = "qid", vec_col: str = "embedding",
                   exclude_self: bool = True,
                   max_queries_per_job: int | None = None,
                   rerank_vectors: DataFrame | None = None,
                   rerank_cut: int = 4,
                   early_exit: bool = False,
                   chunk_concurrency: int = 1,
                   probe_buckets: int | None = None) -> DataFrame:
    """Top-k cosine for MANY queries in one job
    (:func:`vector_index.batch_topk`): each query's buckets come from
    one in-row sign fold exploded against the Hamming-ball masks, or —
    with ``probe_buckets`` — from the margin ranking executor-side in
    exact DECIMAL(38,0), so per-query probe sets equal the single
    probe's bit for bit (:func:`_batch_multiprobe_pairs`). Returns
    (qid, vec_id, cosine, bucket)."""
    return VI.batch_topk(spark, root, ROUTER, queries, k, id_col,
                         vec_col, exclude_self, max_queries_per_job,
                         rerank_vectors, rerank_cut, early_exit,
                         chunk_concurrency, hamming=hamming,
                         probe_buckets=probe_buckets)


def ann_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    exclude_id: int | None = None,
                    hamming: int = 1,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the index
    (:func:`vector_index.pinned_topk`)."""
    return VI.pinned_topk(spark, root, ROUTER, pin, query_vec, k,
                          exclude_id, rerank_vectors, rerank_cut,
                          hamming=hamming)


def compact_ann_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_bucket: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch
    (:func:`vector_index.compact_batches`) — the small-files relief
    for the 2^J-way per-batch fan-out; ``rows_per_file`` splits hot
    buckets (random hyperplanes on non-uniform embeddings skew bucket
    occupancy exactly like IVF cells)."""
    return VI.compact_batches(spark, root, batch_ids,
                              n_files_per_bucket, rows_per_file, ROUTER)


def verify_ann_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck (:func:`vector_index.verify`): ledger (rows =
    vectors × tables), uniqueness per table, bucketing re-derivation
    (``bucketing_check``), direction boxes and orphans, plus the
    ``bucket_occupancy`` canary."""
    return VI.verify(spark, root, ROUTER)


def prune_ann_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Sweep crashed ingests' bucket partitions
    (:func:`corpus.prune_uncommitted` over this root's table)."""
    return prune_uncommitted(spark, root, tables=(ROUTER.table,),
                             op=f"{ROUTER.family}_prune_uncommitted")


def delete_vectors(spark: SparkSession, root: str,
                   vec_ids: "list[int] | DataFrame",
                   n_files_per_bucket: int = 1,
                   release_conflicting_pins: bool = False,
                   _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown (:func:`vector_index.delete_vectors`)
    — buckets ride along unchanged, so no re-hashing happens."""
    return VI.delete_vectors(spark, root, vec_ids, n_files_per_bucket,
                             release_conflicting_pins, _crash_after,
                             ROUTER)


def delete_vector_batch(spark: SparkSession, root: str,
                        batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch
    (:func:`corpus.delete_batch` over this root's table)."""
    delete_batch(spark, root, batch_id, tables=(ROUTER.table,),
                 op=f"{ROUTER.family}_delete")
