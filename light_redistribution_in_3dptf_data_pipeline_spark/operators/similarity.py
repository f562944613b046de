"""Approximate-nearest-neighbor search: LSH-bucketed cosine top-k.

The brute-force baseline (queries/similarity.py sim1_sim2) scans every
vector per query — O(N·d). The scale path here:

1. **Random-hyperplane LSH**: J pseudo-random ±1 hyperplanes, derived
   deterministically from md5("plane{j}:dim{i}") at plan-build time —
   no stored model, identical on every executor, and (because md5 is
   engine-universal) reproducible by ANY engine, which is what makes
   the registered query oracle-checkable. Bucket id = J-bit sign
   pattern of the dot products. ARRAY-NATIVE: all J dots are per-row
   zip_with folds over the embedding array against literal sign
   arrays (JVM codegen) — zero explode, zero extra shuffle; the
   signature stage is a pure map. Components are fixed-point BIGINT
   nano-units, so each dot is an exact integer and the sign bit can
   never flip between runs or engines (no order-dependent float
   summation).
2. Candidates = vectors in the query's bucket **plus all Hamming-1
   neighbor buckets** (flip each of the J bits) for recall; exact
   cosine re-ranking only within that small set.

At 100 TB the bucket column becomes the partition key of the stored
index table, so a query prunes to J+1 of 2^J partitions
(predicate-pushdown on bucket id) instead of a full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..queries.registry import register
from ..queries.similarity import (_fixed_dot, _fixed_point, _qdec,
                                  _query_row, component_sums,
                                  exact_cosine)

NUM_PLANES = 8
QUERY_VEC_ID = 0
TOP_K = 10
EMB_DIM = 64  # fixture embedding dimensionality


def _plane_signs(num_planes: int = NUM_PLANES,
                 dim: int = EMB_DIM,
                 table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from md5("plane{j}:dim{i}")
    — computed driver-side at plan-build time and embedded as
    literals, so the identical matrix appears in the Spark plan and
    in the DuckDB oracle text. Bit 3 of the 60-bit hex prefix is the
    sign selector (any fixed bit of md5 is an unbiased coin).

    ``table`` (multi-table LSH — plans/ann_index ``num_tables``):
    table 0 is the historical matrix VERBATIM (every single-table
    root, oracle, and digest is unchanged); table t ≥ 1 prefixes the
    hash input with ``t{t}:`` — an independent deterministic
    hyperplane set per table."""
    import hashlib

    pre = f"t{table}:" if table else ""
    return [[1 if (int(hashlib.md5(f"{pre}plane{j}:dim{i}".encode())
                       .hexdigest()[:15], 16) >> 3) & 1 else -1
             for i in range(dim)]
            for j in range(num_planes)]


def _check_id_col(id_col: str) -> None:
    """The staged-column bucketing (here and in plans/ann_index's
    multi-table twin) threads the id column through intermediate
    selects alongside working columns named ``_ci`` and ``_d{j}`` /
    ``_d{t}_{j}`` — an id column with one of those names would
    collide (duplicate/ambiguous column), a surface the old
    single-expression form did not have (r15 ADVICE low). Reject
    loudly instead of producing an AnalysisException downstream."""
    import re

    if id_col == "_ci" or re.match(r"^_d\d", id_col):
        raise ValueError(
            f"id_col {id_col!r} collides with the bucketing's "
            f"reserved staging columns (_ci, _d<j>, _d<t>_<j>) — "
            f"rename the id column before bucketing")


def lsh_buckets(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding",
                num_planes: int = NUM_PLANES,
                dim: int = EMB_DIM, table: int = 0) -> DataFrame:
    """(id, bucket) — J-bit random-hyperplane signature per vector,
    computed entirely inside the row: for each plane j, the signed
    fold  sum_i sign[j][i]·ci_i  (literal ±1 arrays zip_with'd
    against the components), then the J sign bits packed into one
    BIGINT. A pure map — no explode, no join, no shuffle.

    Dimensionality is VALIDATED per row: ``zip_with`` NULL-pads the
    shorter side, so a vector of the wrong length would otherwise
    fold its dots to NULL and silently zero every sign bit
    (mis-bucketing instead of failing). A mismatched fixture/schema
    now raises at execution."""
    _check_id_col(id_col)
    ci = F.when(
        F.size(F.col(vec_col)) == dim, _fixed_point(vec_col)
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"lsh_buckets: expected {dim}-dim embedding, got "),
        F.size(F.col(vec_col)).cast("string"))))
    signs = _plane_signs(num_planes, dim, table)
    dots = [F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{j}")
            for j, row in enumerate(signs)]
    return (emb.select(id_col, ci.alias("_ci"))
            .select(id_col, *dots)
            .select(id_col,
                    F.expr(_pack_bits_sql("_d", num_planes))
                    .alias("bucket")))


def _signed_sum_sql(ci_name: str, row: list[int]) -> str:
    """One plane's exact BIGINT dot — the SAME
    ``aggregate(zip_with(ci, signs, *), 0L, +)`` fold the engine has
    always evaluated, but authored as SQL TEXT over an already-decoded
    named nano-component column. Why text and not a Column tree: the
    ±1 sign matrix is J×dim literals, and building it
    Column-by-Column costs thousands of py4j round trips PER PLAN —
    measured ~5.6 s of pure driver time per batch-multiprobe call at
    L=4 (r15) — while one ``F.expr`` parse is milliseconds. Why keep
    the HOF form rather than an unrolled ``ci[0]-ci[1]+…`` sum: the
    unrolled J×dim expression gets re-fused by CollapseProject and
    overflows janino's 64 KB method limit, and the FAILED compile
    attempt alone costs seconds per stage before the interpreter
    fallback runs (measured r15); the HOF is codegen-opaque, so
    surrounding stages compile small and its own interpreted eval is
    the r14 status quo. NULL semantics identical: zip_with NULL-pads,
    a NULL payload folds to a NULL dot → bit 0."""
    arr = ",".join(f"{s}L" for s in row)
    return (f"aggregate(zip_with({ci_name}, array({arr}), "
            f"(x, s) -> x * s), 0L, (acc, x) -> acc + x)")


def _pack_bits_sql(dot_prefix: str,
                   num_planes: int = NUM_PLANES) -> str:
    """``shiftleft(if(_d0 > 0, 1L, 0L), 0) + …`` — the J-bit
    signature pack over the staged per-plane dot columns
    (sign-identical to the driver-side ``query_bucket``: ``> 0`` on
    the exact integer dot; a NULL payload folds every bit to 0
    exactly like the old NULL-padded zip_with)."""
    return "(" + " + ".join(
        f"shiftleft(if({dot_prefix}{j} > 0, 1L, 0L), {j})"
        for j in range(num_planes)) + ")"


def bucket_histogram(emb: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(bucket, n_vecs) occupancy — the skew diagnostic you run before
    choosing the partition key at scale."""
    return (lsh_buckets(emb, id_col, vec_col)
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n_vecs")))


def ann_cosine_topk(emb: DataFrame, query_id: int = QUERY_VEC_ID,
                    k: int = TOP_K,
                    num_planes: int = NUM_PLANES) -> DataFrame:
    """Bucketed ANN: exact cosine re-ranking inside the query's LSH
    bucket and its Hamming-1 neighbors. Returns
    (vec_id, cosine, bucket, bucket_occupancy). Re-rank arithmetic is
    the engine's fixed-point discipline (nano-unit BIGINT components,
    int64 hi/lo dot folds — the sim3/dx3/sx3 pattern), so scores are
    exactly restatable in SQL (ANN_LSH_ORACLE)."""
    buckets = lsh_buckets(emb, num_planes=num_planes)
    occupancy = (buckets.groupBy("bucket")
                 .agg(F.count("*").cast("bigint")
                      .alias("bucket_occupancy")))

    # query bucket + its J Hamming-1 neighbors, as a tiny exploded set
    probe = (buckets.filter(F.col("vec_id") == query_id)
             .select(F.explode(F.array(
                 F.col("bucket"),
                 *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                   for j in range(num_planes)])).alias("bucket")))
    cands = (buckets.join(F.broadcast(probe), "bucket")
                    .filter(F.col("vec_id") != query_id))

    scored, cosine = exact_cosine(
        emb.select("vec_id", "embedding").join(cands, "vec_id")
           .crossJoin(F.broadcast(_query_row(emb, query_id))),
        "qci", "qsq")
    return (scored.join(F.broadcast(occupancy), "bucket")
            .select("vec_id", cosine.alias("cosine"),
                    "bucket", "bucket_occupancy")
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def ivf_search_topk(emb: DataFrame, query_id: int = QUERY_VEC_ID,
                    k: int = TOP_K, nprobe: int = 2,
                    cell_col: str = "label") -> DataFrame:
    """IVF probe search — the other half of the sim3/sim4 IVF story:
    coarse-quantize (per-cell centroids, one wide aggregate), rank the
    query's ``nprobe`` nearest cells by centroid dot product, then
    exact cosine re-rank ONLY inside those cells.

    Scale shape: the centroid table is L rows (broadcast); the probe
    set is ``nprobe`` cell ids (broadcast semi-join). With the corpus
    stored partitioned by cell id, the semi-join becomes partition
    pruning — a query touches nprobe/L of the data instead of a full
    scan (the IVF index contract). Returns (vec_id, cosine, cell).

    Arithmetic is the engine's fixed-point discipline (nano-unit
    BIGINT components, int64 hi/lo dot folds, sim3/dx3 pattern), so
    the whole search — cell ranking AND re-rank scores — is exactly
    restatable in ANSI SQL; see IVF_PROBE_ORACLE.
    """
    dec = emb.select("vec_id", F.col(cell_col).alias("cell"),
                     _fixed_point("embedding").alias("ci"))
    q = _query_row(emb, query_id)

    # train: per-cell centroid sums via one wide aggregate (exact
    # int64: |Σci| ≤ nv·2^31); centroid·query divides by the cell
    # count only to report a mean-scaled score — the /nv rescale is
    # per-cell, so ranking mirrors the oracle exactly, not just up to
    # scale. split 2^20 in the fold is valid while nv ≤ ~32k per cell
    # (beyond that: sample per cell to train, standard IVF practice).
    csum = (dec.groupBy("cell")
            .agg(component_sums("ci", EMB_DIM).alias("csum"),
                F.count("*").cast("bigint").alias("nv")))
    probe = (csum.crossJoin(F.broadcast(q.select("qci")))
             .select("cell",
                     (_fixed_dot("qci", "csum", split=1 << 20)
                      .cast("double") / (F.col("nv") * F.lit(1e18)))
                     .alias("cdot"))
             .orderBy(F.desc("cdot"), F.asc("cell"))
             .limit(nprobe)
             .select("cell"))

    cands = (emb.select("vec_id", F.col(cell_col).alias("cell"),
                        "embedding")
             .join(F.broadcast(probe), "cell", "left_semi")
             .filter(F.col("vec_id") != query_id))
    scored, cosine = exact_cosine(cands.crossJoin(F.broadcast(q)),
                                  "qci", "qsq")
    return (scored.select("vec_id", cosine.alias("cosine"),
                          F.col("cell").cast("bigint").alias("cell"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


# Exact SQL restatement of ivf_search_topk (defaults: query 0, k=10,
# nprobe=2): fixed-point nano-unit components, exact integer dots
# (DECIMAL(19,0) products — the engine's int64 hi/lo fold recombines
# to the same value), identical final float expressions.
IVF_PROBE_ORACLE = f"""
WITH comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              * 1000000000.0 + 0.5) AS BIGINT) AS ci
  FROM embeddings
), q AS (
  SELECT pos, ci AS qci FROM comps WHERE vec_id = {QUERY_VEC_ID}
), qn AS (
  SELECT CAST(CAST(sum(CAST(qci AS DECIMAL(19,0)) * CAST(qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS qsq
  FROM q
), cent AS (
  SELECT label, pos, CAST(sum(ci) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS nv
  FROM comps GROUP BY label, pos
), cdot AS (
  SELECT c.label,
         CAST(CAST(sum(CAST(c.s AS DECIMAL(19,0)) * CAST(q.qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / (max(c.nv) * 1e18) AS cdot
  FROM cent c JOIN q ON q.pos = c.pos
  GROUP BY c.label
), probe AS (
  SELECT label FROM cdot ORDER BY cdot DESC, label LIMIT 2
), dots AS (
  SELECT ca.vec_id, ca.label,
         CAST(CAST(sum(CAST(ca.ci AS DECIMAL(19,0)) * CAST(q.qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS dot,
         CAST(CAST(sum(CAST(ca.ci AS DECIMAL(19,0)) * CAST(ca.ci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS nsq
  FROM comps ca
  JOIN probe p ON p.label = ca.label
  JOIN q ON q.pos = ca.pos
  WHERE ca.vec_id <> {QUERY_VEC_ID}
  GROUP BY 1, 2
)
SELECT vec_id,
       round(dot / (sqrt(nsq) * sqrt(qn.qsq)), 9) AS cosine,
       CAST(label AS BIGINT) AS cell
FROM dots, qn
ORDER BY round(dot / (sqrt(nsq) * sqrt(qn.qsq)), 9) DESC, vec_id
LIMIT {TOP_K}
"""


@register(
    "sx3_ivf_probe_topk", IVF_PROBE_ORACLE,
    doc="Similarity scale path, ORACLE-CHECKED: the IVF probe search "
        "(rank cells by centroid dot, exact cosine re-rank inside the "
        "nprobe nearest cells only — the partition-pruning index "
        "contract at 100 TB). Unlike the LSH rows this is fully "
        "deterministic data-derived math (labels are data, centroids "
        "are means), so the whole search is restated in SQL and the "
        "driver hash-checks both the pruning decision and the scores")
def ivf_probe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search_topk(emb)


def _signs_sql_values() -> str:
    """The hyperplane matrix as SQL VALUES rows: (j, [s0..s63])."""
    rows = []
    for j, row in enumerate(_plane_signs()):
        rows.append(f"({j}, [{', '.join(str(s) for s in row)}])")
    return ",\n         ".join(rows)


# Exact SQL restatement of ann_cosine_topk (defaults: query 0, k=10,
# 8 planes, Hamming-1 probing): the same literal ±1 hyperplane matrix
# (md5-derived, engine-independent), integer bucket signatures, and
# the fixed-point cosine re-rank of IVF_PROBE_ORACLE.
ANN_LSH_ORACLE = f"""
WITH comps AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              * 1000000000.0 + 0.5) AS BIGINT) AS ci
  FROM embeddings
), signs AS (
  SELECT j, generate_subscripts(v, 1) AS pos, unnest(v) AS s
  FROM (VALUES {_signs_sql_values()}) t(j, v)
), plane_dots AS (
  SELECT c.vec_id, s.j, CAST(sum(c.ci * s.s) AS BIGINT) AS dot
  FROM comps c JOIN signs s ON s.pos = c.pos
  GROUP BY c.vec_id, s.j
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0
                       THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM plane_dots GROUP BY vec_id
), occ AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_occupancy
  FROM buckets GROUP BY bucket
), probes AS (
  SELECT DISTINCT xor(b.bucket, CAST(f.m AS BIGINT)) AS bucket
  FROM buckets b,
       unnest([0{"".join(f", {1 << j}" for j in range(NUM_PLANES))}]) f(m)
  WHERE b.vec_id = {QUERY_VEC_ID}
), cands AS (
  SELECT b.vec_id, b.bucket FROM buckets b
  JOIN probes p ON p.bucket = b.bucket
  WHERE b.vec_id <> {QUERY_VEC_ID}
), q AS (
  SELECT pos, ci AS qci FROM comps WHERE vec_id = {QUERY_VEC_ID}
), qn AS (
  SELECT CAST(CAST(sum(CAST(qci AS DECIMAL(19,0)) * CAST(qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS qsq
  FROM q
), dots AS (
  SELECT ca.vec_id, cd.bucket,
         CAST(CAST(sum(CAST(ca.ci AS DECIMAL(19,0)) * CAST(q.qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS dot,
         CAST(CAST(sum(CAST(ca.ci AS DECIMAL(19,0)) * CAST(ca.ci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS nsq
  FROM comps ca
  JOIN cands cd ON cd.vec_id = ca.vec_id
  JOIN q ON q.pos = ca.pos
  GROUP BY 1, 2
)
SELECT d.vec_id,
       round(d.dot / (sqrt(d.nsq) * sqrt(qn.qsq)), 9) AS cosine,
       d.bucket, o.bucket_occupancy
FROM dots d JOIN occ o ON o.bucket = d.bucket, qn
ORDER BY round(d.dot / (sqrt(d.nsq) * sqrt(qn.qsq)), 9) DESC, d.vec_id
LIMIT {TOP_K}
"""


@register(
    "sx1_sx2_ann_lsh_topk", ANN_LSH_ORACLE,
    doc="Similarity scale path, ORACLE-CHECKED: random-hyperplane LSH "
        "bucketing (array-native per-row zip_with folds against "
        "literal md5-derived ±1 sign arrays — zero explode/shuffle "
        "before the bucket join; fixed-point dots so bucket bits are "
        "deterministic in ANY engine) + Hamming-1 neighbor probing + "
        "in-bucket exact cosine re-rank, with each hit's bucket "
        "occupancy (the sx2 histogram fold-in, the skew diagnostic "
        "for the partition key). The oracle rebuilds the identical "
        "hyperplane matrix from the same constants and restates "
        "bucketing relationally, so the driver hash-checks the "
        "bucket decisions AND the scores. Recall vs sim1_sim2 brute "
        "force asserted in tests")
def ann_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_cosine_topk(emb)


# --------------------------------------------------------------------
# Stored-index ANN (r6): the persisted form of the scale claim above —
# "at 100 TB the bucket column becomes the partition key of the stored
# index table, so a query prunes to J+1 of 2^J partitions".
# write_ann_index + ann_indexed_topk demonstrate exactly that, and
# tests/test_partition_pruning.py asserts the pruned scan.
# --------------------------------------------------------------------

INDEX_META_FILE = "_meta.json"
INDEX_META_VERSION = 1


def _planes_digest(num_planes: int, dim: int,
                   num_tables: int = 1) -> str:
    """Digest of the hyperplane sign matrix — the index's bucketing
    identity. Two indexes agree on bucket assignments iff their
    digests match, so this is what query-time validation compares.
    Multi-table roots (``num_tables`` > 1) digest the concatenation
    of every table's matrix; a single-table digest is byte-identical
    to the historical one."""
    import hashlib

    if num_tables <= 1:
        return hashlib.md5(
            repr(_plane_signs(num_planes, dim)).encode()).hexdigest()
    return hashlib.md5(repr(
        [_plane_signs(num_planes, dim, t)
         for t in range(num_tables)]).encode()).hexdigest()


def _write_index_meta(spark, path: str, meta: dict) -> None:
    import json

    from ..fs import write_text

    write_text(spark, f"{path}/{INDEX_META_FILE}",
               json.dumps({**meta, "version": INDEX_META_VERSION},
                          sort_keys=True))


def _read_index_meta(spark, path: str, kind: str) -> dict:
    """Load and sanity-check a stored index's parameter sidecar.

    Why this is load-bearing: a stored LSH/IVF index queried with
    mismatched parameters (different plane count, different
    hyperplane seed, different dimensionality) does not ERROR — it
    silently probes the wrong buckets and returns near-empty,
    wrong-neighbor results. The only defense is to persist the
    parameters at write time and refuse drifted queries loudly."""
    import json

    from ..fs import path_exists, read_text

    meta_path = f"{path}/{INDEX_META_FILE}"
    if not path_exists(spark, meta_path):
        raise ValueError(
            f"stored index at {path} has no {INDEX_META_FILE} — refusing "
            f"to query an index of unknown parameters (rebuild it with "
            f"write_{kind}_index)")
    meta = json.loads(read_text(spark, meta_path))
    if meta.get("kind") != kind:
        raise ValueError(
            f"index at {path} is kind {meta.get('kind')!r}, not {kind!r}")
    return meta


def write_ann_index(emb: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    num_planes: int = NUM_PLANES,
                    dim: int = EMB_DIM) -> None:
    """Persist the ANN index bucket-partitioned: one map to attach the
    LSH bucket, ``repartition(bucket)`` so each partition directory is
    written only by the tasks owning its rows (no tasks×buckets
    small-files blowup), then a ``partitionBy(bucket)`` Parquet write.
    The raw vector is stored (not the fixed-point form): re-deriving
    nano-components at query time is a per-row map over k·(J+1)/2^J of
    the data, while storing both would double the index footprint."""
    buckets = lsh_buckets(emb, id_col, vec_col, num_planes, dim)
    (emb.join(buckets, id_col)
        .repartition(F.col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path))
    # parameter sidecar LAST (the overwrite above wipes the directory):
    # queries validate against it before probing any bucket.
    _write_index_meta(emb.sparkSession, path, {
        "kind": "ann_lsh", "num_planes": num_planes, "dim": dim,
        "planes_digest": _planes_digest(num_planes, dim)})


def query_bucket(vec: list, num_planes: int = NUM_PLANES,
                 dim: int = EMB_DIM, table: int = 0) -> int:
    """Driver-side bucket id of a query vector — bit-identical to
    ``lsh_buckets`` (same md5 hyperplanes, same ``floor(x·1e9+0.5)``
    fixed point, exact integer dots; Python floats are the same IEEE
    doubles Spark uses)."""
    if len(vec) != dim:
        raise ValueError(f"expected {dim}-dim query vector, got {len(vec)}")
    signs = _plane_signs(num_planes, dim, table)
    ci, _ = _qdec(vec)
    bucket = 0
    for j in range(num_planes):
        if sum(s * c for s, c in zip(signs[j], ci)) > 0:
            bucket |= 1 << j
    return bucket


def query_margins(vec: list, num_planes: int = NUM_PLANES,
                  dim: int = EMB_DIM, table: int = 0) -> list[int]:
    """Per-plane SIGNED integer margins of a query vector against the
    md5 hyperplanes — the exact int dots whose signs ``query_bucket``
    packs into the bucket id (bit-identical arithmetic: same fixed
    point, same sign matrix). |margin_j| is how close the query sits
    to plane j: the multi-probe ordering flips the nearest planes
    first (plans/ann_index.multiprobe_set)."""
    if len(vec) != dim:
        raise ValueError(f"expected {dim}-dim query vector, got {len(vec)}")
    signs = _plane_signs(num_planes, dim, table)
    ci, _ = _qdec(vec)
    return [sum(s * c for s, c in zip(signs[j], ci))
            for j in range(num_planes)]


def ann_indexed_topk(spark: SparkSession, path: str, query_vec: list,
                     k: int = TOP_K, num_planes: int = NUM_PLANES,
                     dim: int = EMB_DIM,
                     exclude_id: int | None = None) -> DataFrame:
    """Query the stored index: the query's bucket and its Hamming-1
    neighbors are computed DRIVER-SIDE (``query_bucket``), so the scan
    carries a literal ``bucket IN (...)`` predicate — static partition
    pruning at plan time, J+1 of 2^J directories read, no job needed
    to discover the probe set. Exact fixed-point cosine re-rank inside
    the probed buckets (the sx pattern; a stored zero vector scores
    a NULL cosine, ranked last). Returns (vec_id, cosine, bucket)."""
    meta = _read_index_meta(spark, path, "ann_lsh")
    mismatches = {k: (meta[k], v) for k, v in (
        ("num_planes", num_planes), ("dim", dim),
        ("planes_digest", _planes_digest(num_planes, dim)))
        if meta.get(k) != v}
    if mismatches:
        raise ValueError(
            f"stored ANN index at {path} was built with different "
            f"parameters than this query (stored, query): {mismatches} "
            f"— querying it would silently probe wrong buckets")

    b = query_bucket(query_vec, num_planes, dim)
    probes = [b] + [b ^ (1 << j) for j in range(num_planes)]
    scan = (spark.read.parquet(path)
            .filter(F.col("bucket").isin(probes)))
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    scored, cosine = exact_cosine(scan, *_qdec(query_vec))
    return (scored.select("vec_id", cosine.alias("cosine"), "bucket")
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def write_ivf_index(emb: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    cell_col: str = "label") -> None:
    """Persist the IVF index in its production (FAISS-style) layout:

    - ``{path}/postings`` — the vectors, Parquet-partitioned by cell
      id (the posting lists; ``repartition(cell)`` first so each
      directory is written by its owning tasks).
    - ``{path}/centroids`` — one row per cell: exact int64 nano-unit
      component sums + the cell count (L rows — the coarse quantizer,
      small enough to collect driver-side at query time, exactly how
      IVF serves queries in practice).
    """
    dec = emb.select(id_col, F.col(cell_col).alias("cell"),
                     _fixed_point(vec_col).alias("ci"),
                     F.col(vec_col))
    (dec.drop("ci").repartition(F.col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(f"{path}/postings"))
    (dec.groupBy("cell")
        .agg(component_sums("ci", EMB_DIM).alias("csum"),
             F.count("*").cast("bigint").alias("nv"))
        .write.mode("overwrite").parquet(f"{path}/centroids"))
    _write_index_meta(emb.sparkSession, path,
                      {"kind": "ivf", "dim": EMB_DIM})


def ivf_indexed_topk(spark: SparkSession, path: str, query_vec: list,
                     k: int = TOP_K, nprobe: int = 2,
                     exclude_id: int | None = None) -> DataFrame:
    """Query the stored IVF index: collect the L-row centroid table,
    rank cells DRIVER-SIDE by exact integer centroid·query (same
    mean-scaled score as ``ivf_search_topk`` — Python ints are
    arbitrary-precision, so this is the int64 hi/lo fold's value
    exactly), then scan the posting lists with a literal
    ``cell IN (...)`` predicate — static partition pruning to
    nprobe of L directories. Exact fixed-point cosine re-rank inside
    (a stored zero vector scores a NULL cosine, ranked last).
    Returns (vec_id, cosine, cell) — identical to ``ivf_search_topk``
    for the same query vector."""
    meta = _read_index_meta(spark, path, "ivf")
    if meta.get("dim") != len(query_vec):
        raise ValueError(
            f"stored IVF index at {path} holds {meta.get('dim')}-dim "
            f"vectors; query vector is {len(query_vec)}-dim")

    qci, qsq = _qdec(query_vec)
    cents = spark.read.parquet(f"{path}/centroids").collect()
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), r.cell) for r in cents),
        key=lambda t: (-t[0], t[1]))
    probe_cells = [c for _, c in ranked[:nprobe]]

    scan = (spark.read.parquet(f"{path}/postings")
            .filter(F.col("cell").isin(probe_cells)))
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    scored, cosine = exact_cosine(scan, qci, qsq)
    return (scored.select("vec_id", cosine.alias("cosine"),
                          F.col("cell").cast("bigint").alias("cell"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))
