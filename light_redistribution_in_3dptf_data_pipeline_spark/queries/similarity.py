"""Similarity search over the `embeddings` fixture (SURVEY Phase 6).

Brute-force cosine top-k is the oracle-checked baseline. Parity trick:
float components become exact BIGINT nano-units via
``floor(x*1e9 + 0.5)`` — pure IEEE multiply/add/floor, bit-identical
in ANY engine (r5 replaced the former double→DECIMAL(18,9) cast,
which rounds the shortest decimal repr in Spark but the binary value
in DuckDB and diverged by one nano-unit at a scale-9 half boundary at
sf0.1). Dot products and norms are then *exact* integer sums —
order-independent — and the final cosine is one identical double
expression. No tolerance needed.

Everything here is ARRAY-NATIVE: no posexplode anywhere. Per-vector
quantities are folds over the embedding array inside the row
(zip_with/aggregate, JVM codegen); per-label centroid sums are ONE wide
aggregate with d=64 sum columns (the MinHash wide-aggregate pattern,
operators/dedup.py) — so the only shuffles are the groupBys on N rows,
never on N·d component rows.

The LSH-bucketed scale path (random-hyperplane signatures) lives in
``operators/similarity.py`` and is rows-only checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

QUERY_VEC_ID = 0
TOP_K = 10
DIMS = 64  # embeddings fixture dimensionality (TESTDATA.md)


COSINE_TOPK_ORACLE = f"""
WITH comps AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              * 1000000000.0 + 0.5) AS BIGINT) AS ci
  FROM embeddings
), q AS (
  SELECT pos, ci AS qci FROM comps WHERE vec_id = {QUERY_VEC_ID}
), dots AS (
  SELECT c.vec_id,
         CAST(CAST(sum(CAST(c.ci AS DECIMAL(19,0))
                  * CAST(q.qci AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) / 1e18 AS dot,
         CAST(CAST(sum(CAST(c.ci AS DECIMAL(19,0))
                  * CAST(c.ci AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) / 1e18 AS nsq
  FROM comps c JOIN q ON q.pos = c.pos
  WHERE c.vec_id <> {QUERY_VEC_ID}
  GROUP BY c.vec_id
), qn AS (
  SELECT CAST(CAST(sum(CAST(qci AS DECIMAL(19,0)) * CAST(qci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS qsq
  FROM q
)
SELECT vec_id, round(dot / (sqrt(nsq) * sqrt(qsq)), 12) AS cosine,
       round(sqrt(nsq), 12) AS l2_norm
FROM dots, qn
ORDER BY round(dot / (sqrt(nsq) * sqrt(qsq)), 12) DESC, vec_id
LIMIT {TOP_K}
"""


@register(
    "sim1_sim2_cosine_topk",
    COSINE_TOPK_ORACLE,
    doc="Similarity: brute-force cosine top-k against a query vector — "
        "the ANN baseline — with each hit's L2 norm (the per-vector "
        "norm operator, F9 at array scale) in the same result. "
        "Array-native plan: ONE scan of the big side with the query "
        "vector AND its precomputed norm broadcast beside it (qsq is "
        "hoisted into the one-row broadcast side, not refolded per "
        "row), the 64-term dot product as an exact decimal fold per "
        "row, then TakeOrderedAndProject for the top-k. No component "
        "explode, no groupBy — the plan a 100 TB brute-force pass "
        "wants")
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-point nano-unit components + exact int64 hi/lo dot folds
    # (the dx3/sim34/sx pattern; since r5 the nano conversion is
    # floor(x*1e9 + 0.5) — pure IEEE ops, so the integer components
    # are bit-identical in ANY engine, unlike double→DECIMAL casts
    # which round the shortest repr in Spark but the binary value in
    # DuckDB).
    emb = load_table(spark, sf_dir, "embeddings")
    scored, cosine = exact_cosine(
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
           .crossJoin(F.broadcast(_query_row(emb, QUERY_VEC_ID))),
        "qci", "qsq", ndigits=12)
    return (scored.select("vec_id", cosine.alias("cosine"),
                          F.round(F.sqrt("_nsq"), 12).alias("l2_norm"))
                  .orderBy(F.desc("cosine"), F.asc("vec_id"))
                  .limit(TOP_K))


NEARDUP_TOP_PAIRS = 20


# The exact-arithmetic kit below is authored as SQL TEXT, not as
# per-element Column calls: each ``F.expr`` is ONE gateway call that
# the JVM parses into the same analyzed tree the Column API would
# build, whereas the Column form pays a Py4J round trip for every
# literal, cast, lambda and operator — thousands per single-probe
# DataFrame, more driver time than the probe's own scan takes.
# Literals are spelled exactly: int64 components as ``…L`` and
# doubles as ``repr(float)`` + ``D`` (the shortest round-trip form,
# parsed back to the identical double).

def _fixed_point(vec: str) -> Column:
    """float components → exact BIGINT nano-units
    ``floor(x·1e9 + 0.5)`` (|c| ≤ ~10 ⇒ a 64-term signed sum stays
    far below 2^63 — overflow-free). ``vec`` is SQL text: a column
    name or an array expression."""
    return F.expr(f"transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE)"
                  f" * 1e9 + 0.5D) AS BIGINT))")


def component_sums(ci: str, dim: int) -> Column:
    """``array(sum(ci[1]), …, sum(ci[dim]))``: the exact BIGINT
    per-component sums of the nano-unit arrays ``ci`` as ONE
    aggregate expression — the IVF and k-means centroid sums. ``ci``
    is a column name; |Σci| ≤ nv·2^31, exact in int64."""
    return F.expr("array(" + ", ".join(
        f"sum(element_at({ci}, {i}))" for i in range(1, dim + 1)) + ")")


def _fixed_dot_sql(x: str, y: str, split: int = 1 << 10) -> str:
    """SQL text of :func:`_fixed_dot` over the SQL texts ``x``/``y``
    (column names, lambda fields or array literals) — for callers
    that nest the fold inside a larger expression."""
    def fold(term: str) -> str:
        return (f"aggregate(zip_with({x}, {y}, (a, b) -> {term}), 0L, "
                f"(acc, p) -> acc + p)")

    lo = fold(f"a * pmod(b, {split})")
    hi = fold(f"a * CAST((b - pmod(b, {split})) / {split} AS BIGINT)")
    return (f"(CAST({hi} AS DECIMAL(38,0)) * {split} "
            f"+ CAST({lo} AS DECIMAL(38,0)))")


def _fixed_dot(x: str, y: str, split: int = 1 << 10) -> Column:
    """Exact integer dot product of two int64 component arrays, as a
    DECIMAL(38,0) column, built as one SQL-text ``F.expr`` (see the
    note above :func:`_fixed_point`: one gateway call instead of a
    Py4J round trip per lambda and operator; same analyzed tree).

    The naive fold overflows int64 (nano-unit components reach 2^31,
    so a single product reaches 2^62), and a BigDecimal fold is ~10×
    slower in the interpreted higher-order path. Instead y is split at
    ``split``: both partial folds stay in JVM longs, and the halves
    recombine with ONE decimal multiply-add per row. Caller picks
    ``split`` so both folds fit: with d ≤ 64 terms and |x| < 2^31,
    needs split ≤ 2^25 and |y| < split·2^25. Defaults suit per-vector
    nano-components (|y| < 2^31, split 2^10)."""
    return F.expr(_fixed_dot_sql(x, y, split))


def _dot_sql(x: str, y: str) -> str:
    """The exact nano-unit dot of ``x``·``y`` back in embedding units
    (÷1e18) as a DOUBLE — the dot, ‖v‖² and ‖q‖² of every cosine."""
    return f"CAST({_fixed_dot_sql(x, y)} AS DOUBLE) / 1e18"


def _qdec(query_vec: list) -> "tuple[list, float]":
    """(qci, qsq): the nano-unit fixed-point decode of a driver-side
    query vector plus its ‖q‖²/1e18 — Python floats are the same IEEE
    doubles as :func:`_fixed_point`, Python ints exact."""
    import math

    qci = [math.floor(float(x) * 1000000000.0 + 0.5)
           for x in query_vec]
    return qci, float(sum(c * c for c in qci)) / 1e18


def _query_row(emb: DataFrame, query_id: int) -> DataFrame:
    """(qci, qsq) of the stored vector ``query_id`` — the one-row
    broadcast query side of the brute-force and one-shot searches."""
    return (emb.filter(F.col("vec_id") == query_id)
            .select(_fixed_point("embedding").alias("qci"))
            .select("qci", F.expr(_dot_sql("qci", "qci")).alias("qsq")))


def exact_cosine(frame: DataFrame, qci, qsq, storage: str = "float",
                 ndigits: int = 9) -> "tuple[DataFrame, Column]":
    """The engine's ONE exact-cosine scoring expression: (``frame``
    staged for scoring, the cosine column to select from it). Every
    probe path — incremental, pinned, batch and one-shot, float and
    int8 — scores through it.

    Every piece is SQL text (see the note above :func:`_fixed_point`):
    a handful of gateway calls per probe instead of a Py4J round trip
    per literal and lambda node, for the same analyzed tree, with the
    query entering as exact literals rather than 64 ``lit().cast()``
    calls. ``qci``/``qsq`` are the query's nano-unit components and
    ‖q‖²/1e18: SQL text (column names or expressions), or driver
    values from :func:`_qdec`, which enter as exact literals
    (``array(…L)`` and ``repr(float)`` + ``D``).

    - ``float``: the stored ``embedding`` decodes to ``_ci``
      (:func:`_fixed_point`), then ``_dot`` and ``_nsq`` fold exactly
      (:func:`_fixed_dot`), then ``round(_dot / (√_nsq·√qsq),
      ndigits)``, in three projections so each fold runs once per
      row (Catalyst does not inline a fold referenced twice).
    - ``int8``: the scale-free code cosine over ``code``
      (``plans/codes.code_cosine``).

    Either way a stored ZERO vector — legal — scores a NULL cosine,
    ranked last under ``desc``, never an ANSI DIVIDE_BY_ZERO that
    kills the query. The staged frame keeps every input column (plus
    ``_ci``/``_dot``/``_nsq`` for float); unused ones are pruned by
    the optimizer."""
    if not isinstance(qci, str):
        qci = "array(" + ", ".join(f"{int(c)}L" for c in qci) + ")"
    if not isinstance(qsq, str):
        qsq = f"{float(qsq)!r}D"
    if storage == "int8":
        from ..plans.codes import code_cosine
        return frame, code_cosine(qci, qsq, ndigits)
    scored = (frame.select("*", _fixed_point("embedding").alias("_ci"))
              .select("*", F.expr(_dot_sql("_ci", qci)).alias("_dot"),
                      F.expr(_dot_sql("_ci", "_ci")).alias("_nsq")))
    return scored, F.expr(
        f"CASE WHEN _nsq > 0 THEN round(_dot / (sqrt(_nsq) "
        f"* sqrt({qsq})), {ndigits}) END")


# Fixed-point trick (same discipline as SIM34_ORACLE below): components
# become exact integer nano-units; every dot product is an exact integer
# sum in both engines (DECIMAL(19,0) products in DuckDB, hi/lo-split
# int64 partial sums in Spark — identical values); the only float ops
# are the final /1e18, sqrt and divide — identical expressions both
# sides, so the rounded cosine is bit-identical. The exact-sum →
# DOUBLE step follows the _dbl() convention on the ORACLE side
# (CAST(CAST(sum AS VARCHAR) AS DOUBLE)): these sums reach 1e20-1e21,
# past 2^53, where DuckDB's direct hugeint→double conversion
# double-rounds (upper*2^64 + lower) while Spark's
# BigDecimal.doubleValue is correctly rounded (verified on 8k
# boundary cases in tests/test_cross_engine_numerics.py) — string →
# double is correctly rounded in both engines, closing the last
# scale-0 1-ulp hazard class (r5 ADVICE) instead of leaning on the
# 12-dp final round's boundary budget.
DX3_ORACLE = f"""
WITH comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              * 1000000000.0 + 0.5) AS BIGINT) AS ci
  FROM embeddings
), nsq AS (
  SELECT vec_id,
         CAST(CAST(sum(CAST(ci AS DECIMAL(19,0)) * CAST(ci AS DECIMAL(19,0))) AS VARCHAR)
              AS DOUBLE) / 1e18 AS n2
  FROM comps GROUP BY vec_id
), dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         CAST(CAST(sum(CAST(a.ci AS DECIMAL(19,0))
                  * CAST(b.ci AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) / 1e18 AS dot
  FROM comps a
  JOIN comps b ON b.label = a.label AND b.pos = a.pos
              AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
)
SELECT vec_a, vec_b, CAST(label AS BIGINT) AS label,
       round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
FROM dots
JOIN nsq na ON na.vec_id = vec_a
JOIN nsq nb ON nb.vec_id = vec_b
ORDER BY round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) DESC, vec_a, vec_b
LIMIT {NEARDUP_TOP_PAIRS}
"""


@register(
    "dx3_embedding_cosine_neardup",
    DX3_ORACLE,
    doc="Dedup (near, embedding-cosine): top near-duplicate pairs by "
        "exact pairwise cosine *within a coarse bucket* (label = the "
        "IVF cell). Bucketing is what makes this O(sum b_i^2) instead "
        "of O(N^2) at 100 TB — all-pairs only ever happens inside a "
        "bounded bucket, and buckets shuffle independently. Decimal-"
        "exact dot products → bit-identical to the DuckDB oracle")
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Array-native plan: one self-join on the bucket key (no component
    # explode shuffle); the 64-term dot product runs inside zip_with/
    # aggregate per pair-row with exact INT64 accumulation (hi/lo
    # split, see _fixed_dot) — an order of magnitude cheaper per pair
    # row than the BigDecimal fold it replaces, on the O(N²/buckets)
    # hot path. Norms are per-VECTOR quantities — computed once on the
    # N rows before the join, not refolded per pair row.
    import numpy as np
    import pandas as pd

    dec = emb.select("vec_id", "label", _fixed_point("embedding").alias("v"))
    dec = dec.withColumn("n2", F.expr(_dot_sql("v", "v")))

    # Per-bucket all-pairs dots as ONE vectorized int64 matmul per
    # label group (applyInPandas): exact via the same hi/lo split
    # (lo < 2^10 and hi < 2^21, so both Σ-products stay in int64 for
    # d ≤ 64), returned as two int64 halves and recombined decimal-
    # side so the value is identical to the oracle's DECIMAL sum.
    # This replaces a pair-row self-join whose per-row interpreted
    # zip/fold (2·d lambda evals × O(N²/buckets) rows) dominated the
    # query — the numpy form is ~50M fused integer ops, milliseconds.
    # Buckets are task-local: the group must fit one task, which is
    # the same bounded-bucket premise the join form already required.
    def pair_dots(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=["vec_a", "vec_b", "label", "hi", "lo"])
        A = np.array(pdf["v"].tolist(), dtype=np.int64)
        lo = A & ((1 << 10) - 1)
        hi = (A - lo) >> 10
        lo_dots = A @ lo.T
        hi_dots = A @ hi.T
        ia, ib = np.triu_indices(n, k=1)
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame({
            "vec_a": ids[ia], "vec_b": ids[ib],
            "label": np.full(len(ia), int(pdf["label"].iloc[0]),
                             dtype=np.int64),
            "hi": hi_dots[ia, ib], "lo": lo_dots[ia, ib]})

    dots = (dec.select("vec_id", "label", "v")
            .groupBy("label")
            .applyInPandas(pair_dots,
                           "vec_a long, vec_b long, label long, "
                           "hi long, lo long"))
    dot = ((F.col("hi").cast("decimal(38,0)") * F.lit(1 << 10)
            + F.col("lo").cast("decimal(38,0)"))
           .cast("double") / F.lit(1e18))
    n2 = dec.select("vec_id", "n2")
    pairs = (dots
             .join(n2.withColumnRenamed("vec_id", "vec_a")
                     .withColumnRenamed("n2", "na2"), "vec_a")
             .join(n2.withColumnRenamed("vec_id", "vec_b")
                     .withColumnRenamed("n2", "nb2"), "vec_b")
             .select("vec_a", "vec_b", "label", dot.alias("dot"),
                     "na2", "nb2"))
    cosine = F.round(F.col("dot")
                     / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 12)
    return (pairs.select("vec_a", "vec_b", "label", cosine.alias("cosine"))
                 .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
                 .limit(NEARDUP_TOP_PAIRS))


# Fixed-point trick (shared by the Spark plan and the oracle): comp →
# integer nano-units (exact BIGINT), centroid component = per-label SUM
# of those (exact BIGINT), vector·centroid = sum of DECIMAL(19,0)
# products (exact DECIMAL(38,0)). Both engines do identical integer
# arithmetic; the only float ops are one final division + sqrt,
# identical expressions on both sides.
SIM34_ORACLE = """
WITH comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              * 1000000000.0 + 0.5) AS BIGINT) AS ci
  FROM embeddings
), cent AS (
  SELECT label AS clabel, pos,
         CAST(sum(ci) AS BIGINT) AS csum,
         CAST(count(*) AS BIGINT) AS nv
  FROM comps GROUP BY label, pos
), cmeta AS (
  SELECT clabel,
         CAST(max(nv) AS BIGINT) AS n_vecs,
         round(sqrt(CAST(CAST(sum(CAST(csum AS DECIMAL(19,0))
                              * CAST(csum AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE))
               / (max(nv) * 1000000000.0), 9) AS centroid_norm
  FROM cent GROUP BY clabel
), scored AS (
  SELECT c.vec_id, t.clabel,
         CAST(CAST(sum(CAST(c.ci AS DECIMAL(19,0))
                  * CAST(t.csum AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
           / (max(t.nv) * 1e18) AS score
  FROM comps c JOIN cent t ON t.pos = c.pos
  GROUP BY c.vec_id, t.clabel
), ranked AS (
  SELECT vec_id, clabel, score,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, clabel) AS rn
  FROM scored
)
SELECT r.vec_id, CAST(r.clabel AS BIGINT) AS assigned_label,
       round(r.score, 9) AS score, m.n_vecs, m.centroid_norm
FROM ranked r JOIN cmeta m ON m.clabel = r.clabel
WHERE r.rn = 1
"""


@register(
    "sim3_sim4_ivf_train_assign",
    SIM34_ORACLE,
    doc="Similarity/IVF train + assign in one result: per-label "
        "centroid statistics (the coarse-quantizer training step — "
        "vector count and centroid norm) joined onto every vector's "
        "nearest-centroid assignment (mean-dot argmax, the IVF probe "
        "step). Array-native at both stages: centroid sums are ONE "
        "wide aggregate with d=64 BIGINT sum columns over the N input "
        "rows (no posexplode, no N·d component shuffle — the MinHash "
        "wide-aggregate pattern), assignment broadcasts the tiny "
        "L-row centroid table and folds the dot product per (vector, "
        "centroid) row with map-side max_by partial aggregation, so "
        "the only shuffles are N-row groupBys. Fixed-point integer "
        "arithmetic keeps Spark and DuckDB bit-identical")
def ivf_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # per-vector fixed-point component array (nano-units, exact BIGINT)
    vecs = emb.select("vec_id", "label",
                      _fixed_point("embedding").alias("ci"))

    # IVF train: one wide aggregate — d BIGINT sums + the count.
    # (The d sums are unavoidable aggregate expressions, but
    # everything DERIVED from them runs as interpreted array folds on
    # the L centroid rows: at d=64 the chained-expression forms cost
    # more in whole-stage-codegen COMPILE time than this query's
    # entire steady-state runtime, and L is tiny by construction.)
    wide = vecs.groupBy(F.col("label").alias("clabel")).agg(
        component_sums("ci", DIMS).alias("csum"),
        F.count("*").cast("bigint").alias("nv"))
    sumsq = F.aggregate(
        "csum",
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: (acc + (c.cast("decimal(19,0)")
                               * c.cast("decimal(19,0)"))
                        .cast("decimal(38,0)")).cast("decimal(38,0)"))
    cent = (wide.select("clabel", "nv", "csum")
            .select("clabel", "nv", "csum",
                    F.round(F.sqrt(sumsq.cast("double"))
                            / (F.col("nv") * F.lit(1000000000.0)), 9)
                     .alias("centroid_norm")))

    # IVF assign: broadcast the L-row centroid table; dot = exact
    # int64 hi/lo fold (_fixed_dot) — bit-identical to the oracle's
    # decimal sum, ~d× cheaper than a BigDecimal fold. split 2^20
    # keeps both halves in-range while |csum| < 2^45, i.e. up to ~32k
    # training vectors per centroid — beyond that (100 TB corpus),
    # train the quantizer on a per-label sample, the standard IVF
    # practice, and the bound is again by construction. Argmax via
    # max_by with a (score, -clabel) struct so score ties break to
    # the smaller label.
    dot = _fixed_dot("ci", "csum", split=1 << 20)
    scored = (vecs.crossJoin(F.broadcast(cent))
              .select("vec_id", "clabel", "nv", "centroid_norm",
                      (dot.cast("double") / (F.col("nv") * F.lit(1e18)))
                      .alias("score")))
    best = scored.groupBy("vec_id").agg(
        F.max_by(F.struct("clabel", "score", "nv", "centroid_norm"),
                 F.struct(F.col("score"), (-F.col("clabel")).alias("nc")))
         .alias("b"))
    return best.select(
        "vec_id",
        F.col("b.clabel").cast("bigint").alias("assigned_label"),
        F.round("b.score", 9).alias("score"),
        F.col("b.nv").alias("n_vecs"),
        F.col("b.centroid_norm"))


QUANT_LEVELS = 127  # symmetric int8

SIM5_ORACLE = f"""
WITH ci AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT)) AS ci
  FROM embeddings
), m AS (
  SELECT vec_id, ci,
         list_max(list_transform(ci, x -> abs(x))) AS max_abs_nano
  FROM ci
), q AS (
  SELECT vec_id, ci, max_abs_nano,
         list_transform(ci, x -> CASE WHEN max_abs_nano = 0 THEN 0
           ELSE CAST(floor((CAST({2 * QUANT_LEVELS} * x + max_abs_nano
                                 AS DOUBLE))
                           / CAST(2 * max_abs_nano AS DOUBLE)) AS BIGINT)
           END) AS q_int8
  FROM m
)
SELECT vec_id, max_abs_nano,
       array_to_string(q_int8, ',') AS q_codes,
       CASE WHEN max_abs_nano = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(
                   list_zip(ci, q_int8),
                   p -> abs({QUANT_LEVELS} * p[1] - p[2] * max_abs_nano)))
                 AS DOUBLE)
                 / ({QUANT_LEVELS}e9 * len(ci))
       END AS mean_abs_err
FROM q
ORDER BY vec_id
"""


@register(
    "sim5_quantize_int8", SIM5_ORACLE,
    doc="Embedding int8 quantization — the vector-store storage prep "
        "step (beyond the reference, LLM-pipeline extension): per-"
        "vector symmetric scale = max|c|/127, round-half-up codes, "
        "plus the exact reconstruction error. All integer arithmetic "
        "(half-up = floor((2·127·c + m)/(2m)) on exact nano-units; "
        "error = Σ|127·c − q·m| in int64) so Spark and DuckDB agree "
        "bit-for-bit. Codes are emitted as a comma-joined STRING "
        "(scalar-output convention, registry.py #3 — the driver's "
        "canonicalizer cannot sort array cells). Pure map stage — "
        "zero shuffles at any scale")
def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    L = QUANT_LEVELS
    m = F.array_max(F.transform("ci", lambda x: F.abs(x)))
    df = (emb.select("vec_id", _fixed_point("embedding").alias("ci"))
          .withColumn("max_abs_nano", m))
    q = F.transform(
        "ci",
        lambda x: F.when(F.col("max_abs_nano") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.floor(
            (F.lit(2 * L) * x + F.col("max_abs_nano")).cast("double")
            / (F.lit(2) * F.col("max_abs_nano")).cast("double"))))
    df = df.withColumn("q_int8", q)
    abs_err_int = F.aggregate(
        F.zip_with("ci", "q_int8",
                   lambda c, qq: F.abs(F.lit(L) * c
                                       - qq * F.col("max_abs_nano"))),
        F.lit(0).cast("bigint"), lambda acc, e: acc + e)
    mae = F.when(F.col("max_abs_nano") == 0, F.lit(0.0)).otherwise(
        abs_err_int.cast("double")
        / (F.lit(float(L) * 1e9) * F.size("ci")))
    q_codes = F.array_join(
        F.transform("q_int8", lambda x: x.cast("string")), ",")
    return (df.select("vec_id", "max_abs_nano",
                      q_codes.alias("q_codes"),
                      mae.alias("mean_abs_err"))
            .orderBy("vec_id"))
