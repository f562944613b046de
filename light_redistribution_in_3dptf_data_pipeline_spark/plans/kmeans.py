"""Deterministic distributed k-means — the coarse-quantizer TRAINER
the incremental IVF index was missing (VERDICT r10 brief #1): until
now ``init_ivf_index`` could only freeze centroids from a LABELED
frame, so on real unlabeled embeddings there was no way to stand the
index up (and ``migrate_index`` needed caller labels to re-train).

Everything is exactly reproducible — same input content ⇒ bit-equal
centroids, under ANY partitioning, any cluster size, any day:

- **Seeding**: the k rows with the smallest ``md5(vec_id)`` (the
  hash-order trick of queries/sampling.py — a deterministic uniform
  draw with no RNG state), tie-broken by vec_id. Content-determined,
  not partition-determined.
- **Lloyd iterations**: assignment is an arg-best over EXACT integer
  arithmetic — embeddings become nano-unit int64 components
  (``operators.similarity._fixed_point``, the engine-wide parity
  discipline) and every vector·centroid dot product is the exact
  hi/lo-split integer fold (``queries.similarity._fixed_dot`` with
  the centroid-sum split of plans/ivf_index). The only floats are
  final per-row comparisons of exactly-derived values — IEEE
  doubles, identical on every executor. The update step is a
  per-cell SUM of int64 components + a count: exact integers, so
  associativity/commutativity make the result partition-independent.
- **Two metrics** (VERDICT r11 brief #1): ``metric="l2"`` (default)
  assigns by argmin ‖x − μ_c‖²; ``metric="dot"`` assigns by argmax
  of the EXACT SAME mean-scaled centroid-dot double the frozen
  quantizer places and probes with (``ivf_index._cell_scores`` —
  bit-identical expression), so train-time assignment ≡ serve-time
  placement on ALL data, not just separated clusters. Under "l2" the
  two rules agree only when clusters are separated; on overlapping
  directional data an l2-trained label can differ from the cell the
  frozen quantizer will actually place the vector into
  (tests/test_kmeans.py pins the gap and that "dot" closes it).
- **Empty cells** re-seed deterministically with rows FAR from their
  assigned centroid (max ‖x−μ‖² for "l2", min mean-dot for "dot";
  ties to the smaller vec_id) — k-means++-style spread without
  randomness. The per-cell farthest candidate RIDES ALONG in the
  stats aggregate (r11 brief #7), so reseed rounds cost no extra
  job unless more cells starve than there are occupied cells (the
  rare shortfall runs one fallback top-N job).
- **Fixed iteration cap** plus early exit when the centroid table
  reaches a fixed point (exact integer equality, not a float
  tolerance).

Inertia (Σ‖x − mean(cell(x))‖²) is computed per iteration from the
exact per-cell identity Σ‖x−μ‖² = Σ‖x‖² − ‖Σx‖²/n, with arbitrary-
precision Python integers on the driver — so the monotone-descent
property of Lloyd's algorithm is testable without float-sum noise
(tests/test_kmeans.py pins it). For ``metric="dot"`` the reported
inertia is the same L2 dispersion; max-dot assignment + mean update
has no general descent theorem (the update optimizes L2 given the
assignment, the assignment optimizes mean-dot given the centroids),
so monotonicity is pinned empirically on the fixtures while the
fixed-point exit + iteration cap bound the loop regardless.

Scale shape (r11 brief #2 — the N×k expansion is GONE): the k-row
centroid table is broadcast as ONE array-of-structs row, assignment
is an IN-ROW ``transform``+``aggregate`` fold over the k candidates
(map-only — no per-vector candidate rows, no vec_id exchange), and
the update is one groupBy(cell) whose partial aggregates collapse
map-side to ≤k rows per partition before the only exchange (k·P
rows, never N). Per iteration: one map-only pass, one k-row
collect. Standard practice at 100 TB is to train on a sample
(init_ivf_index's docstring already says so) — the trainer takes any
(vec_id, embedding) frame, sampled or full.

The reference re-clusters per run with scipy k-means
(operators/similarity.write_ivf_index cites it); this module is that
step's production completion for the incremental index family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import EMB_DIM, _fixed_point
from ..queries.similarity import (_fixed_dot, _fixed_dot_sql,
                                  component_sums)
from .ivf_index import CSUM_SPLIT
from .vector_index import _checked_dim

DEFAULT_ITERS = 10
METRICS = ("l2", "dot")


def suggest_k(n_vectors: int, target_cell_rows: int | None = None,
              k_min: int = 1, k_max: int = 65536) -> int:
    """nlist SIZING heuristic (VERDICT r11 brief #5): with a target
    posting-list length, k = ⌈n / target⌉ (a probe scans
    nprobe·target rows — size target for the scan budget); without
    one, the √N convention (FAISS's guidance for IVF nlist: k = √N
    balances the L-row cell ranking against the n/k-row posting
    scan, minimizing k + n/k work per probe). Clamped to
    [k_min, min(k_max, n_vectors)] so a tiny corpus never asks for
    more centroids than vectors. Used by
    ``init_ivf_index(train_k="auto")``."""
    import math

    if n_vectors < 1:
        raise ValueError(f"need at least one vector, got {n_vectors}")
    if target_cell_rows is not None:
        if target_cell_rows < 1:
            raise ValueError(
                f"target_cell_rows must be >= 1, got {target_cell_rows}")
        k = math.ceil(n_vectors / target_cell_rows)
    else:
        k = round(math.sqrt(n_vectors))
    return max(k_min, min(k, k_max, n_vectors))


def suggest_k_feedback(n_vectors: int, occupancy: dict,
                       target_cell_rows: int,
                       k_min: int = 1, k_max: int = 65536) -> int:
    """nlist sizing from MEASURED occupancy (VERDICT r12 brief #5 —
    the closed loop): :func:`suggest_k`'s ``n/target`` rule assumes
    rows spread uniformly over cells, so on a skewed distribution the
    MEDIAN cell lands far under target while a few hot cells blow the
    probe budget. The fsck's occupancy canary
    (``verify_ivf_index()["cell_occupancy"]``) measures that skew
    directly: with mean/median ratio ``s`` over occupied cells, a
    retrain at ``k' = n/(target·s)`` puts the MEDIAN cell — what a
    typical probe actually scans — at ≈ target, accepting that the
    hot directions hold more (they are the data, not the layout; the
    size-aware compaction handles their files). ``s`` is clamped to
    ≥ 1 so a uniform root degrades exactly to ``suggest_k``'s rule.

    Used by ``migration.migrate_index(train_k="auto",
    target_cell_rows=...)`` — the retrain consumes the OLD root's
    measured distribution instead of re-guessing √N — and named by
    the advisory's ``retrain_migrate`` action."""
    import math

    if n_vectors < 1:
        raise ValueError(f"need at least one vector, got {n_vectors}")
    if target_cell_rows < 1:
        raise ValueError(
            f"target_cell_rows must be >= 1, got {target_cell_rows}")
    med = occupancy.get("median") or 0
    mean = occupancy.get("mean") or 0
    s = max(1.0, mean / med) if med else 1.0
    k = math.ceil(n_vectors / (target_cell_rows * s))
    return max(k_min, min(k, k_max, n_vectors))


def unit_fixed(ci):
    """Unit-normalize a nano-unit int64 component array EXACTLY at
    fixed-point decode (VERDICT r12 brief #3): each component becomes
    ``round(c·1e9/‖c‖)`` — back on the nano grid with ‖u‖ ≈ 1e9, so
    every downstream exact-integer fold (``_fixed_dot`` hi/lo split,
    per-cell int64 sums) is unchanged. The norm is a double folded
    from exactly-derived squares and the rounding is half-up floor —
    deterministic on every executor, any partitioning, like
    ``_fixed_point`` itself. An all-zero vector maps to the zero
    vector (it has no direction; it lands wherever the dot argmax
    ties — cell 0 — exactly as the raw path would place it)."""
    nsq = F.aggregate(
        F.transform(ci, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, p: acc + p)
    nrm = F.sqrt(nsq)
    return F.transform(
        ci,
        lambda x: F.when(nsq == 0.0, F.lit(0).cast("bigint"))
        .otherwise(F.floor(x.cast("double") * F.lit(1e9) / nrm
                           + F.lit(0.5)).cast("bigint")))


def _centroid_literal(spark: SparkSession, cents: list) -> DataFrame:
    """The driver-held centroid list [(cell, csum ints, nv)] as ONE
    broadcastable row holding the k-entry array of structs the
    in-row assignment folds over — with the squared-mean term
    ``m2 = ‖μ_c‖²`` (nano²) precomputed on the driver from the exact
    integers (one float conversion per cell, deterministic), so the
    L2 argmin key needs only ``key_c = m2_c − 2·x·μ_c`` executor-side
    (‖x‖² is constant per row and drops out of the comparison). The
    array is sorted by cell id, which IS the tie-break: the fold
    keeps the first-best candidate."""
    payload = [(int(c), [int(s) for s in cs], int(n),
                float(sum(int(s) * int(s) for s in cs))
                / (int(n) * int(n)))
               for c, cs, n in sorted(cents)]
    return spark.createDataFrame(
        [(payload,)],
        "cents ARRAY<STRUCT<cell: BIGINT, csum: ARRAY<BIGINT>, "
        "nv: BIGINT, m2: DOUBLE>>")


def _best_cell(metric: str):
    """(key, cell) of the winning candidate as an in-row fold over
    the broadcast ``cents`` array — NO candidate-row expansion, no
    exchange (r11 brief #2). The key is a double derived from exact
    integers, identical on every executor:

    - ``l2``:  key = ‖μ_c‖² − 2·x·μ_c  (nano²; minimize),
    - ``dot``: key = −(x·μ_c / (nv·1e18)) — the NEGATED bit-identical
      expression of ``ivf_index._cell_scores`` (minimize), so the
      winning cell is exactly the frozen quantizer's placement.

    Ties go to the LOWER cell id: candidates are cell-sorted and the
    fold keeps the incumbent on equality — mirroring the serve-side
    max_by struct ordering. One SQL-text ``F.expr`` (the
    ``queries.similarity._fixed_dot`` note: one gateway call, same
    analyzed tree)."""
    d = f"CAST({_fixed_dot_sql('ci', 'c.csum', CSUM_SPLIT)} AS DOUBLE)"
    key = (f"c.m2 - 2.0D * ({d} / c.nv)" if metric == "l2"
           else f"-({d} / (c.nv * 1e18))")
    return F.expr(
        f"aggregate(transform(cents, c -> named_struct('key', {key}, "
        f"'cell', c.cell)), named_struct('key', double('Infinity'), "
        f"'cell', -1L), (acc, s) -> CASE WHEN s.key < acc.key THEN s "
        f"ELSE acc END)")


def _badness(metric: str):
    """How poorly a row is represented by its assigned centroid —
    the deterministic reseed ranking (max badness, ties to smaller
    vec_id): exact ‖x−μ‖² = ‖x‖² + key for "l2"; for "dot" the key
    is already the negated placement score, so larger = less
    aligned."""
    if metric == "l2":
        return F.col("x2").cast("double") + F.col("key")
    return F.col("key")


def _seed_centroids(dec: DataFrame, k: int) -> list:
    """k deterministic seeds: smallest md5(vec_id) first (the
    hash-gate ordering of queries/sampling.py — uniform, content-
    keyed, partition-independent), each seed a 1-member centroid."""
    rows = (dec.select(
        "vec_id", "ci",
        F.md5(F.col("vec_id").cast("string").cast("binary"))
        .alias("hkey"))
        .orderBy("hkey", "vec_id").limit(k).collect())
    return [(j, [int(x) for x in r.ci], 1)
            for j, r in enumerate(rows)]


def _exact_inertia(stats: list) -> "tuple[object, float]":
    """(exact Fraction, float in embedding units²) of
    Σ_cell (Σ‖x‖² − ‖Σx‖²/n) from the collected per-cell exact
    integers — driver-side arbitrary precision, no float-sum order
    dependence (k terms, k driver-sized)."""
    from fractions import Fraction

    total = Fraction(0)
    for st in stats:
        total += Fraction(int(st["sumx2"])) \
            - Fraction(sum(int(s) * int(s) for s in st["csum"]),
                       int(st["nv"]))
    # nano² → embedding units²
    return total, float(total) / 1e18


def _assigned(dec: DataFrame, cf: DataFrame, metric: str) -> DataFrame:
    """The map-only assignment frame (vec_id, ci, x2, cell, key, bad):
    one broadcast nested-loop join against the ONE-row centroid
    literal, then in-row folds — zero exchanges, zero candidate-row
    expansion."""
    return (dec.crossJoin(F.broadcast(cf))
            .withColumn("best", _best_cell(metric))
            .select("vec_id", "ci", "x2",
                    F.col("best")["cell"].alias("cell"),
                    F.col("best")["key"].alias("key"))
            .withColumn("bad", _badness(metric)))


def _iteration_stats(assigned: DataFrame, dim: int) -> list:
    """ONE fused job per iteration (r11 brief #7): per-cell exact
    component sums, counts, Σ‖x‖², AND the per-cell farthest-row
    reseed candidate (max badness, ties to the smaller vec_id) all
    ride the same groupBy(cell) — partial-aggregated map-side to ≤k
    rows per partition, one k·P-row exchange, one k-row collect."""
    rows = (assigned.groupBy("cell")
            .agg(component_sums("ci", dim).alias("csum"),
                 F.count("*").cast("bigint").alias("nv"),
                 F.sum("x2").alias("sumx2"),
                 F.max_by(
                     F.struct(F.col("vec_id"), F.col("ci")),
                     F.struct(F.col("bad").alias("b"),
                              (-F.col("vec_id")).alias("nv_id")))
                 .alias("far"),
                 F.max("bad").alias("far_bad"))
            .collect())
    return sorted(
        ({"cell": int(r.cell), "csum": [int(s) for s in r.csum],
          "nv": int(r.nv), "sumx2": int(r.sumx2),
          "far_vec_id": int(r.far.vec_id),
          "far_ci": [int(x) for x in r.far.ci],
          "far_bad": float(r.far_bad)} for r in rows),
        key=lambda d: d["cell"])


def _reseed(assigned: DataFrame, stats: list,
            empty: list) -> "list[tuple[int, list[int]]]":
    """Deterministic spread re-seed for starved cells: the per-cell
    farthest candidates (already collected in the stats pass) ranked
    globally by (badness desc, vec_id asc) fill the empty cells in
    cell-id order; if MORE cells starved than there are occupied
    cells (k-1 empties from one occupied cell — rare), one fallback
    top-N job over the assignment frame supplies the remainder,
    excluding already-chosen rows. Each chosen row becomes a fresh
    1-member centroid (it also still counts in its assigned cell's
    update this iteration — the historical semantics)."""
    cands = sorted(stats, key=lambda d: (-d["far_bad"],
                                         d["far_vec_id"]))
    chosen = [(c["far_vec_id"], c["far_ci"])
              for c in cands[:len(empty)]]
    if len(chosen) < len(empty):
        taken = {v for v, _ in chosen}
        need = len(empty) - len(chosen)
        extra = (assigned.filter(
            ~F.col("vec_id").isin(sorted(taken)))
            .select("vec_id", "ci", "bad")
            .orderBy(F.desc("bad"), F.asc("vec_id"))
            .limit(need).collect())
        chosen += [(int(r.vec_id), [int(x) for x in r.ci])
                   for r in extra]
    return [(cell_id, ci) for cell_id, (_, ci)
            in zip(empty, chosen)]


def train_centroids(spark: SparkSession, emb: DataFrame, k: int,
                    n_iters: int = DEFAULT_ITERS,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    dim: int = EMB_DIM,
                    metric: str = "l2",
                    normalize: bool = False) -> dict:
    """Lloyd's k-means over an UNLABELED (id, embedding) frame —
    deterministic by construction (module docstring). Returns::

        {"labeled":  DataFrame(vec_id, embedding, label),
         "centroids": [(cell, csum, nv), ...],   # exact ints
         "inertia":  [float, ...],    # per completed iteration
         "reseeds":  [int, ...],      # empty cells re-seeded / iter
         "n_iters_run": int, "k": int, "converged": bool,
         "metric": str}

    ``labeled`` feeds straight into :func:`ivf_index.init_ivf_index`
    (``cell_col="label"``) — or pass ``train_k=`` there and it calls
    this trainer itself.

    ``metric="l2"`` assigns by exact squared L2 (argmin ‖x − μ_c‖²,
    ties to the lower cell id). ``metric="dot"`` assigns by the
    frozen quantizer's OWN placement rule (argmax mean-scaled
    centroid dot, the bit-identical double of
    ``ivf_index._cell_scores``) — so at a converged fixed point,
    training labels equal the cells the index will place those
    vectors into, by construction, on ANY data. Prefer "dot" when
    the trained quantizer feeds ``init_ivf_index`` (the serve-side
    metric is mean-dot); "l2" remains the default for backward
    compatibility and for pure clustering uses.

    ``normalize=True`` (VERDICT r12 brief #3) unit-norms every input
    at fixed-point decode (:func:`unit_fixed`) BEFORE anything else,
    making ``metric="dot"`` TRUE SPHERICAL k-means (the cosine
    objective): the mean-dot update is no longer norm-biased — a
    large-norm outlier contributes one unit direction, not a
    mean-dragging multiple. Because the serve-side placement score
    ``argmax x·μ_c/nv`` is scale-invariant in ``x``, training on
    directions stays placement-consistent for raw vectors; pair it
    with ``init_ivf_index(train_normalize=True)`` so the frozen
    centroids aggregate the same directions."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}, "
                         f"got {metric!r}")
    ci_col = _fixed_point(_checked_dim(vec_col, dim, "train_centroids"))
    if normalize:
        ci_col = unit_fixed(ci_col)
    dec = (emb.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).cast("array<float>").alias("embedding"),
        ci_col.alias("ci"))
        .withColumn("x2", _fixed_dot("ci", "ci"))
        # ONE setup shuffle (hash on vec_id — content-keyed, so the
        # layout is irrelevant to every exact aggregate downstream)
        # buys full-cluster parallelism for EVERY iteration's k-dot
        # assignment pass: a small training sample often arrives in
        # 1-2 partitions, which would serialize the whole loop
        .repartition("vec_id")
        .localCheckpoint())     # one materialization; every
    #                             iteration re-reads this, not lineage
    n = dec.count()
    if n < k:
        raise ValueError(
            f"cannot train {k} centroids from {n} vectors")

    cents = _seed_centroids(dec, k)
    inertia: list[float] = []
    reseeds: list[int] = []
    converged = False

    for _ in range(n_iters):
        cf = _centroid_literal(spark, cents)
        assigned = _assigned(dec, cf, metric)
        stats = _iteration_stats(assigned, dim)
        _, iner = _exact_inertia(stats)
        inertia.append(round(iner, 9))

        new_cents = [(d["cell"], d["csum"], d["nv"]) for d in stats]
        empty = sorted(set(range(k)) - {c for c, _, _ in new_cents})
        reseeds.append(len(empty))
        if empty:
            new_cents += [(cell_id, ci, 1) for cell_id, ci
                          in _reseed(assigned, stats, empty)]
            new_cents.sort()
        if new_cents == cents:     # exact integer fixed point
            converged = True
            break
        cents = new_cents

    # final labels under the LAST centroids (one more assignment pass
    # so labels and returned centroids agree; init_ivf_index will
    # re-aggregate means from these labels — one further Lloyd
    # update, still a valid frozen quantizer; at a converged fixed
    # point the re-aggregate reproduces these centroids exactly)
    cf = _centroid_literal(spark, cents)
    labeled = (dec.crossJoin(F.broadcast(cf))
               .select("vec_id", "embedding",
                       _best_cell(metric)["cell"].alias("label")))
    return {"labeled": labeled, "centroids": cents,
            "inertia": inertia, "reseeds": reseeds,
            "n_iters_run": len(inertia), "k": k,
            "converged": converged, "metric": metric,
            "normalize": normalize}
