"""int8-compressed posting storage for the incremental vector
indexes (VERDICT r11 brief #3): at 100 TB the dominant probe cost is
the posting-list scan, and a float32 embedding column is ~4× the
bytes of a symmetric int8 code. This module wires the engine's
PROVEN quantizer (queries/similarity.quantize_int8 — the
oracle-checked sim5 arithmetic, bit-for-bit) into the index layouts:

- **Codes**: per-vector symmetric scale ``m = max|c_nano|`` (BIGINT)
  and round-half-up codes ``q = ⌊(2·127·c + m)/(2m)⌋ ∈ [−127, 127]``
  over the exact nano-unit components — stored as ``ARRAY<TINYINT>``
  + one BIGINT, ~4× smaller on disk than ``ARRAY<FLOAT>`` (measured
  by the fsck's ``table_bytes``).
- **Scale-free scoring**: the dequantized component is ``q·m/127``
  nano-units, so the cosine between a full-precision query and a
  stored code is EXACTLY the cosine of the dequantized vector — the
  per-vector scale cancels::

      cos(x_deq, q) = Σ(qci·q) / (√Σq² · √Σqci²)

  Both folds are exact int64 (|qci·q| ≤ 127·2³¹·64 ≈ 2⁴⁴ — no hi/lo
  split needed), the only floats are the final sqrt/divide of
  exactly-derived values: deterministic on every executor, every
  partitioning. A codes-only probe therefore scores the TRUE cosine
  of the quantized vectors — approximation error is the quantizer's
  reconstruction error (sim5 reports it exactly), not scoring drift.
- **Exact rerank on the short list**: probes over an int8 root take
  a top-(cut·k) candidate slice on code cosine, then — when the
  caller supplies the original float vectors (``rerank_vectors``,
  e.g. the corpus or the embeddings table the index was built from)
  — re-rank ONLY those candidates with the engine's full fixed-point
  cosine. The candidate list is probe-sized (≤ cut·k rows), so the
  fetch is a broadcast semi-join against the vector source; at 100
  TB point the source at an id-pruned store, not a full scan.

Placement/routing always computes from the ORIGINAL embedding at
ingest time (cells via the frozen quantizer, buckets via the LSH
fold) — compression changes what is STORED, never where it goes, so
directory pruning and the partition layout are identical to float
roots. The reference stores full float vectors and rebuilds per run
(operators/similarity.write_ivf_index cites it); int8 postings are
the standard production compression (FAISS SQ8) of that structure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries.similarity import QUANT_LEVELS

# Schema fragment shared by both index families' int8 layouts.
CODE_COLS = "code ARRAY<TINYINT>, scale BIGINT"


def quantize_code(ci: Column) -> "tuple[Column, Column]":
    """(code, scale) from exact nano-unit int64 components — the
    sim5 arithmetic verbatim (queries/similarity.quantize_int8):
    scale = max|c|, half-up code = ⌊(2·127·c + m)/(2m)⌋. The double
    division is exact (numerator ≤ 254·2³¹ ≪ 2⁵³), so codes are
    bit-stable cross-engine like sim5's oracle pins."""
    L = QUANT_LEVELS
    m = F.array_max(F.transform(ci, F.abs))
    code = F.transform(
        ci,
        lambda x: F.when(m == 0, F.lit(0).cast("tinyint"))
        .otherwise(F.floor(
            (F.lit(2 * L) * x + m).cast("double")
            / (F.lit(2) * m).cast("double")).cast("tinyint")))
    return code, m


def dequant_embedding(code: Column, scale: Column) -> Column:
    """ARRAY<FLOAT> reconstruction (q·m/127 nano-units → embedding
    units) — what training, recall grading, and a float-storage
    migration read from an int8 root. Lossy by exactly the sim5
    ``mean_abs_err``; document consumers accordingly."""
    L = float(QUANT_LEVELS) * 1e9
    return F.transform(
        code,
        lambda q: (q.cast("double") * scale.cast("double")
                   / F.lit(L)).cast("float"))


def code_cosine(qci: str, qsq: str, ndigits: int = 9) -> Column:
    """Exact cosine of (full-precision query, dequantized stored
    vector) — the per-vector scale cancels (module docstring), so
    only the raw ``code`` column participates: one exact int64 fold
    for the dot, one for ‖q_code‖², the query norm passed in. Rounded
    like the float probes' rerank so result rows are comparable. The
    int8 branch of ``queries.similarity.exact_cosine``, and like it one
    SQL-text ``F.expr`` over SQL-text operands (``qci``: column name
    or exact ``array(…L)`` literal; ``qsq``: ‖q‖²/1e18) — one
    gateway call for the same analyzed tree a Column build pays a
    Py4J round trip per node for, with literals spelled exactly.

    dot ≤ 2^44 and csq ≤ 64·127² — both exactly double-representable.
    csq > 0 guard: an all-zero code (a stored zero vector — legal)
    folds to NULL cosine (ranked last), never an ANSI divide-by-zero
    that kills the probe."""
    dot = (f"aggregate(zip_with({qci}, code, (a, b) -> a * CAST(b AS "
           f"BIGINT)), 0L, (acc, p) -> acc + p)")
    csq = (f"aggregate(transform(code, b -> CAST(b AS BIGINT) * CAST(b "
           f"AS BIGINT)), 0L, (acc, p) -> acc + p)")
    return F.expr(
        f"CASE WHEN {csq} > 0 THEN round(CAST({dot} AS DOUBLE) / "
        f"(sqrt(CAST({csq} AS DOUBLE)) * sqrt({qsq} * 1e18)), "
        f"{ndigits}) END")


def attach_codes(delta: DataFrame, dim: int, what: str) -> DataFrame:
    """(… , code, scale) for a delta frame: PASSTHROUGH when the
    frame already carries both columns (a migration moving codes
    VERBATIM between int8 roots — no double-quantization loss), else
    quantized from the ``embedding`` column."""
    if "code" in delta.columns and "scale" in delta.columns:
        return delta
    from ..operators.similarity import _fixed_point
    from .vector_index import _checked_dim

    ci = _fixed_point(_checked_dim("embedding", dim, what))
    code, scale = quantize_code(ci)
    return delta.withColumn("code", code).withColumn("scale", scale)
