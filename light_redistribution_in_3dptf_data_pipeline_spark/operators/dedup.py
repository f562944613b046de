"""Deduplication operators: exact, MinHash+LSH, SimHash.

Scale design (the whole point of these over tx6's exhaustive pairwise
join):

- **Exact**: one shuffle on a 128-bit content hash. O(N).
- **MinHash+LSH**: signature = per-doc min of k seeded hashes over its
  shingle set; banding turns "jaccard ≥ t" into "equal band signature
  in ≥1 band" — a *bucket equi-join*, so candidate generation is
  O(N·bands) shuffle, never O(N²). Candidate pairs are a superset of
  the truly-similar pairs (verified exactly afterwards on the much
  smaller candidate set).
- **SimHash**: 64-bit fingerprint whose Hamming distance tracks cosine
  similarity of the token multiset; near-dup = equal fingerprint (or
  equal in ≥1 of a few rotated bit-bands). One shuffle.

Everything uses Spark's deterministic murmur3 ``hash``/``xxhash64`` —
stable across runs, executors and machines, so results are
reproducible cluster-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..queries.registry import register

SHINGLE_N = 3
NUM_HASHES = 32
LSH_BANDS = 8          # 8 bands × 4 rows ≈ jaccard threshold ~0.55
HASH_PRIME = 2147483647


def shingles(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", n: int = SHINGLE_N,
             max_doc_freq: int | None = None) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Array-native: n-grams via an indexed transform and per-row
    array_distinct — a pure flat map with zero shuffles, unlike the
    window-sort + global DISTINCT formulation it replaces.

    ``max_doc_freq``: drop *stop-shingles* appearing in more than
    this many documents — the standard skew guard for shingle-keyed
    joins at scale. A boilerplate shingle shared by 1% of a 100 TB
    corpus otherwise lands its entire posting list on one task (and
    carries no near-dup signal anyway: ubiquitous ≠ similar). The hot
    set is tiny by construction, so the filter is one aggregate plus
    a broadcast anti-join."""
    from ..functions import ngram_shingles, whitespace_tokens

    toks = docs.select(id_col, whitespace_tokens(F.col(text_col))
                       .alias("_toks"))
    sh = toks.select(
        id_col, F.explode(ngram_shingles(F.col("_toks"), n))
        .alias("shingle"))
    if max_doc_freq is not None:
        hot = (sh.groupBy("shingle")
               .agg(F.count("*").alias("_df"))
               .filter(F.col("_df") > max_doc_freq)
               .select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """(id, sig ARRAY<INT>[k]) — k seeded murmur3 mins per document.

    Wide-aggregate form: all k per-seed mins are columns of ONE hash
    aggregate over the raw shingle rows (map-side partial mins, one
    shuffle of N·1 rows), packed into a single array column. The
    k-fold row expansion of the naive seeds-crossJoin (N·k shuffled
    rows) never materializes, and downstream stages consume the
    signature as one value — no unpivot, no re-grouping. The k mins
    are one SQL-text ``F.expr`` (queries/similarity.py's note on
    SQL text: one gateway call, not one per literal and operator).
    """
    mins = ", ".join(f"min(pmod(hash(shingle, {i}), {HASH_PRIME}))"
                     for i in range(num_hashes))
    return sh.groupBy(id_col).agg(F.expr(f"array({mins})").alias("sig"))


def _band_rows(frame: DataFrame, cols: list[str], keys: list[str],
               name: str) -> DataFrame:
    """Explode ``frame`` into (cols..., band, ``name``) rows, band
    ``b`` keyed by the SQL text ``keys[b]`` — the shared banding step
    of the MinHash and SimHash bucket joins, its band structs one
    SQL-text ``F.expr``."""
    structs = ", ".join(f"struct({b} AS band, {key} AS {name})"
                        for b, key in enumerate(keys))
    return (frame.select(*cols, F.explode(F.expr(f"array({structs})"))
                         .alias("bs"))
            .select(*cols, F.col("bs.band").alias("band"),
                    F.col(f"bs.{name}").alias(name)))


def _minhash_band_keys(bands: int, num_hashes: int) -> list[str]:
    """Band ``b``'s key: xxhash64 of its slice of the signature."""
    rpb = num_hashes // bands
    return [f"xxhash64(slice(sig, {b * rpb + 1}, {rpb}))"
            for b in range(bands)]


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        bands: int = LSH_BANDS,
                        num_hashes: int = NUM_HASHES) -> DataFrame:
    """Banded LSH: docs sharing any band signature become a candidate
    pair. Returns (doc_a, doc_b, n_shared_bands).

    Band signatures are per-row slices of the signature array hashed
    with xxhash64 — a pure map (the old formulation re-grouped N·k
    unpivoted rows: one whole extra shuffle). Only the N·bands band
    rows reach the bucket equi-join."""
    band_rows = _band_rows(sig, [id_col],
                           _minhash_band_keys(bands, num_hashes),
                           "band_sig")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"))
             .agg(F.count("*").cast("bigint").alias("n_shared_bands")))


def minhash_jaccard_estimate(sig: DataFrame, pairs: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Estimated jaccard = fraction of agreeing signature positions,
    computed only for candidate pairs (small set): two N-row joins to
    attach the signature arrays, one zip_with fold per pair — the k×
    row blow-up of a positional join never happens."""
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("_sb"))
    agree = F.size(F.filter(
        F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda m: m))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "n_shared_bands",
                    (agree.cast("double") / F.size("_sa"))
                    .alias("est_jaccard")))


def lsh_neardup_pairs(sh: DataFrame, id_col: str = "doc_id",
                      bands: int = LSH_BANDS,
                      num_hashes: int = NUM_HASHES) -> DataFrame:
    """Fused candidate generation + jaccard estimate — the hot path.

    The signature arrays RIDE the band bucket join (each band row
    carries its doc's full signature), so the estimate costs zero
    extra joins and the expensive shingle→signature subtree appears
    once per join side; both sides exchange on the same (band,
    band_sig) key from an identical subtree, which Spark collapses
    via ReusedExchange — the signatures are effectively computed ONCE.
    Returns (doc_a, doc_b, n_shared_bands, est_jaccard)."""
    sig = minhash_signatures(sh, id_col, num_hashes)
    band_rows = _band_rows(sig, [id_col, "sig"],
                           _minhash_band_keys(bands, num_hashes),
                           "band_sig")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    grouped = (a.join(b, (F.col("a.band") == F.col("b.band"))
                      & (F.col("a.band_sig") == F.col("b.band_sig"))
                      & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
               .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                        F.col(f"b.{id_col}").alias("doc_b"))
               .agg(F.count("*").cast("bigint").alias("n_shared_bands"),
                    F.first(F.col("a.sig")).alias("_sa"),
                    F.first(F.col("b.sig")).alias("_sb")))
    agree = F.size(F.filter(
        F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda m: m))
    return grouped.select(
        "doc_a", "doc_b", "n_shared_bands",
        (agree.cast("double") / F.size("_sa")).alias("est_jaccard"))


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         hash_fn=None, n_bits: int = 64,
                         out: str = "simhash") -> DataFrame:
    """SimHash per document from per-token hash bits.

    Single explode + single groupBy; the per-bit counters are one
    wide aggregate row (JVM codegen), not ``n_bits`` passes.

    ``hash_fn`` maps a token Column to a BIGINT hash Column. The
    default is ``xxhash64`` (the fast JVM intrinsic — production
    path); the registered dx2 query passes the md5-derived
    engine-portable 60-bit hash instead so the whole pipeline is
    oracle-checkable (see queries in this module).
    """
    toks = docs.select(
        id_col,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"))
    h = (hash_fn or F.xxhash64)(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
               .otherwise(-1)).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0,
                     F.lit(1).cast("bigint")).otherwise(F.lit(0)
                                                        .cast("bigint"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(id_col, fp.alias(out))


def inrow_simhash(text, hash_fn=None, n_bits: int = 64):
    """SimHash as a single map-only Column over ``text`` — no explode,
    no groupBy, NO SHUFFLE: per-row token split, per-token hash, and
    the per-bit ±1 majority all evaluate inside the row.

    Cost contract (measured at sf0.1, r6): ~6x slower per row than
    :func:`simhash_fingerprints` — the 64 ``filter`` traversals are
    interpreted higher-order functions, while the explode+groupBy
    form's 64 counters run in one codegen'd aggregate pass. Batch
    pipelines should keep ``simhash_fingerprints``; this form exists
    because it is the only STREAM-SAFE formulation: with zero
    aggregation it can precede ``dropDuplicates[WithinWatermark]`` in
    an append-mode stream (streaming/dedup.streaming_dedup_neardup),
    where a grouped fingerprint would demand a second stateful stage.
    Identical output to ``simhash_fingerprints`` (pinned by
    tests/test_streaming_dedup.py)."""
    hf = hash_fn or F.xxhash64
    hs = F.transform(F.split(F.trim(text), r"\s+"), lambda t: hf(t))
    n = F.size(hs)
    fp = None
    for i in range(n_bits):
        cnt = F.size(F.filter(
            hs, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1))
        bit = F.when(2 * cnt - n > 0, F.lit(1).cast("bigint")) \
               .otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return fp


SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def _simhash_band_rows(fp_frame: DataFrame, cols: list[str],
                       fp_col: str, bands: int) -> DataFrame:
    """Explode a fingerprint frame into (cols..., band, slice) rows —
    the banding step of every SimHash bucket join (64/bands bits per
    slice)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return _band_rows(
        fp_frame, cols,
        [f"shiftrightunsigned(`{fp_col}`, {b * width}) & {mask}"
         for b in range(bands)], "slice")


def simhash_band_candidates(fp: DataFrame, id_col: str = "doc_id",
                            fp_col: str = "simhash",
                            bands: int = SIMHASH_BANDS,
                            max_hamming: int = SIMHASH_MAX_HAMMING
                            ) -> DataFrame:
    """SimHash near-dup pairs at scale: band the 64-bit fingerprint
    into ``bands`` equal bit-slices and bucket-join on (band, slice),
    then verify candidates exactly with the Hamming distance
    (bit_count of XOR — one JVM intrinsic per pair).

    Pigeonhole guarantee: a pair with Hamming distance d < ``bands``
    differs in at most d bands, so it shares at least bands−d ≥ 1
    exact band slice and MUST surface as a candidate — recall is 1.0
    for d ≤ bands−1 (with the default 4 bands: all pairs within
    Hamming 3). Shuffle cost is O(N·bands) band rows, never O(N²).
    Returns (doc_a, doc_b, hamming) with hamming ≤ ``max_hamming``.
    """
    rows = _simhash_band_rows(fp, [id_col, fp_col], fp_col, bands)
    a = rows.alias("a")
    b = rows.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.slice") == F.col("b.slice"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                    hamming.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def dedup_delta_exact(new_docs: DataFrame, index: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      hash_col: str = "content_hash"
                      ) -> tuple[DataFrame, DataFrame]:
    """Incremental EXACT dedup: admit only new documents whose content
    hash is neither in the historical ``index`` (one ``hash_col``
    column) nor earlier in this delta. Returns
    ``(survivors, updated_index)``.

    The 100 TB shape: a daily ingest never re-dedups the corpus — it
    dedups the DELTA against a hash index. Cost is one groupBy over
    the delta (in-delta survivor = min id, deterministic) plus one
    anti-join delta×index on the hash (broadcast when the delta is
    small, AQE otherwise). The updated index is ``index ∪ admitted``
    with NO distinct: the anti-join already guarantees disjointness,
    so extending the index is append-only — exactly how the index
    parquet/Delta table grows in production."""
    from pyspark.sql import Window

    hashed = new_docs.withColumn(
        hash_col, F.md5(F.col(text_col).cast("binary")))
    w = Window.partitionBy(hash_col).orderBy(id_col)
    in_delta = (hashed.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))
    survivors = in_delta.join(index, hash_col, "left_anti")
    updated = index.unionByName(survivors.select(hash_col))
    return survivors, updated


def neardup_delta_simhash(new_docs: DataFrame, index: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          fp_col: str = "simhash",
                          bands: int = SIMHASH_BANDS,
                          max_hamming: int = SIMHASH_MAX_HAMMING
                          ) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup: admit only new documents whose
    SimHash is farther than ``max_hamming`` from every fingerprint in
    the historical ``index`` (one ``fp_col`` column) AND from every
    earlier-admitted fingerprint in this delta. Returns
    ``(survivors, updated_index)``.

    Scale shape: both the delta×index check and the in-delta check go
    through the banded bucket join (``bands`` slices of the 64-bit
    fingerprint — pigeonhole recall 1 for Hamming ≤ bands−1), so the
    cost is O((|delta| + matched-bucket index rows) · bands), never
    |delta|·|index|. In-delta policy (one pass, deterministic): a doc
    is dropped when ANY lower-id delta doc — admitted or itself
    dropped — is within ``max_hamming``. On a chain a~b~c (a≁c) this
    drops both b and c: more aggressive than sequential greedy (which
    would re-admit c after dropping b), monotone in id order, and
    iteration-free — the right trade for an ingest gate, where a
    borderline family collapsing to its first-seen member is the
    intended outcome. Exact-distance verification bounds the damage:
    only genuinely-near chains collapse, never whole buckets."""
    # Materialize the fingerprint aggregation ONCE: fp_new feeds the
    # delta×index band rows, the delta×delta band rows, and the final
    # survivors anti-join — without this the explode+groupBy+join
    # subtree executes three times (the materialize-before-reuse
    # discipline of operators/components.py).
    fp_new = (simhash_fingerprints(new_docs, text_col=text_col,
                                   id_col=id_col, out=fp_col)
              .join(new_docs, id_col)
              .localCheckpoint())

    d = _simhash_band_rows(fp_new, [id_col, fp_col],
                           fp_col, bands).alias("d")
    # delta × index: any banded collision within max_hamming kills
    ix = _simhash_band_rows(index, [fp_col], fp_col, bands).alias("i")
    hit_ix = (d.join(ix, (F.col("d.band") == F.col("i.band"))
                     & (F.col("d.slice") == F.col("i.slice")))
              .filter(F.bit_count(
                  F.col(f"d.{fp_col}").bitwiseXOR(F.col(f"i.{fp_col}")))
                  <= max_hamming)
              .select(F.col(f"d.{id_col}").alias(id_col)).distinct())
    # delta × delta: only LOWER ids kill higher ids (greedy-by-id)
    d2 = _simhash_band_rows(fp_new, [id_col, fp_col],
                            fp_col, bands).alias("e")
    hit_delta = (d.join(d2, (F.col("d.band") == F.col("e.band"))
                        & (F.col("d.slice") == F.col("e.slice"))
                        & (F.col(f"e.{id_col}") < F.col(f"d.{id_col}")))
                 .filter(F.bit_count(
                     F.col(f"d.{fp_col}")
                     .bitwiseXOR(F.col(f"e.{fp_col}"))) <= max_hamming)
                 .select(F.col(f"d.{id_col}").alias(id_col)).distinct())
    killed = hit_ix.unionByName(hit_delta).distinct()
    survivors = fp_new.join(killed, id_col, "left_anti")
    updated = index.unionByName(survivors.select(fp_col))
    return survivors, updated


def winnow_fingerprint_rows(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_doc_freq: int | None = None
                            ) -> DataFrame:
    """(id, fp) rows of each document's distinct MOSS-winnowed k-gram
    fingerprints — the PASSAGE-level index (same constants and column
    algebra as the oracle-checked tx1/tx4 winnow stats, so the hash
    arithmetic is already cross-engine-pinned). A pure map + explode.

    ``max_doc_freq`` drops fingerprints appearing in more than that
    many documents — boilerplate spans (headers, license blocks)
    carry no duplication signal and would otherwise skew the bucket
    join exactly like stop-shingles (see :func:`shingles`).

    The fingerprint array comes from the Arrow winnow path
    (udf/winnow.with_winnow_fps_arrow): same mod-Horner algebra as
    the oracle-pinned Column form, ~100x cheaper on the per-char hot
    loop (queries/text.py staging notes), and explode order is
    irrelevant downstream (the consumer is a groupBy)."""
    from ..udf.winnow import with_winnow_fps_arrow

    rows = (with_winnow_fps_arrow(
                docs.select(id_col, text_col), text_col, out="_fps")
            .select(id_col, F.explode("_fps").alias("fp")))
    if max_doc_freq is not None:
        hot = (rows.groupBy("fp").agg(F.count("*").alias("_df"))
               .filter(F.col("_df") > max_doc_freq).select("fp"))
        rows = rows.join(F.broadcast(hot), "fp", "left_anti")
    return rows


def passage_dup_candidates(docs: DataFrame, min_shared: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           max_doc_freq: int | None = None
                           ) -> DataFrame:
    """SUBSTRING-level duplicate detection: document pairs sharing at
    least ``min_shared`` winnowed fingerprints, i.e. pairs that share
    copied PASSAGES even when the documents as wholes are unrelated.

    Why this exists alongside MinHash/SimHash: whole-document
    similarity dilutes — a paragraph copied into two otherwise-
    different documents leaves their shingle jaccard near zero and
    their SimHash far apart, so neither dedup family fires. Winnowing
    is LOCAL: any shared span of ≥ K+W−1 chars deposits at least one
    identical fingerprint in both documents regardless of everything
    around it (the MOSS guarantee), so shared passages surface as
    shared index rows. ``min_shared`` ≥ 2 suppresses single-hash
    coincidences (p ≈ windows²/2·1e-9 per pair at the default
    modulus); raise it to lengthen the minimum detected span.

    Returns (doc_a, doc_b, n_shared_fp), doc_a < doc_b.

    Scale shape: one map+explode, then a bucket equi-join on the
    fingerprint value — O(N·fps) shuffled rows like the LSH band
    join, never O(N²) text comparison; ``max_doc_freq`` is the
    boilerplate/skew guard. At 100 TB the fingerprint rows ARE the
    persistable passage index (append-only, same lifecycle as the
    simhash index).
    """
    # Materialize the fingerprint rows ONCE: the raw plan re-runs the
    # Arrow winnow map for the hot-fp subquery and again for EACH side
    # of the self-join (3x the per-char hot loop — measured 1.85x
    # slower end-to-end at sf0.1). The checkpoint is the unfiltered
    # explode; the hot-fp guard then reads it twice cheaply.
    rows = winnow_fingerprint_rows(docs, text_col, id_col,
                                   None).localCheckpoint()
    if max_doc_freq is not None:
        hot = (rows.groupBy("fp").agg(F.count("*").alias("_df"))
               .filter(F.col("_df") > max_doc_freq).select("fp"))
        rows = rows.join(F.broadcast(hot), "fp", "left_anti")
    a, b = rows.alias("a"), rows.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
            .agg(F.count("*").cast("bigint").alias("n_shared_fp"))
            .filter(F.col("n_shared_fp") >= min_shared))


def minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dx1 (unregistered): MinHash(32)+LSH(8 bands) candidate pairs
    with estimated jaccard — bucket-join instead of O(N²). Superseded
    in the registry by ``dx5_lsh_neardup_decision``, which exercises
    the same candidate-generation path AND is oracle-checked end to
    end; the superset-vs-tx6 and recall properties of this raw
    candidate form stay covered by tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_neardup_pairs(shingles(docs))


# Engine-portable 60-bit token hash: the first 15 hex chars of md5
# parsed as an integer — Spark's conv(substr(md5,1,15),16,10) and
# DuckDB's ('0x'||substr(md5,1,15))::BIGINT produce the same int64
# (60 bits < 63, no sign issues). ~2x slower than the xxhash64
# intrinsic, so production fingerprinting keeps xxhash64; this hash
# exists so the registered query is oracle-checkable end to end.
def _portable_hash60(tok):
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


DX2_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
  FROM tok
), bits AS (
  SELECT doc_id, b.i AS i,
         sum(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM h, range(0, 60) AS b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0
                     THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                     ELSE 0 END) AS BIGINT) AS simhash60
FROM bits GROUP BY doc_id
"""


@register(
    "dx2_simhash_fingerprints", DX2_ORACLE,
    doc="Dedup scale path: SimHash fingerprints, ORACLE-CHECKED — the "
        "full pipeline (whitespace tokenize → per-token hash → "
        "per-bit ±1 counters → sign fingerprint) runs on an "
        "md5-derived engine-portable 60-bit hash so DuckDB restates "
        "it exactly (the oracle expands bits relationally; Spark "
        "keeps the one-explode + one-wide-groupBy shape — 60 counter "
        "columns in a single codegen'd aggregate, one shuffle). "
        "Production fingerprinting uses the same code path with the "
        "xxhash64 JVM intrinsic (operators/dedup.simhash_fingerprints "
        "default), covered by determinism + banded-Hamming recall "
        "tests")
def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (simhash_fingerprints(docs, hash_fn=_portable_hash60,
                                 n_bits=60, out="simhash60")
            .orderBy("doc_id"))


def lsh_verified_neardups(docs: DataFrame, threshold: float,
                          id_col: str = "doc_id",
                          bands: int = LSH_BANDS,
                          num_hashes: int = NUM_HASHES,
                          max_doc_freq: int | None = None) -> DataFrame:
    """The full scale-path near-dup DECISION: LSH candidate generation
    followed by exact-jaccard verification on the candidate set only.

    This is the production two-phase shape: phase 1 is the O(N·bands)
    bucket join (never all-pairs); phase 2 attaches the two shingle
    sets of each *candidate* pair (joins sized by the candidate set,
    tiny relative to the corpus) and computes exact jaccard with one
    in-row ``array_intersect`` — so the final output is engine-hash-
    independent and equals the exhaustive formulation whenever LSH
    recall at ``threshold`` is 1 (the tested regime: above-threshold
    fixture pairs sit at jaccard ≥ 0.9, where an 8×4 banding misses
    with p ≈ 2e-4).

    Returns (doc_a, doc_b, n_inter, jaccard) with jaccard ≥ threshold.

    ``max_doc_freq``: the stop-shingle skew guard, passed through to
    :func:`shingles`. The registered dx5 query keeps it off (the
    guard changes which shingles exist, so the exhaustive oracle
    would have to drop the same set); a production run over a
    boilerplate-bearing corpus should set it — the band join's
    fan-out bound is what tests/test_skew.py measures.
    """
    sh = shingles(docs, id_col=id_col, max_doc_freq=max_doc_freq)
    cand = (lsh_candidate_pairs(minhash_signatures(sh, id_col,
                                                   num_hashes),
                                id_col, bands, num_hashes)
            .select("doc_a", "doc_b"))
    sets_ = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("_set"))
    a = sets_.select(F.col(id_col).alias("doc_a"),
                     F.col("_set").alias("_sa"))
    b = sets_.select(F.col(id_col).alias("doc_b"),
                     F.col("_set").alias("_sb"))
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = (n_inter.cast("double")
           / (F.size("_sa") + F.size("_sb") - n_inter))
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b",
                    n_inter.cast("bigint").alias("n_inter"),
                    jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def lsh_dedup_accounting(docs: DataFrame, threshold: float,
                         id_col: str = "doc_id",
                         bands: int = LSH_BANDS,
                         num_hashes: int = NUM_HASHES,
                         max_doc_freq: int | None = None) -> DataFrame:
    """One-row candidate/verify/admit ledger for the LSH near-dup
    decision — the observability a 100 TB dedup run needs to catch
    banding drift IN PRODUCTION (not just in tests): a collapsing
    ``candidate_precision`` means the banding got too wide (wasted
    verify joins); a verified count trending toward the candidate
    count means it got too narrow (recall is about to fall off the
    pigeonhole cliff); ``max_candidates_per_doc`` is the skew canary
    for the bucket join.

    Columns: n_docs, n_candidate_pairs, n_verified_pairs (exact
    jaccard ≥ threshold on the candidate set), candidate_precision,
    n_dropped_docs (greedy keep-first policy), max_candidates_per_doc.

    Cost: the same two-phase plan as :func:`lsh_verified_neardups`
    with the threshold filter replaced by aggregates — run it on a
    sample stratum in production, or fold it over the full run's
    candidate frame.
    """
    sh = shingles(docs, id_col=id_col, max_doc_freq=max_doc_freq)
    cand = (lsh_candidate_pairs(minhash_signatures(sh, id_col,
                                                   num_hashes),
                                id_col, bands, num_hashes)
            .select("doc_a", "doc_b"))
    sets_ = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("_set"))
    a = sets_.select(F.col(id_col).alias("doc_a"),
                     F.col("_set").alias("_sa"))
    b = sets_.select(F.col(id_col).alias("doc_b"),
                     F.col("_set").alias("_sb"))
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = (n_inter.cast("double")
           / (F.size("_sa") + F.size("_sb") - n_inter))
    scored = (cand.join(a, "doc_a").join(b, "doc_b")
              .select("doc_a", "doc_b", jac.alias("jaccard"))
              .localCheckpoint())  # reused by three aggregates below

    per_doc = (scored.select(F.col("doc_a").alias("d"))
               .unionAll(scored.select(F.col("doc_b").alias("d")))
               .groupBy("d").agg(F.count("*").alias("k"))
               .agg(F.max("k").alias("max_k")))
    dropped = (scored.filter(F.col("jaccard") >= threshold)
               .select(F.col("doc_b").alias("d")).distinct()
               .agg(F.count("*").alias("n_drop")))
    totals = scored.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs"),
        F.sum((F.col("jaccard") >= threshold).cast("bigint"))
         .alias("n_verified_pairs"))
    return (totals.crossJoin(docs.agg(
                F.count("*").cast("bigint").alias("n_docs")))
            .crossJoin(per_doc).crossJoin(dropped)
            .select(
                "n_docs", "n_candidate_pairs",
                F.coalesce("n_verified_pairs", F.lit(0))
                 .alias("n_verified_pairs"),
                (F.coalesce("n_verified_pairs", F.lit(0)).cast("double")
                 / F.greatest("n_candidate_pairs", F.lit(1)))
                .alias("candidate_precision"),
                F.coalesce("n_drop", F.lit(0)).cast("bigint")
                 .alias("n_dropped_docs"),
                F.coalesce("max_k", F.lit(0)).cast("bigint")
                 .alias("max_candidates_per_doc")))


def simhash_dedup_accounting(fp: DataFrame, id_col: str = "doc_id",
                             fp_col: str = "simhash",
                             bands: int = SIMHASH_BANDS,
                             max_hamming: int = SIMHASH_MAX_HAMMING
                             ) -> DataFrame:
    """One-row ledger for the SimHash banding path: bucket collisions
    generated vs pairs surviving the exact Hamming verify. Columns:
    n_docs, n_candidate_pairs (distinct banded collisions),
    n_verified_pairs (Hamming ≤ max_hamming), candidate_precision."""
    rows = _simhash_band_rows(fp, [id_col, fp_col], fp_col, bands)
    a, b = rows.alias("a"), rows.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.slice") == F.col("b.slice"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"),
                     hamming.cast("int").alias("hamming"))
             .distinct())
    return (pairs.agg(
                F.count("*").cast("bigint").alias("n_candidate_pairs"),
                F.sum((F.col("hamming") <= max_hamming).cast("bigint"))
                 .alias("n_verified_pairs"))
            .crossJoin(fp.agg(F.count("*").cast("bigint")
                              .alias("n_docs")))
            .select("n_docs", "n_candidate_pairs",
                    F.coalesce("n_verified_pairs", F.lit(0))
                     .alias("n_verified_pairs"),
                    (F.coalesce("n_verified_pairs", F.lit(0))
                     .cast("double")
                     / F.greatest("n_candidate_pairs", F.lit(1)))
                    .alias("candidate_precision")))


def _dx5_oracle() -> str:
    from ..queries.text import NEARDUP_ORACLE
    return NEARDUP_ORACLE


@register(
    "dx5_lsh_neardup_decision", None,  # oracle attached below
    doc="Dedup scale path, ORACLE-CHECKED end to end: MinHash+LSH "
        "candidates -> exact-jaccard verification on the candidate "
        "subset -> threshold decision. Same SQL oracle as tx6 (the "
        "exhaustive baseline): the two formulations agree exactly "
        "because verified-LSH output = {pairs with exact jaccard >= "
        "tau} whenever banding recall is 1 at tau (superset property "
        "tested in tests/test_operators.py)")
def lsh_neardup_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries.text import JACCARD_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    # 16x2 banding (vs dx1's 8x4): the exact-verify phase erases the
    # precision cost of wider banding, and recall is what keeps this
    # row equal to the exhaustive oracle — at jaccard 0.9 the per-pair
    # miss probability drops from ~2e-4 to ~3e-12, so the equality is
    # robust to fixture regeneration, not just true on today's seed.
    return lsh_verified_neardups(docs, JACCARD_THRESHOLD, bands=16)


def passage_delta_gate(new_docs: DataFrame, index: DataFrame,
                       min_shared: int = 8,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       max_doc_freq: int | None = None
                       ) -> tuple[DataFrame, DataFrame]:
    """Incremental PASSAGE-level dedup: drop a delta document when it
    shares at least ``min_shared`` winnowed fingerprints with any
    single document in the persisted ``index`` ((doc_id, fp) rows of
    the committed corpus) — or with any lower-id delta document.
    Returns ``(survivors, survivor_fp_rows)``; the fp rows are the
    append-only index delta (same lifecycle as the content-hash and
    simhash indexes).

    Scale shape mirrors :func:`neardup_delta_simhash`: the delta's fp
    rows are one Arrow map + explode; the index check is ONE equi-join
    on the fingerprint value sized by the MATCHING rows (directory-
    pruned index scan, never all-pairs); the in-delta check is the
    delta-sized self-join. ``max_doc_freq`` drops fingerprints whose
    COMBINED (index + delta) document frequency exceeds the bound —
    the same corpus-wide guard :func:`passage_dup_candidates` applies,
    because to this gate "the corpus" is committed docs PLUS the delta
    itself: a boilerplate template shared only among delta documents
    (a crawl batch from one site) must not kill every doc after the
    first. Both frequencies are measured on delta-sized frames (the
    index side from the join result, never a corpus scan), so the
    guard keeps the gate's data cost O(delta + matches), never
    O(corpus). In-delta policy (deterministic, iteration-free): any
    lower-id delta doc — itself admitted or dropped — kills a
    higher-id doc sharing the passage, collapsing a copied-passage
    family to its first-seen member."""
    p = _passage_gate_parts(new_docs, index, min_shared, text_col,
                            id_col, max_doc_freq)
    survivors = new_docs.join(p["killed"], id_col, "left_anti")
    surv_fps = p["fp_new"].join(p["killed"], id_col, "left_anti")
    return survivors, surv_fps


def _passage_gate_parts(new_docs: DataFrame, index: DataFrame,
                        min_shared: int, text_col: str, id_col: str,
                        max_doc_freq: int | None) -> dict:
    """The passage gate's intermediate frames, shared verbatim by
    :func:`passage_delta_gate` (the decision) and
    :func:`winnow_dedup_accounting` (the ledger) so the two can never
    drift — the same single-source-of-algebra discipline as
    ``quality_predicate`` in plans/corpus."""
    fp_new = winnow_fingerprint_rows(
        new_docs.select(id_col, text_col), text_col,
        id_col).localCheckpoint()

    ix = index.select(F.col(id_col).alias("_ix_doc"), "fp")
    j = fp_new.join(ix, "fp")
    fp_kept, hot = fp_new, None
    if max_doc_freq is not None:
        # fp rows are distinct per document (winnow emits a set), so
        # count(*) per fp IS its delta document frequency; the index
        # frequency is counted on the join result only.
        ix_df = (j.groupBy("fp")
                 .agg(F.count_distinct("_ix_doc").alias("_ixdf")))
        new_df = (fp_new.groupBy("fp")
                  .agg(F.count("*").alias("_newdf")))
        hot = (new_df.join(ix_df, "fp", "left")
               .filter(F.coalesce(F.col("_ixdf"), F.lit(0))
                       + F.col("_newdf") > max_doc_freq)
               .select("fp"))
        j = j.join(F.broadcast(hot), "fp", "left_anti")
        fp_kept = fp_new.join(F.broadcast(hot), "fp", "left_anti")
    pairs_ix = (j.groupBy(id_col, "_ix_doc")
                .agg(F.count("*").alias("_n"))
                .filter(F.col("_n") >= min_shared))
    hit_ix = pairs_ix.select(id_col).distinct()

    a, b = fp_kept.alias("a"), fp_kept.alias("b")
    pairs_delta = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                          & (F.col(f"b.{id_col}")
                             < F.col(f"a.{id_col}")))
                   .groupBy(F.col(f"a.{id_col}").alias(id_col),
                            F.col(f"b.{id_col}").alias("_other"))
                   .agg(F.count("*").alias("_n"))
                   .filter(F.col("_n") >= min_shared))
    hit_delta = pairs_delta.select(id_col).distinct()

    killed = hit_ix.unionByName(hit_delta).distinct()
    return {"fp_new": fp_new, "fp_kept": fp_kept, "hot": hot,
            "j": j, "pairs_ix": pairs_ix, "pairs_delta": pairs_delta,
            "killed": killed}


def winnow_dedup_accounting(new_docs: DataFrame, index: DataFrame,
                            min_shared: int = 8,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            max_doc_freq: int | None = None
                            ) -> DataFrame:
    """One-row ledger for the PASSAGE gate — the observability
    parity row next to :func:`lsh_dedup_accounting` and
    :func:`simhash_dedup_accounting`, built on the gate's own
    intermediate frames (:func:`_passage_gate_parts`) so it
    reconciles EXACTLY with a gated ingest's manifest
    ``n_passage_dropped``.

    Columns: n_delta_docs, n_fps_emitted (delta fp rows before the
    guard), n_hot_fps (distinct fingerprints the combined-frequency
    boilerplate guard ignored), n_fp_rows_ignored (delta fp rows
    carrying those fingerprints), n_index_candidate_pairs /
    n_delta_candidate_pairs (≥ min_shared pairs per side),
    n_docs_dropped (killed delta docs — the manifest number), and
    max_fp_fanout (the skew canary: the largest post-guard combined
    document count on a single fingerprint — by construction
    ≤ max_doc_freq when the guard is on, so a larger value means the
    guard is OFF while the corpus is boilerplate-heavy)."""
    p = _passage_gate_parts(new_docs, index, min_shared, text_col,
                            id_col, max_doc_freq)

    n_docs = new_docs.agg(
        F.count("*").cast("bigint").alias("n_delta_docs"))
    n_fps = p["fp_new"].agg(
        F.count("*").cast("bigint").alias("n_fps_emitted"))
    n_hot = (p["hot"].agg(F.count("*").cast("bigint")
                          .alias("n_hot_fps"))
             if p["hot"] is not None else None)
    n_kept = p["fp_kept"].agg(
        F.count("*").cast("bigint").alias("_n_kept"))
    n_pix = p["pairs_ix"].agg(
        F.count("*").cast("bigint").alias("n_index_candidate_pairs"))
    n_pdl = p["pairs_delta"].agg(
        F.count("*").cast("bigint").alias("n_delta_candidate_pairs"))
    n_kill = p["killed"].agg(
        F.count("*").cast("bigint").alias("n_docs_dropped"))
    fanout = (p["fp_kept"].groupBy("fp")
              .agg(F.count("*").alias("_nd"))
              .join(p["j"].groupBy("fp")
                    .agg(F.count_distinct("_ix_doc").alias("_ni")),
                    "fp", "left")
              .select((F.col("_nd")
                       + F.coalesce(F.col("_ni"), F.lit(0)))
                      .alias("_k"))
              .agg(F.coalesce(F.max("_k"), F.lit(0)).cast("bigint")
                   .alias("max_fp_fanout")))

    row = (n_docs.crossJoin(n_fps)
           .crossJoin(n_kept).crossJoin(n_pix).crossJoin(n_pdl)
           .crossJoin(n_kill).crossJoin(fanout))
    row = (row.crossJoin(n_hot) if n_hot is not None
           else row.withColumn("n_hot_fps",
                               F.lit(0).cast("bigint")))
    return row.select(
        "n_delta_docs", "n_fps_emitted", "n_hot_fps",
        (F.col("n_fps_emitted") - F.col("_n_kept")).cast("bigint")
        .alias("n_fp_rows_ignored"),
        "n_index_candidate_pairs", "n_delta_candidate_pairs",
        "n_docs_dropped", "max_fp_fanout")


# Registered thresholds, measured on the synthetic fixture: the
# templated generator gives UNRELATED documents a high shared-
# fingerprint floor (median 8, p99 28 common fps per pair), so the
# boilerplate guard is load-bearing, exactly as it would be on a
# boilerplate-heavy production corpus: fps in > 20 documents are
# template phrases (or large near-dup families, which the whole-doc
# dedup family already owns) and carry no passage signal; >= 8
# surviving shared fps ≈ a >= ~60-char genuinely copied span.
DX6_MIN_SHARED = 8
DX6_MAX_DOC_FREQ = 20


@register(
    "dx6_passage_dup", None,  # oracle attached below (late-bound)
    doc="Dedup, PASSAGE level, ORACLE-CHECKED: document pairs sharing "
        ">= 8 MOSS-winnowed fingerprints after the boilerplate guard "
        "(fingerprints in > 20 docs dropped) — copied passages "
        "surface even when the documents as wholes are unrelated "
        "(whole-doc jaccard ~0, SimHash far apart). The oracle "
        "restates the winnow hash algebra relationally (same "
        "constants as the tx1/tx4 oracle, cross-engine-pinned by "
        "tests/test_winnow.py) and self-joins the exploded "
        "fingerprint rows. Scale shape: Arrow map + explode, one "
        "broadcast anti-join against the hot-fp set, then ONE bucket "
        "equi-join on the fingerprint value — O(N*fps) shuffled "
        "rows, never O(N^2) text; the doc-freq guard bounds per-"
        "bucket fan-out at 20, so no join key explodes")
def passage_dup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return passage_dup_candidates(docs, min_shared=DX6_MIN_SHARED,
                                  max_doc_freq=DX6_MAX_DOC_FREQ)


def _dx6_oracle() -> str:
    """DuckDB restatement of passage_dup_candidates: winnow
    fingerprint sets (tx1's exact CTE chain), explode, hot-fp
    anti-filter, self-join on the fingerprint, pair counts >=
    min_shared. (fp rows are distinct per document, so count(*) per
    fp IS its document frequency — in both engines.)"""
    from ..queries.text import (WINNOW_K, WINNOW_W, _winnow_horner_sql)

    return f"""
    WITH r AS (
      SELECT doc_id, CASE WHEN length(text) < {WINNOW_K} THEN []
                     ELSE list_transform(
                       range(1, length(text) - {WINNOW_K} + 2),
                       i -> {_winnow_horner_sql('i')})
                END AS rh
      FROM documents
    ), w AS (
      SELECT doc_id, list_distinct(
               CASE WHEN len(rh) = 0 THEN []
                    WHEN len(rh) < {WINNOW_W} THEN [list_min(rh)]
                    ELSE list_transform(
                      range(1, len(rh) - {WINNOW_W} + 2),
                      i -> list_min(rh[i:i+{WINNOW_W}-1]))
               END) AS fps
      FROM r
    ), fp AS (
      SELECT doc_id, unnest(fps) AS fp FROM w
    ), keep AS (
      SELECT doc_id, fp FROM fp
      WHERE fp NOT IN (SELECT fp FROM fp GROUP BY fp
                       HAVING count(*) > {DX6_MAX_DOC_FREQ})
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fp
    FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {DX6_MIN_SHARED}
    """


# late-bind the oracles to avoid a circular import at module load
def _attach_text_oracles() -> None:
    from ..queries import text as _text
    from ..queries.registry import QUERIES, Query

    for name, oracle in (("dx5_lsh_neardup_decision",
                          _text.NEARDUP_ORACLE),
                         ("dx6_passage_dup", _dx6_oracle())):
        q = QUERIES[name]
        QUERIES[name] = Query(name=q.name, builder=q.builder,
                              oracle=oracle, doc=q.doc)


_attach_text_oracles()
