"""Table catalog: load the star-schema parquet tables for a scale dir.

The reference keeps its store as one pickled dict-of-dicts
(``src/core/data_manager.py:5-60``); here every logical table is a
Parquet dataset read lazily, registered as a temp view, and pruned /
filtered by Catalyst at the scan.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _events_fixture_is_nanos(path: str) -> bool:
    """Peek at the parquet footer: is ``ts`` TIMESTAMP(NANOS)?

    Spark's vectorized reader rejects nanos timestamps unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set, and that conf is
    session-global — so we only flip it when the fixture actually needs
    it, instead of silently changing how every other nanos parquet in
    the session is read.
    """
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        t = schema.field("ts").type
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return False


# Spark's own inferred schema per table path, memoized per
# SparkContext: inferring a Parquet schema runs a Spark job (~0.1 s
# warm on a 4-core host, against ~0.02 s for a read given the
# schema), and every declared query pays it once per table it reads.
# An entry is trusted only while the path's tree signature (one
# getFileStatus, plus a recursive listing for a directory) and the
# SQL confs that steer inference are unchanged, and not while the
# newest file is inside the store's mtime-granularity window — the
# revalidation fs.read_json_doc uses. A hit reads with the memoized
# schema and starts no job. LRU-bounded; the lock guards only the
# bookkeeping, so concurrent first loads infer in parallel.
_SCHEMAS: "dict[str, tuple]" = {}
_SCHEMAS_JSC = None
_SCHEMAS_MAX = 64
_SCHEMAS_LOCK = threading.Lock()
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


def _memo(spark: SparkSession) -> dict:
    """The schema memo of ``spark``'s context (emptied when the
    context changes); call with ``_SCHEMAS_LOCK`` held."""
    global _SCHEMAS_JSC
    if _SCHEMAS_JSC is not spark._jsc:
        _SCHEMAS.clear()
        _SCHEMAS_JSC = spark._jsc
    return _SCHEMAS


def _read_parquet(spark: SparkSession, path: str,
                  events: bool) -> "tuple[DataFrame, object]":
    """(``spark.read.parquet(path)``, its schema), inferring the
    schema only on a memo miss. ``events``: set ``nanosAsLong`` when
    the file's ``ts`` is TIMESTAMP(NANOS) (remembered per entry)."""
    from .fs import is_recent, tree_signature

    sig = tree_signature(spark, path)
    with _SCHEMAS_LOCK:
        hit = _memo(spark).get(path)
    if hit is not None and (hit[0] != sig or is_recent(sig)):
        hit = None
    nanos = hit[2] if hit is not None else (
        events and _events_fixture_is_nanos(path))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = tuple(spark.conf.get(k, None) for k in _INFER_CONFS)
    if hit is not None and hit[1] == confs:
        with _SCHEMAS_LOCK:
            memo = _memo(spark)
            memo[path] = memo.pop(path, hit)   # refresh recency
        return spark.read.schema(hit[3]).parquet(path), hit[3]
    df = spark.read.parquet(path)
    schema = df.schema
    if sig is not None:
        with _SCHEMAS_LOCK:
            memo = _memo(spark)
            memo.pop(path, None)
            if len(memo) >= _SCHEMAS_MAX:
                memo.pop(next(iter(memo)))
            memo[path] = (sig, confs, nanos, schema)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table. Column pruning + predicate pushdown
    happen at the parquet scan because we never materialize here.

    ``events.ts`` has drifted across fixture generations; we normalize
    every variant to a plain ``TimestampType`` (session TZ is pinned
    UTC in ``session.py`` and ``__spark_entry__.py``, so values match
    DuckDB's either way):

    - TIMESTAMP(NANOS): the vectorized reader rejects it, so we read
      raw nanos (``nanosAsLong``, scoped to this case only) and convert
      to microsecond timestamps — the fixture has no sub-microsecond
      parts, so this is lossless.
    - timezone-less ``timestamp[us]``: Spark >=3.4 reads TIMESTAMP_NTZ,
      which ``unix_micros``/window functions reject → cast to
      ``timestamp`` (wall-clock values unchanged under UTC session TZ).
    - tz-adjusted TIMESTAMP(MICROS): arrives as TimestampType, no-op.

    The schema Spark infers is memoized per context and path (see
    ``_SCHEMAS``), so a repeat load starts no Spark job.
    """
    path = f"{sf_dir}/{name}.parquet"
    df, schema = _read_parquet(spark, path, name == "events")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql surface)."""
    out = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty DataFrame of ``schema`` (DDL string or StructType) as
    a JVM local relation. ``spark.createDataFrame([], schema)`` plans
    a Python RDD, so every job over it starts Python worker tasks
    (~0.2 s each on a 4-core host) to produce no rows."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    jss = spark._jsparkSession
    return DataFrame(jss.createDataFrame(spark._jvm.java.util.ArrayList(),
                                         jss.parseDataType(schema.json())),
                     spark)
