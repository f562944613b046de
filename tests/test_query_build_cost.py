"""Driver-side cost of BUILDING a declared query, pinned as counts
that host noise cannot move.

A declared query's build is control plane only, yet it crossed the
JVM boundary in two costly ways: every ``catalog.load_table`` ran a
Parquet schema-inference Spark job, and the widest builders sent
thousands of Py4J commands to build per-component Column lists (64
``sum(element_at(ci, i))`` centroid sums, 32 MinHash mins, the band
structs). Schemas are now memoized per context and path, and the wide
aggregates are SQL text. Empty frames are JVM local relations, so a
job over one starts no Python worker.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_probe_build_cost import _py4j_commands

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
    empty_frame, load_table)
from light_redistribution_in_3dptf_data_pipeline_spark.queries import (
    QUERIES)

SF_DIR = "/root/testdata/sf0.001"


def _age(path: str, seconds: float = 60) -> None:
    """Move ``path``'s mtime (and every file's under it) ``seconds``
    into the past, out of the memo's recent-write window."""
    old = time.time() - seconds
    for dirpath, _, names in os.walk(path):
        for name in names:
            os.utime(os.path.join(dirpath, name), (old, old))
    os.utime(path, (old, old))


def _jobs(spark, build):
    """(``build()``, Spark jobs it started), read from the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"build-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build cost")
    try:
        out = build()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_memo_hit_starts_no_job(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/lineitem.parquet", tmp_path / "lineitem.parquet")
    _age(str(tmp_path / "lineitem.parquet"))
    miss, n_miss = _jobs(spark, lambda: load_table(spark, str(tmp_path),
                                                   "lineitem"))
    hit, n_hit = _jobs(spark, lambda: load_table(spark, str(tmp_path),
                                                 "lineitem"))
    assert n_miss >= 1 and n_hit == 0
    assert hit.schema == miss.schema
    assert hit.count() == miss.count() > 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    _age(path)
    load_table(spark, str(tmp_path), "t")
    _, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n == 0
    # a rewrite with a new schema (new mtime and length) is re-inferred,
    # and is not trusted while it is inside the recent-write window
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    for _ in range(2):
        df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert n >= 1 and df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
    _age(path, 30)
    load_table(spark, str(tmp_path), "t")
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n == 0 and df.columns == ["a", "b"]


def test_table_directory_listing_revalidates(spark, tmp_path):
    """A table that is a directory is revalidated by its listing: a
    file added below it misses the memo."""
    path = str(tmp_path / "d.parquet")
    spark.range(4).write.parquet(path)
    _age(path)
    load_table(spark, str(tmp_path), "d")
    _, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "d"))
    assert n == 0
    st = os.stat(path)
    extra = f"{path}/part-extra.parquet"
    pq.write_table(pa.table({"id": [9]}), extra)
    # only the listing shows the new file: the directory keeps its mtime
    os.utime(extra, (st.st_mtime, st.st_mtime))
    os.utime(path, (st.st_atime, st.st_mtime))
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "d"))
    assert n >= 1 and df.count() == 5


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_is_timestamp_on_miss_and_hit(spark, tmp_path, unit):
    """``events.ts`` comes back as TimestampType with the same values
    on a memo miss and a hit, for the fixture's timezone-less
    microseconds and for TIMESTAMP(NANOS)."""
    from pyspark.sql.types import TimestampType

    table = pq.read_table(f"{SF_DIR}/events.parquet")
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table["ts"].cast(pa.timestamp(unit)))
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    _age(path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        miss, n_miss = _jobs(spark, lambda: load_table(spark, str(tmp_path),
                                                       "events"))
        hit, n_hit = _jobs(spark, lambda: load_table(spark, str(tmp_path),
                                                     "events"))
        assert n_miss >= 1 and n_hit == 0
        for df in (miss, hit):
            assert isinstance(df.schema["ts"].dataType, TimestampType)
        ts = sorted(r.ts for r in miss.select("ts").collect())
        assert ts == sorted(r.ts for r in hit.select("ts").collect())
        assert len(ts) == table.num_rows
    finally:
        spark.conf.set(key, before)


# Py4J commands per build when the wide aggregates were per-component
# Column lists (min of 3, gc off); the pin is half of each.
BEFORE = {"sim3_sim4_ivf_train_assign": 3779, "sx3_ivf_probe_topk": 2044,
          "dx4_neardup_cluster_cc": 4142, "dx5_lsh_neardup_decision": 3581}


@pytest.mark.parametrize("name", sorted(BEFORE))
def test_query_build_py4j_commands(spark, monkeypatch, name):
    """Building the widest declared queries takes at most half the
    Py4J commands it took with per-component Column lists."""
    build = QUERIES[name].builder
    build(spark, SF_DIR).collect()      # first-call caches, warm memo
    n = _py4j_commands(monkeypatch, lambda: build(spark, SF_DIR))
    assert n <= BEFORE[name] // 2, n


def test_empty_frame_runs_no_python_worker(spark):
    """A job over ``empty_frame`` has no PythonRDD in its lineage —
    ``createDataFrame([], schema)`` has one, so every job over it
    started Python worker tasks to produce no rows."""
    schema = "doc_id BIGINT, label STRING"
    empty = empty_frame(spark, schema)
    assert empty.schema == spark.createDataFrame([], schema).schema
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    job = docs.join(empty, "doc_id", "left_anti").groupBy().count()

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" not in lineage(job)
    assert "PythonRDD" in lineage(
        spark.createDataFrame([], schema).groupBy().count())
    assert job.head()[0] == docs.count() and empty.count() == 0
