#!/usr/bin/env python
"""Regenerate PLANS.md — the executed-plan audit of the headline
queries: parquet scan shapes (ReadSchema pruning, PushedFilters),
exchange/reuse counts, broadcast joins, cache scans, Arrow stages.

Run from the repo root: ``python tools/gen_plans.py`` (reads
$SPARK_GRAFT_SF_DIR, default sf0.1, like bench.py).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def audit(plan: str) -> list[str]:
    out = []
    seen = set()
    for m in re.finditer(r"ReadSchema: (struct<[^\n]{0,100})", plan):
        s = m.group(1)
        if s not in seen:
            seen.add(s)
            out.append(f"- scan `ReadSchema: {s}`")
    for m in re.finditer(r"PushedFilters: \[[^\]\n]+\]", plan):
        s = m.group(0)
        if s not in seen:
            seen.add(s)
            out.append(f"- `{s}`")
    for m in re.finditer(r"PartitionFilters: \[[^\]\n]+\]", plan):
        s = re.sub(r"#\d+", "#", m.group(0))
        if s not in seen:
            seen.add(s)
            out.append(f"- `{s}` (directory-level pruning)")
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_reuse = len(re.findall(r"ReusedExchange", plan))
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_mem = len(re.findall(r"InMemoryTableScan", plan))
    n_arrow = len(re.findall(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan))
    line = (f"- exchanges: {n_ex} (reused: {n_reuse});"
            f" broadcast hash joins: {n_bhj}")
    if n_mem:
        line += f"; cached-intermediate scans: {n_mem}"
    if n_arrow:
        line += f"; Arrow Python stages: {n_arrow}"
    if "BroadcastNestedLoopJoin" in plan:
        line += "; broadcast nested-loop (tiny-side by design)"
    out.append(line)
    return out


def main() -> None:
    from bench import HEADLINE
    from light_redistribution_in_3dptf_data_pipeline_spark.queries import (
        QUERIES)
    from light_redistribution_in_3dptf_data_pipeline_spark.session import (
        get_spark)

    spark = get_spark(app_name="gen_plans")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — executed-plan audit of the headline queries",
        "",
        "Generated from `.explain`-level plan strings at sf0.1 "
        "(local[32], AQE on). For each headline query: the parquet "
        "scan shapes (column pruning via ReadSchema, predicate "
        "pushdown via PushedFilters), shuffle count, and the "
        "Python/Arrow stages if any. NOTE: `exchanges` counts every "
        "Exchange node in the static plan INCLUDING those embedded "
        "inside InMemoryRelation subtrees — a query with "
        "cached-intermediate scans executes its cached subtree once, "
        "so its runtime exchange count is far lower than the static "
        "figure. Regenerate with `python tools/gen_plans.py`.",
        "",
    ]
    for name in HEADLINE:
        df = QUERIES[name].builder(spark, SF_DIR)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        plan = df._jdf.queryExecution().explainString(mode)
        lines.append(f"## {name}")
        lines.extend(audit(plan))
        lines.append("")
        print(f"# {name} done", file=sys.stderr)

    # Stored-index search (r6): the pruned-scan evidence — these
    # queries read persisted bucket/cell-partitioned indexes, so the
    # audit records their literal partition filters.
    import re as _re
    import tempfile

    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
    from light_redistribution_in_3dptf_data_pipeline_spark.operators import (
        similarity as S)

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0")
            .select("embedding").collect()[0][0]]
    with tempfile.TemporaryDirectory() as td:
        S.write_ann_index(emb, f"{td}/ann")
        S.write_ivf_index(emb, f"{td}/ivf")
        for label, df in (
                ("ann_indexed_topk (stored LSH index)",
                 S.ann_indexed_topk(spark, f"{td}/ann", qvec,
                                    exclude_id=0)),
                ("ivf_indexed_topk (stored IVF index)",
                 S.ivf_indexed_topk(spark, f"{td}/ivf", qvec,
                                    nprobe=2, exclude_id=0))):
            plan = df._jdf.queryExecution().executedPlan().toString()
            lines.append(f"## {label}")
            m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
            if m:
                lines.append(f"- `{m.group(0)}` — plan-time directory"
                             " pruning, no discovery job")
            lines.extend(audit(plan))
            lines.append("")
            print(f"# {label} done", file=sys.stderr)

    # Incremental ingest (r7): the delta-dedup gate's join shapes
    # against persisted batch-partitioned indexes — the production
    # daily-batch plan (exact anti-join + banded SimHash bucket
    # joins; no cartesian anywhere).
    from pyspark.sql import functions as F

    from light_redistribution_in_3dptf_data_pipeline_spark.operators.dedup import (
        dedup_delta_exact, neardup_delta_simhash)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        corpus as C)

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory() as td:
        C.ingest_delta(spark, td, docs.filter(
            F.pmod(F.col("doc_id"), 10) < 8), batch_id="base")
        committed = C.committed_batches(spark, td)
        delta = docs.filter(F.pmod(F.col("doc_id"), 10) == 8)
        ex_ix = C._read_index(
            spark, td, "index_content_hash",
            "content_hash STRING, batch_id STRING",
            committed).select("content_hash")
        fp_ix = C._read_index(
            spark, td, "index_simhash",
            "simhash BIGINT, batch_id STRING",
            committed).select("simhash")
        surv_ex, _ = dedup_delta_exact(delta, ex_ix)
        surv, _ = neardup_delta_simhash(surv_ex.localCheckpoint(),
                                        fp_ix)
        plan = surv._jdf.queryExecution().executedPlan().toString()
        lines.append("## ingest_delta survivors "
                     "(delta vs persisted indexes)")
        assert "CartesianProduct" not in plan
        lines.append("- no CartesianProduct (banded bucket equi-joins"
                     " only; delta×index cost is O(delta·bands))")
        lines.extend(audit(plan))
        lines.append("")
        print("# ingest_delta done", file=sys.stderr)

    # Passage gate (r8): the optional fourth index's join shape — the
    # delta's winnowed fingerprints against the directory-pruned
    # (doc_id, fp) index, one equi-join sized by the matches.
    from light_redistribution_in_3dptf_data_pipeline_spark.operators.dedup import (
        passage_delta_gate)

    with tempfile.TemporaryDirectory() as td:
        C.ingest_delta(spark, td, docs.filter(
            F.pmod(F.col("doc_id"), 10) < 8), batch_id="base",
            passage_min_shared=8, passage_max_doc_freq=20)
        committed = C.committed_batches(spark, td)
        delta = docs.filter(F.pmod(F.col("doc_id"), 10) == 8)
        wfp_ix = C._read_index(
            spark, td, "index_winnow_fp",
            C.INDEX_SCHEMAS["index_winnow_fp"],
            committed).select("doc_id", "fp")
        surv, _ = passage_delta_gate(delta, wfp_ix, min_shared=8,
                                     max_doc_freq=20)
        plan = surv._jdf.queryExecution().executedPlan().toString()
        lines.append("## ingest passage gate survivors "
                     "(delta fingerprints vs persisted winnow index)")
        assert "CartesianProduct" not in plan
        lines.append("- no CartesianProduct (fingerprint equi-joins "
                     "only; gate cost is O(delta·fps + matches), "
                     "never O(corpus))")
        lines.extend(audit(plan))
        lines.append("")
        print("# passage gate done", file=sys.stderr)

    # Incremental ANN index (r8): the committed-batches probe must
    # prune on BOTH partition levels — bucket IN (J+1 literals) with
    # no growing batch IN-list — and stay exchange-free.
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ann_index as AI)

    with tempfile.TemporaryDirectory() as td:
        for i in range(3):
            AI.ann_ingest_delta(
                spark, f"{td}/ix",
                emb.filter(F.pmod(F.col("vec_id"), 3) == i), f"b{i}")
        df = AI.ann_incremental_topk(spark, f"{td}/ix", qvec,
                                     exclude_id=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ann_incremental_topk "
                     "(incrementally-maintained index, 3 batches)")
        m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        if m:
            lines.append(f"- `{m.group(0)}` — two-level directory "
                         "pruning (bucket probes; batch visibility "
                         "adds no IN-list when nothing is invisible)")
        lines.append("- file index covers ONLY the probed "
                     "batch_id=B/bucket=K leaf dirs (r15 "
                     "read_ann_buckets: O(1+batches) driver "
                     "listings, no full-tree discovery job)")
        assert "Exchange" not in plan
        lines.append("- no Exchange (TakeOrderedAndProject over the "
                     "pruned scan)")
        lines.extend(audit(plan))
        lines.append("")
        print("# incremental ann done", file=sys.stderr)

    # Incremental IVF index (r9): same two-level pruning contract —
    # cell IN (nprobe literals) against the frozen quantizer, no
    # batch IN-list, exchange-free probe.
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as IV)

    with tempfile.TemporaryDirectory() as td:
        IV.init_ivf_index(spark, f"{td}/ix", emb)
        for i in range(3):
            IV.ivf_ingest_delta(
                spark, f"{td}/ix",
                emb.filter(F.pmod(F.col("vec_id"), 3) == i), f"b{i}")
        df = IV.ivf_incremental_topk(spark, f"{td}/ix", qvec,
                                     exclude_id=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ivf_incremental_topk "
                     "(incrementally-maintained index, 3 batches, "
                     "frozen quantizer)")
        m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        if m:
            lines.append(f"- `{m.group(0)}` — two-level directory "
                         "pruning (nprobe cells ranked driver-side "
                         "against the frozen centroids; batch "
                         "visibility adds no IN-list when nothing "
                         "is invisible)")
        lines.append("- file index covers ONLY the probed "
                     "batch_id=B/cell=K leaf dirs (r15 "
                     "read_ivf_cells: O(1+batches) driver "
                     "listings, no full-tree discovery job)")
        assert "Exchange" not in plan
        lines.append("- no Exchange (TakeOrderedAndProject over the "
                     "pruned scan)")
        lines.extend(audit(plan))
        lines.append("")
        print("# incremental ivf done", file=sys.stderr)

    # Snapshot pins (r9): a pinned read is PATH SELECTION — the file
    # index contains only the pinned batch directories, so there is
    # no batch filter at all and no dependence on how many batches
    # were committed since the pin.
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        snapshots as SNP)

    with tempfile.TemporaryDirectory() as td:
        C.ingest_delta(spark, td, docs.filter(
            F.pmod(F.col("doc_id"), 10) < 5), batch_id="base")
        pin = SNP.pin_snapshot(spark, td)
        C.ingest_delta(spark, td, docs.filter(
            F.pmod(F.col("doc_id"), 10) == 5), batch_id="later")
        C.compact_batches(spark, td)
        df = SNP.read_corpus_pinned(spark, td, pin)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## read_corpus_pinned (snapshot pin after "
                     "later ingest + compaction)")
        in_files = df.inputFiles()
        assert in_files and all("batch_id=base" in f
                                for f in in_files)
        lines.append("- file index holds ONLY the pinned batch "
                     "directories (path selection via basePath — "
                     "no batch_id filter, no IN-list, plan cost "
                     "O(|pin|) regardless of later commits)")
        assert "Exchange" not in plan
        lines.append("- no Exchange (pure pruned scan)")
        lines.extend(audit(plan))
        lines.append("")
        print("# pinned read done", file=sys.stderr)

    # Pinned similarity probe (r9): pinned batch dirs (path
    # selection) PLUS the same driver-side bucket IN (J+1) pruning
    # on the second partition level, still exchange-free.
    with tempfile.TemporaryDirectory() as td:
        AI.ann_ingest_delta(spark, f"{td}/ix",
                            emb.filter("vec_id < 1000"), "b0")
        pin = SNP.pin_snapshot(spark, f"{td}/ix")
        AI.ann_ingest_delta(spark, f"{td}/ix",
                            emb.filter("vec_id >= 1000"), "b1")
        df = AI.ann_pinned_topk(spark, f"{td}/ix", pin, qvec,
                                exclude_id=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ann_pinned_topk (pinned probe after a "
                     "later ingest)")
        in_files = df.inputFiles()
        assert in_files and all("batch_id=b0" in f
                                for f in in_files)
        lines.append("- file index holds ONLY the pinned batch's "
                     "directories (later batches absent by path "
                     "selection, not filtering)")
        m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        if m:
            lines.append(f"- `{m.group(0)}` — bucket probes still "
                         "prune the second partition level inside "
                         "the pinned paths")
        assert "Exchange" not in plan
        lines.append("- no Exchange (TakeOrderedAndProject over the "
                     "pruned pinned scan)")
        lines.extend(audit(plan))
        lines.append("")
        print("# pinned probe done", file=sys.stderr)

    # Index migration (r10): after a retrain + backfill + pointer
    # cutover, probing THROUGH the pointer resolves to the new root
    # and keeps the exact same plan shape — migration changes
    # routing, never the probe's cost model.
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        migration as MG)

    with tempfile.TemporaryDirectory() as td:
        AI.ann_ingest_delta(spark, f"{td}/old",
                            emb.filter("vec_id < 1000"), "b0")
        MG.migrate_index(spark, f"{td}/old", f"{td}/new",
                         num_planes=4, pointer=f"{td}/ptr.json")
        df = AI.ann_incremental_topk(spark, f"{td}/ptr.json", qvec,
                                     exclude_id=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ann_incremental_topk through a migration "
                     "pointer (re-trained root, atomic cutover)")
        in_files = df.inputFiles()
        assert in_files and all("/new/" in f for f in in_files)
        lines.append("- the pointer file resolves to the NEW root; "
                     "the scan reads only its backfilled "
                     "`migrate-*` batch directories")
        m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        if m:
            lines.append(f"- `{m.group(0)}` — the re-bucketed "
                         "probe prunes the second partition level "
                         "exactly like the pre-migration index")
        assert "Exchange" not in plan
        lines.append("- no Exchange (TakeOrderedAndProject over the "
                     "pruned scan)")
        lines.extend(audit(plan))
        lines.append("")
        print("# migrated probe done", file=sys.stderr)

    # int8-compressed postings probe (r12): the codes-only scan must
    # keep the exact same pruned zero-exchange shape as the float
    # probe — compression changes the bytes read, never the plan.
    with tempfile.TemporaryDirectory() as td:
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            ivf_index as IV8)

        IV8.init_ivf_index(spark, f"{td}/ivf8", emb, storage="int8")
        IV8.ivf_ingest_delta(spark, f"{td}/ivf8", emb.drop("label"),
                             "d1")
        df = IV8.ivf_incremental_topk(spark, f"{td}/ivf8", qvec,
                                      exclude_id=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ivf_incremental_topk over int8 postings "
                     "(codes-only scan, scale-free code cosine)")
        assert "ReadSchema" in plan and "embedding" not in plan
        lines.append("- `ReadSchema` carries code/scale only — the "
                     "scan reads the ~4×-smaller columns; no float "
                     "embedding exists in the plan at all")
        m = _re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        if m:
            lines.append(f"- `{m.group(0)}` — the same literal "
                         "cell-IN pruning as the float probe")
        assert "Exchange" not in plan
        lines.append("- no Exchange (TakeOrderedAndProject over the "
                     "pruned codes scan); the code cosine is two "
                     "exact int64 in-row folds, no hi/lo split "
                     "needed (|q| ≤ 127)")
        lines.extend(audit(plan))
        lines.append("")
        print("# int8 probe done", file=sys.stderr)

    # early-exit probe (r13 brief #1): direction-box pruning — at
    # nprobe=4 on the clustered fixture every non-seed cell's best-
    # possible code cosine is provably below the seed cell's kth
    # candidate, so the survivors scan disappears ENTIRELY: the
    # returned plan holds no parquet scan at all (the seed is the
    # already-materialized localCheckpoint), vs the plain probe's
    # 4-cell IN-list.
    with tempfile.TemporaryDirectory() as td:
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            ivf_index as IV8)
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            recall as RC)

        clu = RC.clustered_embeddings(emb).localCheckpoint()
        IV8.init_ivf_index(spark, f"{td}/ee", clu, train_k=8,
                           train_metric="dot", storage="int8")
        IV8.ivf_ingest_delta(spark, f"{td}/ee", clu, "d1")
        qv_c = [float(x) for x in
                clu.filter("vec_id = 0").select("embedding")
                .head()[0]]
        plain = IV8.ivf_incremental_topk(spark, f"{td}/ee", qv_c,
                                         nprobe=4, exclude_id=0)
        pplan = plain._jdf.queryExecution().executedPlan().toString()
        box = IV8.ivf_incremental_topk(spark, f"{td}/ee", qv_c,
                                       nprobe=4, exclude_id=0,
                                       early_exit=True)
        bplan = box._jdf.queryExecution().executedPlan().toString()
        lines.append("## ivf_incremental_topk early exit "
                     "(direction-box pruning, clustered int8 root, "
                     "nprobe=4)")
        mm = _re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]",
                        pplan)
        assert mm, pplan
        lines.append(f"- plain probe: `{mm.group(0)}` — 4 posting "
                     "lists scanned")
        # BOX mode (the r14 default for early_exit=True): the plan
        # is the plain probe's with the IN-list shrunk to the keys
        # the zero-job box floor could not prune — here the seed
        # cell alone (3 of 4 pruned by driver arithmetic, no seed
        # job, no materialized literals)
        mb = _re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]",
                        bplan)
        assert mb, bplan
        n_plain = mm.group(0).count(",") + 1
        n_box = mb.group(0).count(",") + 1
        assert n_box < n_plain, (mm.group(0), mb.group(0))
        lines.append(f"- box-mode probe (early_exit=True): "
                     f"`{mb.group(0)}` — ONE scan, IN-list shrunk "
                     "to the unprunable seed cell by pure driver "
                     "arithmetic over the stats sidecar (zero extra "
                     "jobs; never slower than plain; parity is "
                     "row-for-row test-pinned in "
                     "tests/test_early_exit.py)")
        lines.extend(audit(bplan))
        lines.append("")
        print("# early-exit probe done", file=sys.stderr)

    # k-means trainer (r11): one Lloyd iteration's update aggregate —
    # the argmin must collapse MAP-SIDE (partial max_by before the
    # vec_id exchange: N rows shuffled, never N·k), the centroid
    # update partial-sums before the k-row cell exchange.
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        kmeans as KM)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
        _checked_dim)
    from light_redistribution_in_3dptf_data_pipeline_spark.operators.similarity import (
        _fixed_point)
    from light_redistribution_in_3dptf_data_pipeline_spark.queries.similarity import (
        _fixed_dot)

    dec = (emb.select(
        "vec_id", F.col("embedding").cast("array<float>")
        .alias("embedding"),
        _fixed_point(_checked_dim("embedding", 64,
                                  "plan-audit")).alias("ci"))
        .withColumn("x2", _fixed_dot("ci", "ci")).localCheckpoint())
    # the 64 component sums + the max_by struct exceed the default
    # plan-string field cap, which would TRUNCATE the very function
    # list the assertions below inspect
    spark.conf.set("spark.sql.debug.maxToStringFields", "4096")
    cf = KM._centroid_literal(spark, KM._seed_centroids(dec, 8))
    assigned = KM._assigned(dec, cf, "l2")
    stats = (assigned.groupBy("cell")
             .agg(F.array(*[F.sum(F.element_at("ci", i + 1))
                            for i in range(64)]).alias("csum"),
                  F.count("*").cast("bigint").alias("nv"),
                  F.sum("x2").alias("sumx2"),
                  F.max_by(F.struct(F.col("vec_id"), F.col("ci")),
                           F.struct(F.col("bad").alias("b"),
                                    (-F.col("vec_id"))
                                    .alias("nv_id"))).alias("far"),
                  F.max("bad").alias("far_bad")))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    lines.append("## kmeans train_centroids — one Lloyd iteration "
                 "(unlabeled quantizer training; r12 array-native "
                 "assignment)")
    assert "BroadcastNestedLoopJoin" in plan
    lines.append("- `BroadcastNestedLoopJoin BuildRight, Cross` — "
                 "the centroid table broadcast as ONE "
                 "array-of-structs row; assignment is an in-row "
                 "`transform`+`aggregate` fold over the k "
                 "candidates: NO candidate-row expansion, NO vec_id "
                 "exchange (the r11 N·k crossJoin shape is gone)")
    # exactly ONE exchange in the whole iteration: the k-row cell
    # partials. Nothing before the partial cell aggregate shuffles.
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    lines.append("- exactly ONE `Exchange hashpartitioning(cell)` "
                 "in the whole iteration — map-only assignment "
                 "feeds the partial cell aggregate directly; the "
                 "exchange moves k·P partial rows, never N")
    assert "partial_sum" in plan and "partial_max_by" in plan
    lines.append("- `partial_sum(element_at(ci, 1..64))` + "
                 "`partial_max_by(struct(vec_id, ci), struct(bad, "
                 "-vec_id))` BEFORE the exchange — the centroid "
                 "update AND the per-cell farthest reseed candidate "
                 "ride ONE fused aggregate (r11 brief #7: no "
                 "separate reseed job)")
    lines.append("- per iteration: 1 one-row broadcast + 1 k-row "
                 "hash exchange over one pass of the "
                 "localCheckpoint-pinned decoded vectors; centroids "
                 "re-enter as driver literals, so lineage never "
                 "grows across iterations")
    lines.append("- exact-integer keys and int64 sums make the "
                 "result partition-count-INVARIANT, not just the "
                 "plan shape (test-pinned); metric='dot' swaps the "
                 "fold key for the NEGATED bit-identical "
                 "_cell_scores expression (train ≡ serve placement)")
    lines.extend(audit(plan))
    lines.append("")
    print("# kmeans iteration done", file=sys.stderr)

    # Batch probes (r11): many queries, one job — static pruning
    # must survive (probed-cell/bucket union as a literal partition
    # filter) and the only joins are broadcast.
    with tempfile.TemporaryDirectory() as td:
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            ivf_index as IV2)

        IV2.init_ivf_index(spark, f"{td}/ivf", emb)
        IV2.ivf_ingest_delta(spark, f"{td}/ivf",
                             emb.drop("label"), "d1")
        queries = (emb.filter("vec_id < 20")
                   .select(F.col("vec_id").alias("qid"),
                           "embedding"))
        df = IV2.ivf_batch_topk(spark, f"{td}/ivf", queries,
                                k=10, nprobe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ivf_batch_topk (many queries, one job)")
        m = _re.search(r"PartitionFilters: \[[^,\]]*", plan)
        if m:
            lines.append(f"- `{m.group(0)}...]` — the probed-cell "
                         "UNION (≤ L values) stays a literal "
                         "partition filter, plus dynamic pruning "
                         "from the broadcast (qid, cell) pairs")
        lines.append("- candidates fan out to ONLY the queries "
                     "probing their cell (broadcast hash join); one "
                     "shuffle of candidate rows by qid for the "
                     "per-query top-k window")
        lines.extend(audit(plan))
        lines.append("")

        AI.ann_ingest_delta(spark, f"{td}/lsh", emb, "d1")
        df = AI.ann_batch_topk(spark, f"{td}/lsh", queries,
                               k=10, hamming=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append("## ann_batch_topk (many queries, one job)")
        m = _re.search(r"PartitionFilters: \[bucket[^,\]]*", plan)
        if m:
            lines.append(f"- `{m.group(0)}...]` — the probed-bucket "
                         "UNION (≤ 2^J values) stays a literal "
                         "partition filter")
        lines.append("- per-query signatures + Hamming-≤h masks "
                     "computed IN the plan (no driver loop); "
                     "broadcast joins only; one shuffle by qid for "
                     "the top-k window")
        lines.extend(audit(plan))
        lines.append("")
        print("# batch probes done", file=sys.stderr)

    lines.append("## migrate_corpus batch copy (re-shard/relocation)")
    lines.append("- per live batch × table: one `FileScan parquet` "
                 "of the single old partition directory → optional "
                 "`Exchange roundRobin(partitions_per_batch)` → "
                 "write to the new root's same-batch directory; "
                 "manifests copied verbatim (no re-derivation, no "
                 "corpus-sized state)")
    lines.append("- data cost O(corpus) once, control cost "
                 "O(batches) small JSON writes; per-batch "
                 "manifest-last commit makes a crashed copy resume "
                 "by batch identity")
    lines.append("")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))


if __name__ == "__main__":
    main()
