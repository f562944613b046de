"""In-memory spans around calls into the engine's layers, plus the
Spark-side counters that belong to them.

Spans are recorded from outside the package: :meth:`Tracer.instrument`
replaces a public function of a package module, and every reference
other package modules hold to it, with a wrapper that opens a span.
Each span also sets a Spark job group, so the jobs, stages and tasks
it caused can be found again in Spark's event log after the run.
Planning time comes from each query's ``QueryPlanningTracker`` phases,
read by a ``QueryExecutionListener`` that runs in this process.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PKG = "light_redistribution_in_3dptf_data_pipeline_spark"
GROUP_KEY = "spark.jobGroup.id"
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


class Tracer:
    """Spans (name, layer, start, end, parent, op) kept in memory.

    ``op`` is the timed operation a span belongs to (``None`` during
    set-up). Spans opened on a thread with no open span of its own,
    such as a streaming ``foreachBatch`` callback, take the main
    thread's innermost open span as parent.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = None
        self.overhead_s = 0.0
        self.plan_ms: dict[int, float] = {}
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._listener = None

    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "layer": layer,
                   "parent": parent["id"] if parent else None,
                   "op": self.op, "thread": threading.get_ident()}
            self.spans.append(rec)
        group = f"span-{sid}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["jobs"] = list(
                self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        traced.__traced__ = fn
        return traced

    def instrument(self, module, names, layer: str) -> None:
        """Trace ``module.<name>`` for each name, wherever the package
        refers to it."""
        short = module.__name__.removeprefix(PKG + ".")
        for name in names:
            orig = getattr(module, name)
            traced = self.wrap(orig, f"{short}.{name}", layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PKG):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, traced)

    def listen_for_planning(self, spark) -> None:
        """Record analysis + optimization + planning time per SQL
        execution id from each QueryExecution's planning tracker."""
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.sc._gateway
        ensure_callback_server_started(gw)
        tracer = self

        class PlanListener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases()
                ms = 0.0
                for p in ("analysis", "optimization", "planning"):
                    opt = phases.get(p)
                    if opt.isDefined():
                        ms += opt.get().durationMs()
                tracer.plan_ms[int(qe.id())] = ms

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = PlanListener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c["start"], s["start"]),
                              min(c["end"], s["end"]))
                             for c in kids.get(s["id"], ())):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(log_dir: str) -> dict:
    """Per-job group: jobs, stages, tasks and task metrics; per SQL
    execution: its job group and its count of Python/Arrow plan nodes.
    Call after the SparkContext has stopped, so the log is complete."""
    exec_group, stage_group, exec_pynodes = {}, {}, {}
    scan_acc, scan_vals = {}, {}
    groups: dict = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
            "cpu_ns": 0.0, "gc_ms": 0.0, "sched_ms": 0.0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "input_rows": 0, "files_read": 0, "partitions_read": 0})

    def index(path):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    paths = [p for p in glob.glob(os.path.join(log_dir, "**"),
                                  recursive=True) if os.path.isfile(p)
             and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths, key=index):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get(GROUP_KEY)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and grp is not None:
                        exec_group.setdefault(int(eid), grp)
                    g(grp)["jobs"] += 1
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    plan = ev.get("sparkPlanInfo") or {}
                    _scan_metric_ids(plan, scan_acc)
                    if kind.endswith("Start"):
                        exec_pynodes[int(ev["executionId"])] = (
                            _count_nodes(plan))
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, val in ev.get("accumUpdates", []):
                        name = scan_acc.get(acc_id)
                        if name:
                            vals = scan_vals.setdefault(
                                int(ev["executionId"]), {})
                            vals[name] = vals.get(name, 0) + val
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = g(stage_group.get(info["Stage ID"]))
                    rec["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev["Stage ID"]))
                    _add_task(rec, ev)
    for eid, vals in scan_vals.items():
        rec = g(exec_group.get(eid))
        rec["files_read"] += vals.get("number of files read", 0)
        rec["partitions_read"] += vals.get("number of partitions read", 0)
    return {"groups": groups, "exec_group": exec_group,
            "exec_pynodes": exec_pynodes}


def _scan_metric_ids(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in ("number of files read",
                             "number of partitions read"):
            out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _scan_metric_ids(c, out)


def _count_nodes(plan: dict) -> int:
    n = 1 if PYTHON_NODE.search(plan.get("nodeName", "")) else 0
    return n + sum(_count_nodes(c) for c in plan.get("children", []))


def _add_task(rec: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    rec["tasks"] += 1
    run = m.get("Executor Run Time", 0)
    rec["run_ms"] += run
    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
    rec["gc_ms"] += m.get("JVM GC Time", 0)
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    rec["sched_ms"] += max(0, wall - run
                           - m.get("Executor Deserialize Time", 0)
                           - m.get("Result Serialization Time", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0))
    rec["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    rec["spill"] += (m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0))
    rec["input_rows"] += (m.get("Input Metrics") or {}).get(
        "Records Read", 0)


# ------------------------------------------------------------ attribution

# The modules of workloads.QUERY_SET.
QUERY_MODULES = (
    "queries.windows", "queries.text", "queries.clusters",
    "queries.similarity", "queries.filters", "queries.joins",
    "queries.aggregates", "queries.sorts", "queries.scalars",
    "queries.multimodal", "operators.dedup", "operators.similarity")
SELF_LAYERS = ("bench", "catalog", "queries", "catalyst", "spark.exec",
               "plans.ivf_index", "plans.ann_index", "plans.corpus",
               "streaming", "fs")

# name -> unit, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "session.start_s": "s", "catalog.load_s": "s",
    "queries.build_s": "s", "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.scheduler_delay_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_rows_per_output_row": "ratio",
    "udf.python_nodes": "count",
    **{f"{m}.busy_s": "s" for m in QUERY_MODULES},
    "plans.ivf_index.probe_build_s": "s",
    "plans.ann_index.probe_build_s": "s",
    "probe.build_jobs": "count", "probe.batch_build_jobs": "count",
    "probe.driver_rows_collected": "count", "fs.leaf_dirs": "count",
    "fs.files_read": "count",
    "probe.exec_s": "s", "probe.rows_scanned_per_result": "ratio",
    "probe.recall_at_10": "ratio", "probe.batch_p50_s": "s",
    "probe.vectors_per_s": "1/s",
    "streaming.latest_offset_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.commit_p50_s": "s", "streaming.ingest_rows_per_s": "1/s",
    "plans.corpus.ingest_delta_s": "s", "plans.corpus.admit_ratio": "ratio",
    "fs.files_written": "count", "fs.bytes_written": "bytes",
    "plans.compact.compact_s": "s", "plans.compact.bytes_rewritten": "bytes",
    "fs.bytes_stored_per_input_byte": "ratio",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.self_sum_error": "ratio", "trace.overhead_ratio": "ratio",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, log: dict, ctx) -> dict:
    """Every PER_LAYER metric (0 where the workload leaves the layer
    idle). Counters of Spark work cover the timed operations only."""
    spans, facts = tracer.spans, ctx.facts
    groups = log["groups"]
    _add_plan_spans(tracer, log)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur["id"], ()))
        return out

    def spark_sum(ss, key):
        return sum(groups.get(f"span-{s['id']}", {}).get(key, 0)
                   for s in ss if "plan_ms" not in s)

    timed = [s for s in spans if s["op"] is not None]
    roots = [s for s in timed if s["name"].startswith("op:")]
    selfs = self_times(spans)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = facts["session_start_s"]
    m["catalog.load_s"] = sum(s["end"] - s["start"] for s in spans
                              if s["layer"] == "catalog"
                              and s["op"] is None)
    m["queries.build_s"] = sum(s["end"] - s["start"] for s in timed
                               if s["layer"].startswith(("queries.",
                                                         "operators.")))
    m["catalyst.plan_s"] = sum(s["end"] - s["start"] for s in timed
                               if "plan_ms" in s)
    for key, name, scale in (
            ("jobs", "spark.jobs", 1), ("stages", "spark.stages", 1),
            ("tasks", "spark.tasks", 1),
            ("sched_ms", "spark.scheduler_delay_s", 1e-3),
            ("run_ms", "spark.executor_run_s", 1e-3),
            ("cpu_ns", "spark.executor_cpu_s", 1e-9),
            ("gc_ms", "spark.jvm_gc_s", 1e-3),
            ("shuffle_read", "spark.shuffle_read_bytes", 1),
            ("shuffle_write", "spark.shuffle_write_bytes", 1),
            ("spill", "spark.spill_bytes", 1)):
        m[name] = spark_sum(timed, key) * scale
    timed_groups = {f"span-{s['id']}" for s in timed}
    m["udf.python_nodes"] = sum(
        n for eid, n in log["exec_pynodes"].items()
        if log["exec_group"].get(eid) in timed_groups)
    out_rows = sum(facts.get("result_rows", {}).get(r["name"][3:], 0)
                   for r in roots)
    if out_rows:
        m["spark.input_rows_per_output_row"] = (
            spark_sum(timed, "input_rows") / out_rows)
    for r in roots:
        layer = next((s["layer"] for s in kids.get(r["id"], ())
                      if s["layer"] in QUERY_MODULES), None)
        if layer:
            m[f"{layer}.busy_s"] += r["end"] - r["start"]

    builds = {"ivf": [], "ann": []}
    execs = []
    for r in roots:
        for s in kids.get(r["id"], ()):
            if s["name"].endswith("_incremental_topk"):
                builds["ivf" if "ivf" in s["name"] else "ann"].append(s)
            elif s["layer"] == "spark.exec" and r["name"].endswith("probe"):
                execs.append(s)
    singles = builds["ivf"] + builds["ann"]
    if singles:
        m["plans.ivf_index.probe_build_s"] = _median(
            [s["end"] - s["start"] for s in builds["ivf"]])
        m["plans.ann_index.probe_build_s"] = _median(
            [s["end"] - s["start"] for s in builds["ann"]])
        m["probe.build_jobs"] = sum(
            len(x["jobs"]) for s in singles for x in subtree(s)
        ) / len(singles)
        m["probe.driver_rows_collected"] = sum(
            x.get("rows_collected", 0) for s in singles
            for x in subtree(s)) / len(singles)
        m["probe.exec_s"] = _median([s["end"] - s["start"]
                                     for s in execs])
        m["fs.leaf_dirs"] = spark_sum(execs, "partitions_read") / len(execs)
        m["fs.files_read"] = spark_sum(execs, "files_read") / len(execs)
        m["probe.rows_scanned_per_result"] = spark_sum(
            execs, "input_rows") / (len(execs) * 10)
    batch = [s for s in spans if s["name"].endswith("_batch_topk")]
    if batch:
        m["probe.batch_build_jobs"] = sum(
            len(x["jobs"]) for s in batch for x in subtree(s)) / len(batch)
    if facts.get("batch_probe_s"):
        m["probe.batch_p50_s"] = _median(facts["batch_probe_s"])
        m["probe.vectors_per_s"] = (facts["batch_queries"]
                                    * len(facts["batch_probe_s"])
                                    / sum(facts["batch_probe_s"]))
    m["probe.recall_at_10"] = facts.get("recall_at_10", 0.0)

    progress = [p for ps in facts.get("stream_progress", {}).values()
                for p in ps]
    for key, name in (("latestOffset", "streaming.latest_offset_ms"),
                      ("addBatch", "streaming.add_batch_ms"),
                      ("walCommit", "streaming.wal_commit_ms"),
                      ("queryPlanning", "streaming.query_planning_ms")):
        m[name] = sum(p["ms"].get(key, 0) for p in progress)
    if progress:
        m["streaming.commit_p50_s"] = _median(
            [p["ms"].get("triggerExecution", 0) / 1e3 for p in progress])
        m["streaming.ingest_rows_per_s"] = (facts["input_rows"]
                                            / facts["stream_ingest_s"])
    m["plans.corpus.ingest_delta_s"] = _median(
        [s["end"] - s["start"] for s in spans
         if s["name"] == "plans.corpus.ingest_delta"])
    m["plans.corpus.admit_ratio"] = facts.get("admit_ratio", 0.0)
    m["fs.files_written"] = facts.get("files_written", 0)
    m["fs.bytes_written"] = facts.get("bytes_written", 0)
    m["plans.compact.compact_s"] = facts.get("compact_s", 0.0)
    m["plans.compact.bytes_rewritten"] = facts.get(
        "compact_bytes_rewritten", 0)
    if facts.get("stored_bytes"):
        m["fs.bytes_stored_per_input_byte"] = (facts["stored_bytes"]
                                               / facts["input_bytes"])

    worst = 0.0
    for r in roots:
        tree = subtree(r)
        for s in tree:
            layer = ("queries" if s["layer"].startswith(("queries.",
                                                         "operators."))
                     else s["layer"])
            m[f"self.{layer}_s"] += selfs[s["id"]]
        wall = r["end"] - r["start"]
        worst = max(worst, abs(sum(selfs[s["id"]] for s in tree) - wall)
                    / wall)
    m["trace.self_sum_error"] = worst
    m["trace.overhead_ratio"] = tracer.overhead_s / facts["traced_wall_s"]
    return m


def _add_plan_spans(tracer: Tracer, log: dict) -> None:
    """Planning time becomes a child span at the start of the span
    whose job group ran the SQL execution."""
    by_group = {f"span-{s['id']}": s for s in tracer.spans}
    cursor: dict = {}
    for eid, ms in sorted(tracer.plan_ms.items()):
        parent = by_group.get(log["exec_group"].get(eid))
        if parent is None or ms <= 0:
            continue
        start = cursor.get(parent["id"], parent["start"])
        cursor[parent["id"]] = start + ms / 1e3
        tracer.spans.append({
            "id": len(tracer.spans), "name": "catalyst.plan",
            "layer": "catalyst", "parent": parent["id"],
            "op": parent["op"], "start": start,
            "end": min(parent["end"], start + ms / 1e3), "jobs": [],
            "plan_ms": ms})
