#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload analytic_mix --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. The seed generates every input. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run at the same seed (spans around every layer call, Spark's
event log, planning phases), whose spans are written to
``perfbench/.out/``. The line before it holds the run record, the
sample counts and percentiles, and every failed op or check.

Everything the run writes, Spark's scratch space included, stays under
``perfbench/.work/`` and is removed when the run ends. The run itself
happens in a child process in a session of its own; when it ends, every
process it left behind (the Spark driver JVM, Spark's Python workers)
is ended and waited for before this one exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "light_redistribution_in_3dptf_data_pipeline_spark"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "driver_peak_rss_mb": "MB"}
CHILD_ENV = "PERFBENCH_CHILD"


def tail(values: list) -> tuple:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); the maximum when there are 10 or fewer."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    i = len(v) - 11
    return v[i], round(100.0 * (i + 1) / len(v), 2)


def kind_p50(ops: list) -> float:
    """Median latency per op kind, combined across kinds by their
    geometric mean. A kind is one declared query of analytic_mix, or
    one probe path (IVF, LSH) of ingest_stream; a plain median of such
    a mix would jump between kinds from run to run."""
    by: dict = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["s"])
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by.values()))


def configure_launch(work: str, trace: bool) -> int:
    """Environment of the Spark driver JVM and its Python workers; must
    run before pyspark starts the JVM."""
    cpus = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import the package by name; started from another
    # directory they would not find it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # A fixed heap and young generation keep the driver's peak RSS from
    # following the collector's adaptive sizing from run to run.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap} -Xmn256m'"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{work}/eventlog"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    return cpus


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stops the session and the driver JVM and waits for the JVM to
    end; left alone it outlives this interpreter by seconds. The JVM
    exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def instrument(tracer, QUERIES) -> None:
    """Spans around the public functions of every layer the workloads
    reach, and a count of rows each span collects to the driver."""
    import dataclasses
    import importlib

    from pyspark.sql import DataFrame

    layers = (
        ("catalog", "catalog", ["load_table", "register_views"]),
        ("fs", "fs", ["path_exists", "delete_path", "list_dir", "mkdirs",
                      "write_text", "read_text", "read_json_doc",
                      "write_text_atomic", "create_exclusive",
                      "dir_bytes", "file_mtime_ms", "touch_mtime"]),
        ("plans.ivf_index", "plans.ivf_index", [
            "init_ivf_index", "ivf_ingest_delta", "ivf_incremental_topk",
            "ivf_batch_topk", "compact_ivf_batches", "verify_ivf_index",
            "ivf_vectors"]),
        ("plans.ann_index", "plans.ann_index", [
            "ann_ingest_delta", "ann_incremental_topk", "ann_batch_topk"]),
        ("plans.corpus", "plans.corpus", [
            "ingest_delta", "verify_corpus", "committed_batches",
            "read_manifest"]),
        ("streaming", "streaming.ingestion", ["run_ingestion_with_dedup"]),
        ("streaming", "streaming.vectors", ["run_vector_ingestion"]),
    )
    for layer, mod, names in layers:
        tracer.instrument(importlib.import_module(f"{PKG}.{mod}"), names,
                          layer)
    for name, q in list(QUERIES.items()):
        mod = ".".join(q.builder.__module__.split(".")[-2:])
        QUERIES[name] = dataclasses.replace(
            q, builder=tracer.wrap(q.builder, f"{mod}.{name}", mod))
    collect = DataFrame.collect

    def counted_collect(self):
        rows = collect(self)
        stack = tracer._stack() or tracer._main_stack
        if stack:
            stack[-1]["rows_collected"] = (
                stack[-1].get("rows_collected", 0) + len(rows))
        return rows
    DataFrame.collect = counted_collect


def run(args, work: str) -> tuple[dict, dict]:
    cpus = configure_launch(work, args.trace)
    t0 = time.perf_counter()
    import pyspark

    from light_redistribution_in_3dptf_data_pipeline_spark.session import (
        get_spark)
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{cpus}]")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    import spans
    import workloads

    tracer = None
    if args.trace:
        from light_redistribution_in_3dptf_data_pipeline_spark.queries import (
            QUERIES)
        tracer = spans.Tracer(spark)
        tracer.listen_for_planning(spark)
        instrument(tracer, QUERIES)
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer,
                        args.size)
    ctx.facts.update(cpus=cpus, session_start_s=session_start_s,
                     batch_queries=workloads.SIZES[args.size][
                         "batch_queries"])
    sc = spark.sparkContext
    try:
        t_wl = time.perf_counter()
        workloads.WORKLOADS[args.workload](ctx)
        ctx.facts["traced_wall_s"] = time.perf_counter() - t_wl
        rss = jvm_peak_rss_mb(spark)
        if tracer:
            tracer.drain_listeners()
    finally:
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "size": args.size, "sizes": workloads.SIZES[args.size],
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "pyspark": pyspark.__version__,
            "setup_parts_s": ctx.setup_parts,
        }
        stop_spark(spark)

    lat = [o["s"] for o in ctx.ops]
    tail_s, tail_pct = tail(lat)
    e2e = {"setup_s": session_start_s + sum(ctx.setup_parts.values()),
           "op_p50_s": kind_p50(ctx.ops), "driver_peak_rss_mb": rss}
    failures = ([o for o in ctx.ops if not o["ok"]]
                + [c for c in ctx.checks if not c["ok"]])
    detail = {
        "run_record": record,
        "samples": {"op_p50_s": len(lat), "op_tail_s": tail_s,
                    "op_tail_percentile": tail_pct,
                    "ops_per_s": len(lat) / sum(lat),
                    "op_median_s": statistics.median(lat),
                    "ops": [[o["kind"], round(o["s"], 4)]
                            for o in ctx.ops]},
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()},
        "checks": len(ctx.checks), "failures": failures,
    }
    if tracer:
        log = spans.read_event_log(os.path.join(work, "eventlog"))
        metrics = spans.layer_metrics(tracer, log, ctx)
        units = spans.PER_LAYER
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"run_record": record, "spans": tracer.spans}, f)
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": not failures and bool(ctx.ops),
        "attempted": len(ctx.ops) + len(ctx.checks),
        "failed": len(failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    return detail, result


def _proc_stat(pid: int) -> tuple:
    """(state, parent pid, session id) of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return fields[0], int(fields[1]), int(fields[4])


def _left_behind(sid: int) -> list:
    """Live processes of session ``sid`` or below this process."""
    me, procs = os.getpid(), {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _proc_stat(int(d))
            except (OSError, IndexError, ValueError):
                pass

    def below_me(pid):
        while pid > 1:
            pid = procs[pid][1] if pid in procs else 0
            if pid == me:
                return True
        return False
    return [p for p, (state, _, s) in procs.items()
            if p != me and state != "Z" and (s == sid or below_me(p))]


def _end_all(child: subprocess.Popen) -> None:
    """Ends the child and every process it started, with TERM and ten
    seconds later KILL, and waits until none is left. This process is
    their subreaper, so the ones orphaned on the way are reaped here."""
    kill_at = time.monotonic() + 10
    termed: set = set()
    while True:
        pids = _left_behind(child.pid)
        if child.poll() is None:
            pids.append(child.pid)
        if not pids:
            break
        for pid in pids:
            if pid in termed and time.monotonic() < kill_at:
                continue
            termed.add(pid)
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < kill_at
                        else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
    try:
        while True:
            os.waitpid(-1, 0)
    except ChildProcessError:
        pass


def exit_on_term() -> None:
    """SIGTERM leaves through ``finally`` blocks, as an exit would."""
    def terminated(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, terminated)


def supervise(argv: list, workload: str) -> int:
    """Runs the benchmark in a child process in a new session and, on
    every way out, ends whatever it left running, waits for it and
    removes the child's work directory."""
    try:    # orphaned descendants become this process's children
        import ctypes
        PR_SET_CHILD_SUBREAPER = 36
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass
    exit_on_term()
    # A fixed hash seed gives every run the same set and dict orders in
    # the driver and in Spark's Python workers, so one seed repeats one
    # run; with random ones the probe latency of ingest_stream spread
    # more from run to run.
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=dict(os.environ, **{CHILD_ENV: "1", "PYTHONHASHSEED": "0"}),
        start_new_session=True)
    try:
        return child.wait()
    finally:
        _end_all(child)
        shutil.rmtree(work_dir(workload, child.pid), ignore_errors=True)


def work_dir(workload: str, pid: int) -> str:
    return os.path.join(HERE, ".work", f"{workload}-{pid}")


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES),
                    default="full")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the {PKG} package is not in {ROOT}",
              file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else list(argv),
                         args.workload)
    exit_on_term()
    work = work_dir(args.workload, os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
