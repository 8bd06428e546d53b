#!/usr/bin/env python3
"""Benchmark entry point: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the base
tables under ``.bench_build/perfbench/`` (cached); every run then generates
its own inputs from ``--seed``, starts a Spark session, sets up (timed as
``setup_s``), runs the op loop for ``--seconds``, checks every result and
prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans around each call into the program (see README.md for
which end-to-end metric each per-layer metric should move). Details of a
run — every op, every span, the tail percentile used — land in
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PACKAGE = "pulfa_sausage_factory_spark"

WORKLOADS = ("write", "read")

E2E = {
    "throughput_ops_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ok_ratio": "ratio",
    "quality": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from analytics_queries import QUERY_NAMES
    from workloads import Publish

    m = {"session.get_spark.s": "s"}
    for call, suffixes in [
        ("curation.run_incremental_curation", ("s", "jobs", "tasks")),
        ("curation.compact_ingest_state", ("s", "jobs")),
        ("ann_index.build_pq_index", ("s",)),
        ("ann_index.load_pq_index", ("s", "jobs")),
        ("ann_index.knn_from_index", ("s", "jobs", "tasks")),
        ("ann_index.append_to_pq_index", ("s", "jobs")),
        *[(f"ead_pipeline.{st}", ("s", "jobs")) for st in Publish.STAGES],
        ("incremental.journal_publish", ("s", "jobs")),
        *[(f"queries.{q}", ("s", "jobs")) for q in QUERY_NAMES],
    ]:
        for sfx in suffixes:
            m[f"{call}.{sfx}"] = "s" if sfx == "s" else "count"
    m.update({
        "curation.state_bytes_per_input_byte": "ratio",
        "curation.state_files": "count",
        "ann_index.live_log_batches": "count",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "proc.cpu_util": "ratio",
        "trace.overhead_share": "ratio",
    })
    return m


# ---------------------------------------------------------------------------
# environment, build, session
# ---------------------------------------------------------------------------

def _environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # keep every JVM's scratch inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    time.tzset()


def ensure_tables(scale: str) -> str:
    """The cached base tables for ``scale`` (built on first use)."""
    import datagen

    out = os.path.join(BUILD, "tables", f"{scale}-v{datagen.TABLES_VERSION}")
    if not os.path.exists(os.path.join(out, "DONE")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.build_tables(tmp, scale)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def load_reference(tables: str, scale: str) -> dict:
    import datagen

    with open(os.path.join(HERE, "reference", "analytics.json")) as f:
        ref = json.load(f)
    entry = ref["scales"].get(scale)
    digest = datagen.tables_digest(tables)
    if ref["tables_version"] != datagen.TABLES_VERSION or not entry or entry["tables"] != digest:
        raise SystemExit(
            "perfbench: reference/analytics.json does not match the generated "
            "tables; rerun perfbench/make_reference.py")
    return entry["queries"]


def warm_session(spark) -> None:
    """Session-wide one-time costs: the Python worker pool (through pandas
    UDFs whose output is consumed — an unreferenced UDF column is pruned and
    warms nothing) with scalar and array Arrow outputs, and the session's
    first persist."""
    import pandas as pd
    from pyspark.sql import functions as F

    def ident(s):
        return s

    def arr(s):
        import numpy  # noqa: F401 — preload into the reused workers

        return s.map(lambda v: [v])

    ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    arr.__annotations__ = {"s": pd.Series, "return": pd.Series}
    par = spark.sparkContext.defaultParallelism
    warm = spark.range(par * 4).repartition(par)
    warm.select(F.pandas_udf(ident, "long")("id").alias("x")).agg(F.sum("x")).collect()
    warm.select(F.pandas_udf(arr, "array<long>")("id").alias("x")).agg(
        F.sum(F.size("x"))).collect()
    cached = warm.persist()
    cached.count()
    cached.unpersist()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it
    (the maximum when there are ten or fewer samples), and that percentile."""
    n = len(samples)
    p = 100 if n <= 10 else max(50, math.floor(100 * (1 - 10 / n)))
    s = sorted(samples)
    return s[min(n - 1, math.ceil(p / 100 * n) - 1)], p


def end_to_end(ops, window_s, setup_s, peak_rss, quality) -> tuple[dict, dict]:
    done = [o for o in ops if o.ok]
    samples = [o.latency for o in done for _ in range(o.n)]
    if not samples:
        samples = [o.latency for o in ops for _ in range(o.n)] or [window_s]
    t, p = tail(samples)
    attempted = sum(o.n for o in ops)
    failed = sum(o.meta.get("failed", 0 if o.ok else o.n) for o in ops)
    vals = {
        "throughput_ops_s": sum(o.n for o in done) / window_s,
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": t,
        "ok_ratio": 1 - failed / max(1, attempted),
        "quality": quality,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    info = {"tail_percentile": p, "latency_samples": len(samples),
            "calls": len(ops), "attempted": attempted, "failed": failed}
    return vals, info


def per_layer(tracer, ops, in_prefix, extra: dict, session_s: float,
              cpu_util: float, window_s: float) -> tuple[dict, list]:
    """Per-layer values from the spans: ``.s`` is the median call time,
    ``.jobs``/``.tasks`` the counts of the layer's first call in the timed
    loop, which is the same call in every traced run of one seed."""
    names = layer_metrics()
    vals = {"session.get_spark.s": session_s, "proc.cpu_util": cpu_util,
            "trace.overhead_share": tracer.overhead_s / window_s}
    vals.update(extra)
    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append(sp)
    for call, spans in by_name.items():
        timed = [s for s in spans if s.phase == "run"] or spans
        first = timed[0]
        for sfx, v in (("s", statistics.median(s.end - s.start for s in timed)),
                       ("jobs", first.jobs), ("tasks", first.tasks)):
            if f"{call}.{sfx}" in names:
                vals[f"{call}.{sfx}"] = v
    pre = [o for o in ops if in_prefix(o) and o.meta.get("span") is not None]
    n = sum(o.n for o in pre)
    if n:
        vals["spark.jobs_per_op"] = sum(o.meta["span"].jobs for o in pre) / n
        vals["spark.tasks_per_op"] = sum(o.meta["span"].tasks for o in pre) / n
    absent = [k for k in names if k not in vals]
    return {k: {"value": vals.get(k, 0), "unit": u} for k, u in names.items()}, absent


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="input scale; tiny is for smoke tests")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 3
    sys.path[:0] = [ROOT, HERE]
    import datagen
    import workloads
    from tracing import ProcSampler, Tracer, tree_usage

    tables = ensure_tables(a.scale)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    reference = warm_tables = None
    if a.workload == "read":
        reference = load_reference(tables, a.scale)
        warm_tables = ensure_tables("tiny")
    inputs = os.path.join(work, "inputs")
    datagen.generate(a.workload, a.seed, inputs, tables, a.scale)

    t_setup = time.perf_counter()
    from pulfa_sausage_factory_spark.session import get_spark

    spark = get_spark(f"perfbench-{a.workload}")
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        with ProcSampler(jvm) as sampler:
            tracer = Tracer(bool(a.trace), spark.sparkContext)
            ctx = workloads.Ctx(spark, tracer, inputs, os.path.join(work, "out"),
                                tables, reference, warm_tables)
            os.makedirs(ctx.work)
            wl = workloads.make(a.workload, ctx)
            tracer.phase = "setup"
            workloads.concurrently(lambda: warm_session(spark), wl.setup)
            setup_s = time.perf_counter() - t_setup

            tracer.phase = "run"
            cpu0, wall0, self0 = tree_usage(jvm)[0], time.perf_counter(), sum(os.times()[:2])
            ops = wl.run(a.seconds)
            window_s = max(o.end for o in ops) - wall0 if ops else time.perf_counter() - wall0
            cpu = tree_usage(jvm)[0] - cpu0 + sum(os.times()[:2]) - self0
            cpu_util = cpu / (window_s * len(os.sched_getaffinity(0)))
            checked = wl.check()
        quality = checked["good"] / checked["of"] if checked["of"] else 1.0
        e2e, info = end_to_end(ops, window_s, setup_s, sampler.peak_rss, quality)
        info["setup_parts_s"] = {"session": session_s, "warm_up": setup_s - session_s}
        result = {"correct": info["failed"] == 0 and bool(ops),
                  "attempted": max(1, info["attempted"]), "failed": info["failed"]}
        absent = []
        if a.trace:
            metrics, absent = per_layer(tracer, ops, wl.in_prefix, checked["layers"],
                                        session_s, cpu_util, window_s)
        else:
            metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
        _save_details(a, info, e2e, ops, tracer, absent, window_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for op in ops:
        if op.error:
            print(f"perfbench: {op.kind} failed: {op.error}", file=sys.stderr)
    print(json.dumps({**result, "metrics": metrics}))
    return 0


def _save_details(a, info, e2e, ops, tracer, absent, window_s) -> None:
    out = os.path.join(BUILD, "results")
    os.makedirs(out, exist_ok=True)
    detail = {
        "args": vars(a), "window_s": window_s, **info, "end_to_end": e2e,
        "absent_per_layer": absent,
        "ops": [{"kind": o.kind, "n": o.n, "latency": o.latency, "ok": o.ok,
                 "error": o.error, **{k: v for k, v in o.meta.items()
                                      if k not in ("result", "span")}} for o in ops],
        "spans": tracer.dump(),
    }
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
