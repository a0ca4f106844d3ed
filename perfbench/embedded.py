"""Embedded workload: the catalog's headline rows built and executed in the
benchmark process through ``Engine`` and ``catalog.QUERIES``."""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager

import check
import measure
import schedule
from served import free_port, spark_env


def run_embedded(ctx) -> dict:
    os.environ.update(spark_env(ctx.out_dir, ctx.cpus))
    rss = measure.RssSampler(os.getpid())
    try:
        with rss:
            out = _run(ctx, rss)
    finally:
        _stop_spark()
    out["e2e"]["server_rss_mb"] = rss.peak / 2**20
    return out


def _stop_spark() -> None:
    """Stop the session and its JVM and wait for both, so nothing this
    run started outlives it. The JVM exits when its stdin closes; it would
    otherwise do so only after this process has gone."""
    from pyspark import SparkContext

    started = measure.descendants()
    sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
    try:
        if sc is not None:
            sc.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        measure.stop_processes(started | measure.descendants())


def _run(ctx, rss: measure.RssSampler) -> dict:
    t_launch = time.monotonic()
    import bench
    from duckdb_server_spark import catalog

    catalog.load_all()
    tracer = None
    if ctx.trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    from duckdb_server_spark.engine import Engine
    from duckdb_server_spark.session import get_spark

    ui_port = free_port()
    spark = get_spark(app_name="perfbench", configs={
        "spark.ui.port": str(ui_port), "spark.ui.showConsoleProgress": "false"})
    Engine(ctx.warehouse, spark=spark)
    setup_s = time.monotonic() - t_launch
    spark.sparkContext.setLogLevel("ERROR")
    status = measure.SparkStatus(f"http://127.0.0.1:{ui_port}")
    tracker = spark.sparkContext.statusTracker()

    names = schedule.catalog_order(
        ctx.seed, [n for n in bench.HEADLINE if n in catalog.QUERIES])
    build = catalog.QUERIES

    @contextmanager
    def span(label, row):
        if tracer is None:
            yield
            return
        with tracer.span(label) as sp:
            sp.attrs["row"] = row
            yield

    # One row before the pass takes the process's first scan, job and
    # code generation, as bench.py's warm-up does.
    build[bench.HEADLINE[0]](spark, ctx.warehouse).toArrow()

    # One pass: each row is built, then executed by collecting its result
    # as Arrow (the embedded caller's result path, and what the check
    # reads, so nothing runs twice). A second pass would find every plan's
    # code already generated and measure something else, so the pass count
    # is fixed and --seconds does not change it.
    measure.wait_until_idle(status)
    job0 = status.last_job_id()
    tables, times, errors, build_jobs = {}, {}, {}, {}
    t0 = time.monotonic()
    for name in names:
        jobs_before = len(tracker.getJobIdsForGroup()) if tracer else 0
        try:
            a = time.monotonic()
            with span("catalog.build", name):
                df = build[name](spark, ctx.warehouse)
            b = time.monotonic()
            if tracer:
                build_jobs[name] = len(tracker.getJobIdsForGroup()) - jobs_before
            with span("catalog.exec", name):
                tables[name] = df.toArrow()
            times[name] = (b - a, time.monotonic() - b)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
    t1 = time.monotonic()
    # The peak covers set-up and the pass, not the DuckDB check below.
    rss.stop()
    measure.wait_until_idle(status)
    spark_counts = status.since(job0)

    con = check.connect(ctx.warehouse)
    wrong = [n for n, t in tables.items() if n in catalog.ORACLE
             and not check.same_answer(con, catalog.ORACLE[n], t)]
    result_bytes = {n: t.nbytes for n, t in tables.items()}

    row_lat = [b + e for b, e in times.values()]
    busy = sum(row_lat)
    good = [b + e for n, (b, e) in times.items() if n not in wrong and n not in errors]
    slo = schedule.SLO_S["embedded-catalog"]
    spark_counts["requests"] = len(row_lat)
    out = {
        "e2e": {
            "setup_s": setup_s,
            "slo_attainment": sum(x <= slo for x in good) / len(names),
            "throughput_rps": len(good) / busy,
            "result_mb_per_s": sum(result_bytes.values()) / busy / 1e6,
            "pass_s": busy,
        },
        "attempted": len(names),
        "failed": len(names) - len(good),
        "wrong": wrong,
        "errors": errors,
        "window": (t0, t1),
        "spark": spark_counts,
        "detail": {
            "rows": len(names),
            "latency": measure.summary(row_lat),
            "build_s": {n: b for n, (b, _) in times.items()},
            "exec_s": {n: e for n, (_, e) in times.items()},
            "result_bytes": result_bytes,
        },
    }
    if tracer is not None:
        out["spans"] = tracer.spans
        out["build_jobs"] = build_jobs
    return out
