"""Per-layer metrics of a traced run, computed from its spans.

``*_s`` metrics are self time (span duration minus its children), summed
and divided by the workload's unit: per statement request on the served
workloads, per catalog row (build plus execute) on embedded-catalog.
``catalog.*`` and ``session.load_table_*`` are per pass on
embedded-catalog (a run makes one pass); on the served workload
``session.*`` covers the server's whole life, start-up included. A layer a workload never calls
reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from tracing import Span, by_name, in_window

PER_LAYER = (
    "server.get_flight_info_s", "server.do_get_s", "server.resolve_query_frame_s",
    "server.resolve_calls_per_request", "server.gate_s",
    "server.gate_calls_per_request", "server.first_batch_s", "server.serialize_s",
    "server.batches_out", "server.bytes_out", "server.errors",
    "dialect.run_sql_s", "dialect.rewrite_s", "dialect.rewrite_calls_per_request",
    "dialect.route_native_share",
    "catalyst.sql_calls_per_request", "catalyst.sql_failures_per_request",
    "catalyst.analysis_s",
    "spark.jobs_per_request", "spark.stages_per_request",
    "spark.tasks_per_request", "spark.job_s",
    "session.load_table_calls", "session.load_table_s", "session.bootstrap_s",
    "catalog.build_s", "catalog.build_jobs", "catalog.exec_s",
    "py4j.calls_per_request", "py4j.calls_per_build",
    "flight.ttfb_s", "flight.rpcs_per_request",
)

# Rows whose build cost is recorded as baseline counts.
BASELINE_BUILDS = ("t03_shipping_priority", "b03_minhash_lsh_pairs")

UNITS = {"_s": "s", "bytes_out": "bytes", "_share": "share"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def subtree_py4j(spans: list[Span]) -> dict[int, int]:
    """Span id → py4j commands sent inside the span or any descendant."""
    total = {s.id: s.py4j for s in spans}
    parent = {s.id: s.parent for s in spans}
    for s in spans:
        p = s.parent
        while p is not None and p in total:
            total[p] += s.py4j
            p = parent[p]
    return total


def _native_share(spans: list[Span]) -> float:
    """Share of run_sql calls that resolved without calling rewrite."""
    parent = {s.id: s.parent for s in spans}
    run_ids = {s.id for s in spans if s.name == "dialect.run_sql"}
    rewrote = set()
    for s in spans:
        if s.name == "dialect.rewrite":
            p = s.parent
            while p is not None:
                if p in run_ids:
                    rewrote.add(p)
                p = parent.get(p)
    return 1 - len(rewrote) / len(run_ids) if run_ids else 0.0


def per_layer(out: dict) -> dict[str, float]:
    all_spans: list[Span] = out["spans"]
    spans = in_window(all_spans, *out["window"])
    agg = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "errors": 0},
                      by_name(spans))
    whole = by_name(all_spans)
    embedded = "build_jobs" in out
    n = out["spark"]["requests"] or 1
    spark = out["spark"]
    flight_side = out.get("flight", {})
    served_out = [s for s in spans if s.name in ("server.first_batch", "server.stream")]
    session = agg if embedded else whole
    builds = [s for s in spans if s.name == "catalog.build"]
    py4j_sub = subtree_py4j(spans)
    m = {
        "server.get_flight_info_s": agg["server.get_flight_info"]["self_s"] / n,
        "server.do_get_s": agg["server.do_get"]["self_s"] / n,
        "server.resolve_query_frame_s": agg["server.resolve_query_frame"]["self_s"] / n,
        "server.resolve_calls_per_request": agg["server.resolve_query_frame"]["calls"] / n,
        "server.gate_s": agg["server.gate"]["self_s"] / n,
        "server.gate_calls_per_request": agg["server.gate"]["calls"] / n,
        "server.first_batch_s": agg["server.first_batch"]["self_s"] / n,
        "server.serialize_s": agg["server.stream"]["self_s"] / n,
        "server.batches_out": sum("rows" in s.attrs for s in served_out) / n,
        "server.bytes_out": sum(s.attrs.get("bytes", 0) for s in served_out) / n,
        "server.errors": sum(s.error is not None for s in spans
                             if s.parent is None and s.name.startswith("server.")),
        "dialect.run_sql_s": agg["dialect.run_sql"]["self_s"] / n,
        "dialect.rewrite_s": agg["dialect.rewrite"]["self_s"] / n,
        "dialect.rewrite_calls_per_request": agg["dialect.rewrite"]["calls"] / n,
        "dialect.route_native_share": _native_share(spans),
        "catalyst.sql_calls_per_request": agg["catalyst.sql"]["calls"] / n,
        "catalyst.sql_failures_per_request": agg["catalyst.sql"]["errors"] / n,
        "catalyst.analysis_s": agg["catalyst.sql"]["self_s"] / n,
        "spark.jobs_per_request": spark["jobs"] / n,
        "spark.stages_per_request": spark["stages"] / n,
        "spark.tasks_per_request": spark["tasks"] / n,
        "spark.job_s": spark["job_s"] / n,
        "session.load_table_calls": session.get("session.load_table", {}).get("calls", 0),
        "session.load_table_s": session.get("session.load_table", {}).get("self_s", 0.0),
        "session.bootstrap_s": whole.get("session.bootstrap", {}).get("total_s", 0.0),
        "catalog.build_s": agg["catalog.build"]["self_s"],
        "catalog.build_jobs": sum(out.get("build_jobs", {}).values()),
        "catalog.exec_s": agg["catalog.exec"]["self_s"],
        "py4j.calls_per_request": sum(s.py4j for s in spans) / n,
        "py4j.calls_per_build": (sum(py4j_sub[s.id] for s in builds) / len(builds)
                                 if builds else 0.0),
        "flight.ttfb_s": flight_side.get("ttfb_s", 0.0),
        "flight.rpcs_per_request": flight_side.get("rpcs_per_request", 0.0),
    }
    assert tuple(m) == PER_LAYER
    return m


def baseline(out: dict) -> dict:
    """The exact counts later changes are measured against."""
    spans: list[Span] = out["spans"]
    if "build_jobs" in out:
        py4j_sub = subtree_py4j(spans)
        builds = {s.attrs["row"]: s for s in spans if s.name == "catalog.build"}
        return {name: {"py4j_calls_per_build": py4j_sub[builds[name].id],
                       "build_jobs": out["build_jobs"][name],
                       "build_s": builds[name].end - builds[name].start}
                for name in BASELINE_BUILDS if name in builds}
    probes = {}
    for name, c in out.get("baseline", {}).items():
        agg = by_name(in_window(spans, c["t0"], c["t1"]))
        probes[name] = {
            "jobs": c["jobs"], "stages": c["stages"], "tasks": c["tasks"],
            "rpcs": c["rpcs"], "latency_s": c["latency_s"],
            "resolve_calls": agg.get("server.resolve_query_frame", {}).get("calls", 0),
            "gate_calls": agg.get("server.gate", {}).get("calls", 0),
            "catalyst_sql_calls": agg.get("catalyst.sql", {}).get("calls", 0),
            "py4j_calls": sum(s.py4j for s in in_window(spans, c["t0"], c["t1"])),
        }
    return probes
