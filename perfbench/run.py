"""Served-request benchmark of duckdb_server_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (perfbench/README.md has the layer map):

- ``served-interactive``: the server's real CLI in a child process, an
  open loop of seeded arrivals over four Flight SQL connections;
- ``embedded-catalog``: ``Engine`` plus ``catalog.QUERIES`` in this
  process, one pass over bench.py's headline rows.

Every answer is checked against DuckDB on the same parquet. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it carries the run's detail: host noise, error rate, latency percentiles
with sample counts, Spark counts and, when traced, the per-span table and
the baseline counts. Exits non-zero on any wrong answer or failed request.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("served-interactive", "embedded-catalog")

END_TO_END = {
    "setup_s": "s", "slo_attainment": "share", "throughput_rps": "1/s",
    "result_mb_per_s": "MB/s", "pass_s": "s", "server_rss_mb": "MB",
}


@dataclass
class Context:
    root: str
    warehouse: str
    out_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    sf: float


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="warehouse scale factor (default: the frozen one)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "duckdb_server_spark", "server.py")):
        print("perfbench: duckdb_server_spark is missing from this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    import datagen
    import measure
    import schedule

    sf = args.sf if args.sf is not None else schedule.SF
    out_dir = os.path.join(HERE, "out", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir)
    ctx = Context(ROOT, datagen.ensure_warehouse(os.path.join(HERE, "data"), sf),
                  out_dir, args.seed, args.seconds, bool(args.trace), _cpus(), sf)
    ticks = measure.cpu_ticks()
    try:
        if args.workload == "embedded-catalog":
            from embedded import run_embedded

            out = run_embedded(ctx)
        else:
            from served import run_served

            out = run_served(ctx)
    finally:
        # Each workload stops what it started; this catches anything left
        # on a path out that it did not foresee.
        measure.stop_processes(measure.descendants())
        shutil.rmtree(out_dir, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf": sf, "cpus": ctx.cpus,
        "host": measure.host_noise(ticks, measure.cpu_ticks()),
        "error_rate": out["failed"] / out["attempted"],
        "wrong": out["wrong"], "errors": out["errors"],
        "spark": out["spark"], **out["detail"],
    }
    if ctx.trace:
        import layers
        from tracing import by_name, in_window

        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in layers.per_layer(out).items()}
        detail["end_to_end"] = out["e2e"]
        detail["baseline"] = layers.baseline(out)
        detail["spans"] = {k: {kk: round(vv, 6) for kk, vv in v.items()}
                           for k, v in by_name(in_window(out["spans"], *out["window"])).items()}
        detail["spans_file"] = _write_spans(out, args)
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    correct = not out["wrong"] and not out["errors"]
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct and out["failed"] == 0 else 1


def _write_spans(out: dict, args) -> str:
    path = os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"window": out["window"],
                   "spans": [s.to_json() for s in out["spans"]]}, fh)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
