"""The served workload: the server runs through its real CLI in a child
process and one client process drives it over Arrow Flight SQL."""

from __future__ import annotations

import json
import os
import queue
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.flight as flight

import check
import measure
import schedule
import tracing
from datagen import TABLES
from launcher import DUMP_ACTION

from duckdb_server_spark import flightsql


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class ServerProcess:
    """``python -m duckdb_server_spark.server`` (or the traced launcher)
    in its own process group, so stopping it stops its JVM and Python
    workers too."""

    def __init__(self, root: str, warehouse: str, out_dir: str, cpus: int,
                 traced: bool):
        self.port, self.ui_port = free_port(), free_port()
        self.spans_path = os.path.join(out_dir, "spans-server.json")
        args = ["--warehouse", warehouse, "--port", str(self.port)]
        if traced:
            cmd = [sys.executable, os.path.join("perfbench", "launcher.py"),
                   "--spans", self.spans_path, "--", *args]
        else:
            cmd = [sys.executable, "-m", "duckdb_server_spark.server", *args]
        env = dict(os.environ, **spark_env(out_dir, cpus),
                   PYSPARK_SUBMIT_ARGS=(
                       f"--conf spark.ui.port={self.ui_port} "
                       "--conf spark.ui.showConsoleProgress=false pyspark-shell"))
        self.log = open(os.path.join(out_dir, "server.log"), "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True)
        self.status = measure.SparkStatus(f"http://127.0.0.1:{self.ui_port}")

    def wait_ready(self, timeout: float = 150.0) -> float:
        """Seconds from launch until the first request is answered."""
        while time.monotonic() - self.t0 < timeout:
            if self.proc.poll() is not None:
                raise RuntimeError("server exited during start-up")
            try:
                client = Client(self.port)
                try:
                    client.run(schedule.Request("sql", "probe", "SELECT 1"))
                finally:
                    client.close()
                return time.monotonic() - self.t0
            except flight.FlightError:
                time.sleep(0.05)
        raise RuntimeError("server did not answer within the start-up limit")

    def dump_spans(self) -> dict:
        client = flight.connect(f"grpc://127.0.0.1:{self.port}")
        try:
            list(client.do_action(flight.Action(DUMP_ACTION, b"")))
        finally:
            client.close()
        with open(self.spans_path) as fh:
            return json.load(fh)

    def stop(self) -> None:
        # pyspark's worker daemon leads a process group of its own, which
        # the group signals below do not reach; it is stopped by pid after.
        tree = measure.descendants(self.proc.pid)
        pgid = self.proc.pid
        for sig, wait in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 20.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + wait
            while time.monotonic() < end and _group_alive(pgid):
                self.proc.poll()
                time.sleep(0.05)
            if not _group_alive(pgid):
                break
        self.proc.wait()
        measure.stop_processes(tree)
        self.log.close()


def _group_alive(pgid: int) -> bool:
    return any(pgrp == pgid for _, pgrp, _ in measure._proc_table().values())


def spark_env(out_dir: str, cpus: int) -> dict[str, str]:
    """Environment for a Spark driver that keeps its scratch files inside
    the checkout."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp, "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}"}


@dataclass
class Result:
    table: pa.Table
    ttfb: float
    rpcs: int


class Client:
    """One Flight connection; runs a Request with the RPC sequence an ADBC
    Flight SQL driver would send."""

    def __init__(self, port: int):
        self.c = flight.connect(f"grpc://127.0.0.1:{port}")

    def close(self):
        self.c.close()

    def _fetch(self, descriptor, t0: float, rpcs: int) -> Result:
        info = self.c.get_flight_info(descriptor)
        rpcs += 1
        batches, ttfb, schema = [], None, info.schema
        for ep in info.endpoints:
            reader = self.c.do_get(ep.ticket)
            rpcs += 1
            schema = reader.schema
            while True:
                try:
                    chunk = reader.read_chunk()
                except StopIteration:
                    break
                if ttfb is None:
                    ttfb = time.monotonic() - t0
                batches.append(chunk.data)
        if ttfb is None:
            ttfb = time.monotonic() - t0
        return Result(pa.Table.from_batches(batches, schema=schema), ttfb, rpcs)

    def run(self, req: schedule.Request) -> Result:
        t0 = time.monotonic()
        if req.kind == "sql":
            cmd = flightsql.encode_command_statement_query(req.sql)
        elif req.kind == "tables":
            cmd = flightsql.encode_command_get_tables(None, False)
        elif req.kind == "sql_info":
            cmd = flightsql.encode_command_get_sql_info(None)
        else:
            return self._prepared(req, t0)
        return self._fetch(flight.FlightDescriptor.for_command(cmd), t0, 0)

    def _prepared(self, req: schedule.Request, t0: float) -> Result:
        results = list(self.c.do_action(flight.Action(
            flightsql.CREATE_PREPARED_STATEMENT,
            flightsql.encode_action_create_prepared_request(req.sql))))
        handle, _ = flightsql.decode_action_create_prepared_result(
            results[0].body.to_pybytes())
        try:
            desc = flight.FlightDescriptor.for_command(
                flightsql.encode_command_prepared_statement_query(handle))
            batch = pa.record_batch([pa.array([v]) for v in req.params],
                                    names=[f"p{i}" for i in range(len(req.params))])
            writer, _ = self.c.do_put(desc, batch.schema)
            writer.write_batch(batch)
            writer.close()
            return self._fetch(desc, t0, 3)
        finally:
            list(self.c.do_action(flight.Action(
                flightsql.CLOSE_PREPARED_STATEMENT,
                flightsql.encode_action_close_prepared_request(handle))))


@dataclass
class Record:
    req: schedule.Request
    due: float
    start: float
    end: float
    result: Result | None = None
    error: str | None = None
    nbytes: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.due


def execute(client: Client, req: schedule.Request, due: float | None = None) -> Record:
    start = time.monotonic()
    try:
        res, err = client.run(req), None
    except Exception as exc:  # a failed request is data, not a crash
        res, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
    return Record(req, start if due is None else due, start, time.monotonic(),
                  res, err, res.table.nbytes if res else 0)


def open_loop(clients: list[Client], sched: list[tuple[float, schedule.Request]]):
    """Send each request when it is due, on whichever connection is free.
    Latency counts from the due time, so queueing behind a slow server
    is measured rather than hidden. Returns (start, records, the latest
    the generator itself handed a request over)."""
    q: queue.Queue = queue.Queue()
    records: list[Record] = []

    def worker(client):
        while (item := q.get()) is not None:
            records.append(execute(client, item[1], item[0]))

    threads = [threading.Thread(target=worker, args=(c,)) for c in clients]
    for t in threads:
        t.start()
    t0 = time.monotonic()
    lag = 0.0
    for due, req in sched:
        delay = t0 + due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        lag = max(lag, time.monotonic() - t0 - due)
        q.put((t0 + due, req))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return t0, records, lag


def run_parallel(clients: list[Client], reqs: list[schedule.Request]) -> list[Record]:
    q: queue.Queue = queue.Queue()
    for r in reqs:
        q.put(r)
    out: list[Record] = []

    def worker(client):
        while True:
            try:
                r = q.get_nowait()
            except queue.Empty:
                return
            out.append(execute(client, r))

    threads = [threading.Thread(target=worker, args=(c,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


# -- answer checks -----------------------------------------------------------

def _check(con, rec: Record) -> bool:
    req, got = rec.req, rec.result.table
    if req.kind == "tables":
        return set(TABLES) <= set(got.column("table_name").to_pylist())
    if req.kind == "sql_info":
        return got.num_rows > 0
    if req.kind == "prepared":
        want = con.execute(req.sql, list(req.params)).arrow()
        return check.canon_rows(got) == check.canon_rows(want)
    return check.same_answer(con, req.sql, got)


def wrong_keys(con, records: list[Record]) -> set:
    """Keys of the distinct statements whose first answer differs from
    DuckDB's (each distinct statement is checked once)."""
    first: dict[tuple, Record] = {}
    for r in sorted(records, key=lambda r: r.start):
        if r.error is None and r.req.key not in first:
            first[r.req.key] = r
    return {key for key, rec in first.items() if not _check(con, rec)}


# -- workloads ---------------------------------------------------------------

def _warm_interactive(sched, batch) -> list[schedule.Request]:
    """One request of every class plus every catalog statement, and each
    export shape with a literal that selects a few rows."""
    out, seen = [], set()
    for req in [r for _, r in sched] + batch:
        tag = req.sql if req.cls == "catalog" else req.cls
        if tag not in seen:
            seen.add(tag)
            out.append(req)
    return out + schedule.export_batch(0, warm=True)


def run_served(ctx) -> dict:
    server = ServerProcess(ctx.root, ctx.warehouse, ctx.out_dir, ctx.cpus, ctx.trace)
    rss = measure.RssSampler(server.proc.pid)
    try:
        with rss:
            setup_s = server.wait_ready()
            raw = _interactive(ctx, server)
            if ctx.trace:
                raw["baseline"] = _baseline_probes(server)
                dump = server.dump_spans()
                raw["spans"] = [tracing.Span.from_json(s) for s in dump["spans"]]
    finally:
        server.stop()
    return _outcome(raw, setup_s, rss.peak)


def _outcome(raw: dict, setup_s: float, rss_peak: int) -> dict:
    """The end-to-end metrics of one served run.

    - slo_attainment: the interactive requests sent (open loop from the due
      time, closed-loop batch from the send) that came back correct within
      the limit; the exports have no latency limit.
    - throughput_rps: correct requests per second of the closed-loop
      batch (one client, back to back).
    - pass_s: the summed latencies of the batch's catalog statements.
    - result_mb_per_s: Arrow bytes of the correct exports over the
      exports' own durations (one client, back to back).
    """
    phases = raw["phases"]
    recs = [r for p in phases.values() for r in p]
    wrong = raw["wrong"]

    def good(r):
        return r.error is None and r.req.key not in wrong

    interactive = phases["open"] + phases["batch"]
    slo = schedule.SLO_S["served-interactive"]
    batch, exports = phases["batch"], phases["export"]
    batch_s = batch[-1].end - batch[0].start
    done = [r for r in recs if r.error is None]
    classes = {}
    for r in phases["open"]:
        if r.error is None:
            classes.setdefault(r.req.cls, []).append(r.latency)
    out = {
        "e2e": {
            "setup_s": setup_s,
            "slo_attainment": (sum(good(r) and r.latency <= slo for r in interactive)
                               / len(interactive)),
            "throughput_rps": sum(map(good, batch)) / batch_s,
            "result_mb_per_s": (sum(r.nbytes for r in exports if good(r)) / 1e6
                                / sum(r.end - r.start for r in exports)),
            "pass_s": sum(raw["pass_items"].values()),
            "server_rss_mb": rss_peak / 2**20,
        },
        "attempted": len(recs),
        "failed": sum(not good(r) for r in recs),
        "wrong": sorted(k[1][:120] for k in wrong),
        "errors": [r.error for r in recs if r.error][:10],
        "window": raw["window"],
        "spark": raw["spark"],
        "flight": {
            "ttfb_s": statistics.median(r.result.ttfb for r in done),
            "rpcs_per_request": sum(r.result.rpcs for r in done) / len(done),
        },
        "detail": {
            "latency": measure.summary([r.latency for r in phases["open"]
                                        if r.error is None]),
            "by_class": {c: measure.summary(v) for c, v in classes.items()},
            "batch": {"n": len(batch), "wall_s": batch_s,
                      "latency": measure.summary([r.latency for r in batch])},
            "exports": [{"rows": r.result.table.num_rows if r.result else None,
                         "mb": r.nbytes / 1e6, "s": r.end - r.start}
                        for r in exports],
            "pass_items": raw["pass_items"],
            "phase_s": raw["phase_s"],
            "generator_lag_s": raw["generator_lag_s"],
            "repeat_share": raw["repeat_share"],
            "open_window_s": raw["open_window_s"],
        },
    }
    for key in ("spans", "baseline"):
        if key in raw:
            out[key] = raw[key]
    return out


def _interactive(ctx, server: ServerProcess) -> dict:
    """Warm-up, then the measured phases on the warm server: the open-loop
    window, then on one connection the closed-loop batch (which holds the
    catalog pass) and the exports. Spark counts and the traced window
    cover the measured phases."""
    from duckdb_server_spark import catalog

    catalog.load_all()
    sched = schedule.interactive_schedule(ctx.seed, ctx.seconds, catalog.ORACLE,
                                         sf=ctx.sf)
    batch = schedule.closed_batch(ctx.seed, catalog.ORACLE, sf=ctx.sf)
    clients = [Client(server.port) for _ in range(schedule.CONNECTIONS)]
    marks = [time.monotonic()]
    try:
        warm = _warm_interactive(sched, batch)
        run_parallel(clients, warm)
        measure.wait_until_idle(server.status)
        job0 = server.status.last_job_id()
        marks.append(time.monotonic())
        t0, open_recs, lag = open_loop(clients, sched)
        marks.append(time.monotonic())
        batch_recs = [execute(clients[0], r) for r in batch]
        marks.append(time.monotonic())
        export_recs = [execute(clients[0], r) for r in schedule.export_batch(ctx.seed)]
        t1 = time.monotonic()
        marks.append(t1)
        measure.wait_until_idle(server.status)
        spark = server.status.since(job0)
    finally:
        for c in clients:
            c.close()
    phases = {"open": open_recs, "batch": batch_recs, "export": export_recs}
    spark["requests"] = sum(r.req.kind in ("sql", "prepared")
                            for p in phases.values() for r in p)
    con = check.connect(ctx.warehouse)
    wrong = wrong_keys(con, [r for p in phases.values() for r in p])
    marks.append(time.monotonic())
    names = {sql: n for n, sql in catalog.ORACLE.items()}
    # Share of window requests whose text the server has seen before.
    sent, repeats = {r.key for r in warm}, 0
    for _, r in sched:
        repeats += r.key in sent
        sent.add(r.key)
    return {
        "phases": phases, "wrong": wrong, "window": (t0, t1), "spark": spark,
        "pass_items": {names[r.req.sql]: r.latency for r in batch_recs
                       if r.req.cls == "catalog"},
        "phase_s": dict(zip(("warm", "open", "batch", "export", "check"),
                            (b - a for a, b in zip(marks, marks[1:])))),
        "generator_lag_s": lag,
        "repeat_share": repeats / len(sched),
        "open_window_s": max(r.end for r in open_recs) - t0,
    }


_PROBES = (
    ("select_1", "SELECT 1"),
    ("t03_oracle", None),
    ("export_108k", "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, "
                    "l_discount FROM lineitem WHERE l_quantity <= 9"),
)


def _baseline_probes(server: ServerProcess) -> dict:
    """Exact per-request counts: each probe runs alone on an idle server,
    Spark counts from the REST endpoint, server counts from the spans."""
    from duckdb_server_spark import catalog

    catalog.load_all()
    client = Client(server.port)
    out = {}
    try:
        for name, sql in _PROBES:
            sql = sql or catalog.ORACLE["t03_shipping_priority"]
            measure.wait_until_idle(server.status)
            job0 = server.status.last_job_id()
            rec = execute(client, schedule.Request("sql", "probe", sql))
            measure.wait_until_idle(server.status)
            counts = server.status.since(job0)
            counts.update(latency_s=rec.latency, t0=rec.start, t1=rec.end,
                          rpcs=rec.result.rpcs if rec.result else None)
            out[name] = counts
    finally:
        client.close()
    return out
