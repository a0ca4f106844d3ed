"""In-memory span tracing for the benchmark's traced runs.

A span is ``(id, name, start, end, parent, request)`` plus the number of
py4j commands sent while it was the innermost open span, the error class
it raised (if any) and free-form attributes. Times come from
``time.monotonic`` (CLOCK_MONOTONIC), so spans recorded in the server
process and timestamps taken by the load generator share one clock.

Wrappers are installed from the benchmark's own files around public
functions of the package; nothing in the package knows about them.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "request", "py4j",
                 "error", "attrs")

    def __init__(self, id, name, start, end, parent=None, request=None,
                 py4j=0, error=None, attrs=None):
        self.id = id
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.request = request
        self.py4j = py4j
        self.error = error
        self.attrs = attrs or {}

    def to_json(self) -> list:
        return [self.id, self.name, self.start, self.end, self.parent,
                self.request, self.py4j, self.error, self.attrs]

    @classmethod
    def from_json(cls, row: list) -> Span:
        return cls(*row)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.py4j_outside = 0
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def current_request(self):
        stack = self._stack()
        return stack[-1].request if stack else None

    @contextmanager
    def span(self, name: str, request=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, time.monotonic(), None,
                  parent.id if parent else None)
        sp.request = request or (parent.request if parent else sp.id)
        stack.append(sp)
        try:
            yield sp
        except BaseException as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            sp.end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def count_py4j(self) -> None:
        stack = self._stack()
        if stack:
            stack[-1].py4j += 1
        else:
            with self._lock:
                self.py4j_outside += 1

    def wrap(self, name: str, fn):
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                with self.span(name):
                    return (yield from fn(*args, **kwargs))

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_batches(self, fn):
        """``iter_arrow_batches`` returns a generator that the Flight server
        drains after ``do_get`` has returned. Each pull becomes its own
        span, tied to the ``do_get`` request: the first is
        ``server.first_batch``, the rest ``server.stream``."""

        @functools.wraps(fn)
        def wrapper(df, schema):
            request = self.current_request()
            inner = fn(df, schema)

            def traced():
                name = "server.first_batch"
                while True:
                    with self.span(name, request=request) as sp:
                        try:
                            batch = next(inner)
                        except StopIteration:
                            return
                        sp.attrs["bytes"] = batch.nbytes
                        sp.attrs["rows"] = batch.num_rows
                    name = "server.stream"
                    yield batch

            return traced()

        return wrapper

    def dump(self) -> dict:
        with self._lock:
            return {"spans": [s.to_json() for s in self.spans],
                    "py4j_outside": self.py4j_outside}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the durations of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def by_name(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total time, self time, py4j commands, errors."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0, "py4j": 0,
                 "errors": 0})
    for s in spans:
        row = out[s.name]
        row["calls"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += selfs[s.id]
        row["py4j"] += s.py4j
        row["errors"] += s.error is not None
    return dict(out)


def in_window(spans: list[Span], t0: float, t1: float) -> list[Span]:
    return [s for s in spans if t0 <= s.start <= t1]


# -- installation ----------------------------------------------------------

_MODULE_HOOKS = (
    ("duckdb_server_spark.server", "resolve_query_frame", "server.resolve_query_frame"),
    ("duckdb_server_spark.server", "assert_query_shaped", "server.gate"),
    ("duckdb_server_spark.dialect", "run_sql", "dialect.run_sql"),
    ("duckdb_server_spark.dialect", "rewrite", "dialect.rewrite"),
    ("duckdb_server_spark.session", "load_table", "session.load_table"),
    ("duckdb_server_spark.session", "tune_session", "session.tune_session"),
    ("duckdb_server_spark.session", "bootstrap", "session.bootstrap"),
)

_HANDLERS = ("get_flight_info", "do_get", "do_action", "do_put", "get_schema")


def _replace_everywhere(orig, new) -> None:
    """Point every loaded package module's reference to ``orig`` at
    ``new`` (modules that did ``from x import f`` hold their own copy)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("duckdb_server_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the package's public layer functions, the Flight handlers,
    ``SparkSession.sql`` and py4j's ``send_command``."""
    import importlib

    from py4j.java_gateway import GatewayClient
    from pyspark.sql import SparkSession

    from duckdb_server_spark import server

    for mod_name, attr, span_name in _MODULE_HOOKS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        _replace_everywhere(orig, tracer.wrap(span_name, orig))
    orig_batches = server.iter_arrow_batches
    _replace_everywhere(orig_batches, tracer.wrap_batches(orig_batches))
    for h in _HANDLERS:
        fn = getattr(server.SparkFlightServer, h)
        setattr(server.SparkFlightServer, h, tracer.wrap(f"server.{h}", fn))
    SparkSession.sql = tracer.wrap("catalyst.sql", SparkSession.sql)
    send = GatewayClient.send_command

    @functools.wraps(send)
    def send_command(self, *args, **kwargs):
        tracer.count_py4j()
        return send(self, *args, **kwargs)

    GatewayClient.send_command = send_command
