"""Traced server launcher: installs the span wrappers, then runs the real
CLI (``duckdb_server_spark.server.main``) with the remaining arguments.

    python3 perfbench/launcher.py --spans OUT.json -- --warehouse DIR --port N

The recorded spans are written to ``OUT.json`` when a client sends the
Flight action ``perfbench.dump``; the run's end is the client's to decide,
so the server is never asked to shut itself down.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DUMP_ACTION = "perfbench.dump"


def main(argv: list[str]) -> None:
    import pyarrow.flight as flight

    import tracing
    from duckdb_server_spark import server

    split = argv.index("--")
    out_path = argv[argv.index("--spans") + 1]
    tracer = tracing.Tracer()
    tracing.install(tracer)

    traced_action = server.SparkFlightServer.do_action

    def do_action(self, context, action):
        if action.type == DUMP_ACTION:
            with open(out_path, "w") as fh:
                json.dump(tracer.dump(), fh)
            yield flight.Result(str(len(tracer.spans)).encode())
            return
        yield from traced_action(self, context, action)

    server.SparkFlightServer.do_action = do_action
    server.main(argv[split + 1:])


if __name__ == "__main__":
    main(sys.argv[1:])
