"""The REST server process of the tsdb workloads.

Usage: python3 server.py --root DIR [--trace 1]

Starts Spark, waits for ``go`` on stdin (the inputs are generated
meanwhile), preloads a fresh store from ``DIR/preload_*.parquet`` (one
timed append per file: the set-up repetitions), serves ``Router(engine)`` on an
ephemeral localhost port and prints one JSON line with the port, the
set-up times and the environment. It then reads commands from stdin
(``stop``) and, on stop, writes its spans to ``DIR/server_out.json``.
In a traced run, ``GET /__perfbench/trace/on``, ``.../off`` and
``.../probe`` switch span recording for requests that start afterwards;
``probe`` also labels their spans.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

from common import CORES, env_facts, import_program, spark_session, stop_spark

CONTROL = "/__perfbench/trace/"
# Spark threads of the server: half the benchmark's cores, so the HTTP
# threads, py4j and the load generator are not starved. With all 4 cores
# to Spark the run-to-run spread of read latency was two to three times
# wider.
SERVER_CORES = max(1, CORES // 2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    import_program()
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.rest import Router, serve

    spark = spark_session("perfbench-tsdb", SERVER_CORES)
    if sys.stdin.readline().strip() != "go":
        stop_spark(spark)
        return 1
    engine = TimeSeriesEngine(spark, os.path.join(args.root, "store"))
    setup_s = []
    for chunk in sorted(glob.glob(os.path.join(args.root, "preload_*.parquet"))):
        t0 = time.perf_counter()
        engine.append_points(spark.read.parquet(chunk))
        setup_s.append(time.perf_counter() - t0)

    tracer = None
    if args.trace:
        from layers import install_rest, install_spark
        from spans import Tracer

        tracer = Tracer(spark)
        install_spark(tracer)
        install_rest(tracer)
        traced_handle = Router.handle

        def handle(self, method, path, body=None):
            if path.startswith(CONTROL):
                mode = path[len(CONTROL):]
                tracer.enabled = mode in ("on", "probe")
                tracer.label = "probe" if mode == "probe" else None
                return 200, ""
            return traced_handle(self, method, path, body)

        Router.handle = handle

    server = serve(Router(engine), port=0)
    print(json.dumps({"port": server.server_address[1], "setup_s": setup_s, "env": env_facts(spark)}), flush=True)
    for line in sys.stdin:
        if line.strip() == "stop":
            break
    server.shutdown()
    server.server_close()
    with open(os.path.join(args.root, "server_out.json"), "w") as f:
        json.dump({"spans": tracer.spans if tracer else []}, f)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
