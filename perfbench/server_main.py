"""Serving process for the serve workloads: what jobs/serve.py does
(get_spark -> SearchEngine.load -> HTTP server), plus a control channel on
stdin. With ``--trace`` the span wrappers are installed before the server
starts.

    python3 perfbench/server_main.py --bundle DIR --port N [--trace]

stdout, one JSON line each: a ready line once the server listens, then one
reply per command. Commands on stdin: ``reset`` (start the timed window:
clear spans, note the Spark job count), ``dump PATH`` (per-layer metrics
for the window; spans written to PATH), ``quit``.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(1, str(Path(__file__).resolve().parent))

from common import CORES  # noqa: E402
from spans import Recorder, install_serving, serving_metrics  # noqa: E402


def install_server_spans(rec: Recorder) -> None:
    """``server.handler`` around each request; ``server.queue`` around the
    wait for the engine lock the handler takes before calling the engine."""
    from google_spark import server as SV

    real = threading.Lock

    class TimedLock:
        def __init__(self):
            self._lock = real()

        def __enter__(self):
            with rec.span("server.queue"):
                self._lock.acquire()
            return self

        def __exit__(self, *exc):
            self._lock.release()

    class ThreadingShim:
        Lock = TimedLock

        def __getattr__(self, name):
            return getattr(threading, name)

    SV.threading = ThreadingShim()
    make = SV.make_handler

    def make_handler(engine):
        handler = make(engine)
        do_get = handler.do_GET

        def traced_get(self):
            with rec.span("server.handler"):
                return do_get(self)

        handler.do_GET = traced_get
        return handler

    SV.make_handler = make_handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bundle", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from google_spark.search import SearchEngine
    from google_spark.server import start_server
    from google_spark.session import get_spark

    spark = get_spark(app="perfbench-serve", cores=CORES, driver_memory="1g")
    t1 = time.perf_counter()
    engine = SearchEngine.load(spark, args.bundle)
    t2 = time.perf_counter()
    rec = Recorder(enabled=args.trace)
    if args.trace:
        install_serving(rec)
        install_server_spans(rec)
    srv = start_server(engine, port=args.port)
    print(json.dumps({"ready": True, "session_s": t1 - t0, "load_s": t2 - t1}), flush=True)

    tracker = spark.sparkContext.statusTracker()
    jobs0 = 0
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "quit":
            break
        if cmd[0] == "reset":
            rec.reset()
            jobs0 = len(tracker.getJobIdsForGroup())
            reply = {"ok": True}
        elif cmd[0] == "dump":
            jobs = len(tracker.getJobIdsForGroup()) - jobs0
            reply = {"spark_jobs": jobs}
            if args.trace:
                reply = serving_metrics(rec, jobs)
                reply["trace.overhead_us"] = rec.overhead_us()
                rec.dump(Path(cmd[1]))
        else:
            reply = {"error": f"unknown command {cmd[0]}"}
        print(json.dumps(reply), flush=True)
    srv.shutdown()
    srv.server_close()
    spark.stop()


if __name__ == "__main__":
    main()
