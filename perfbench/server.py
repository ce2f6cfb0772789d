"""Benchmark-owned server process for ``serve_mixed``.

Run as ``python3 perfbench/server.py CONFIG.json``. Builds the warehouse
from the generated payloads, writes the snapshots (fresh ones now, expired
ones with an old ``now``, none for missing cities), warms the fallback path
once, then serves ``pipeline.httpserver.make_server`` on an ephemeral port
and prints ``{"port": N, "session_start_s": S, "setup_spans": [...]}``.
It then reads commands on stdin, one per line: ``trace on``, ``trace off``,
``dump PATH`` (write recorded spans) and ``quit``. With ``"trace": true``
in the config the set-up is traced; the request path is traced only while
switched on.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import prepare_env, start_spark, stop_spark  # noqa: E402


def build(spark, cfg: dict) -> None:
    from functools import reduce

    from weather_database_system_spark.pipeline import cache, ingest, warehouse

    with open(cfg["payloads"], encoding="utf-8") as fh:
        payloads = json.load(fh)
    load_time = dt.datetime.fromisoformat(cfg["load_time"])
    fetched = dt.datetime.fromisoformat(cfg["fetched_at"])
    silvers = [
        ingest.ingest_payload(
            spark, payloads[c["city"]], city=c["city"], state=c["state"],
            fetched_at=fetched + dt.timedelta(seconds=i),
        )
        for i, c in enumerate(cfg["cities"])
    ]
    silver = reduce(lambda a, b: a.unionByName(b), silvers)
    warehouse.load_daily(warehouse.silver_to_daily(silver, load_time=load_time), cfg["warehouse"])
    warehouse.build_monthly_agg(spark, cfg["warehouse"], load_time=load_time)
    old = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - dt.timedelta(hours=2)
    for c in cfg["cities"]:
        state = cfg["state"][c["city"]]
        if state == "fresh":
            cache.refresh_cache(spark, cfg["warehouse"], cfg["cache"], c["city"])
        elif state == "expired":
            cache.refresh_cache(spark, cfg["warehouse"], cfg["cache"], c["city"], now=old)


def install_tracing(tracer):
    """Patch the set-up path and the request path; returns the Patches,
    off until switched on."""
    from weather_database_system_spark.pipeline import cache, httpserver, ingest, serving, warehouse

    from perfbench.trace import Patches

    p = Patches(tracer)
    # set-up path
    p.patch(ingest, "ingest_payload", "pipeline.ingest.payload")
    p.patch(warehouse, "load_daily", "pipeline.warehouse.load_daily")
    p.patch(warehouse, "build_monthly_agg", "pipeline.warehouse.build_monthly")
    p.patch(cache, "refresh_cache", "pipeline.cache.refresh")
    # request path
    for method in ("do_GET", "do_POST"):
        p.patch(
            httpserver._Handler, method, "pipeline.httpserver.request",
            request=lambda handler: handler.headers.get("X-Request-Id"), jobs=False,
        )
    p.patch(
        httpserver, "serve_monthly", "pipeline.serving.serve_monthly",
        tag=lambda env: {"cache_status": env.get("cache_status")},
    )
    p.patch(httpserver, "refresh_cache", "pipeline.cache.refresh")
    p.patch(serving, "read_snapshot", "pipeline.cache.read_snapshot", jobs=False)
    p.patch(serving, "read_monthly", "pipeline.warehouse.read_monthly")
    p.patch(warehouse, "read_monthly", "pipeline.warehouse.read_monthly")
    return p


def main() -> None:
    with open(sys.argv[1], encoding="utf-8") as fh:
        cfg = json.load(fh)
    prepare_env()
    t0 = time.perf_counter()
    spark = start_spark("perfbench-server", driver_mem="2g")
    session_start_s = time.perf_counter() - t0
    httpd = thread = None
    try:
        from weather_database_system_spark.pipeline.httpserver import make_server
        from weather_database_system_spark.pipeline.serving import serve_monthly

        from perfbench.trace import Tracer

        patches = None
        if cfg["trace"]:
            patches = install_tracing(Tracer(spark.sparkContext))
            patches.on = True
        build(spark, cfg)
        setup_spans = []
        if patches is not None:
            patches.on = False
            setup_spans, patches.tracer.spans = patches.tracer.spans, []
        # warm the fallback path once, as a first request would
        fallback = [c for c, s in cfg["state"].items() if s != "fresh"]
        if fallback:
            serve_monthly(spark, cfg["warehouse"], cfg["cache"], fallback[0])
        httpd = make_server(spark, cfg["warehouse"], cfg["cache"])
        thread = threading.Thread(target=httpd.serve_forever, daemon=True)
        thread.start()
        print(
            json.dumps(
                {
                    "port": httpd.server_address[1],
                    "session_start_s": session_start_s,
                    "setup_spans": setup_spans,
                }
            ),
            flush=True,
        )
        for line in sys.stdin:
            cmd = line.strip().split(" ", 1)
            if cmd[0] == "trace" and patches is not None:
                patches.on = cmd[1] == "on"
            elif cmd[0] == "dump" and patches is not None:
                patches.tracer.dump(cmd[1])
            elif cmd[0] == "quit":
                break
            print(json.dumps({"ok": cmd[0]}), flush=True)
    finally:
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()
            thread.join(timeout=30)
        stop_spark(spark)


if __name__ == "__main__":
    main()
