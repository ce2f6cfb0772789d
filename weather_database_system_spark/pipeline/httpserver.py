"""Thin HTTP serving wrapper — literal route parity with the reference API.

The reference's one user-facing surface is an Express app
(backend/server.js:24-51) mounting four JSON routes:

- ``GET  /api/monthly``      backend/routes/monthly.js:11      cache-first read
- ``GET  /api/cache-status`` backend/routes/cache.js:9         cache introspection
- ``POST /api/sync-now``     backend/routes/cache.js:66        refresh trigger
- ``GET  /api/diagnostics``  backend/routes/diagnostics.js:6   staged self-probe

plus an index (``GET /api`` — server.js:28-40), a ``GET /health`` probe
(server.js:46-52) and a JSON 500 handler (server.js:54-58).

This module is deliberately a WRAPPER, not a second engine surface: every
route body is one call into the already oracle/pytest-pinned envelope
functions (``serving.serve_monthly``, ``cache.cache_status``,
``cache.refresh_cache``, ``diagnostics.run_diagnostics``) — the same
functions the CLI (`__main__.py`) exposes. stdlib ``http.server`` only; no
new dependencies. The reference's ``sync-now`` shells out to a child npm
process (cache.js:71); ours refreshes in-process, matching op #23's
library-call design.

Concurrency note: ``ThreadingHTTPServer`` handles each request in a thread;
SparkSession is thread-safe for concurrent job submission (jobs from
parallel handler threads schedule independently on the shared context), so
no request serialization is needed — the driver JVM is the natural
bottleneck long before handler threading is.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlsplit

from pyspark.sql import SparkSession

from weather_database_system_spark import __version__
from weather_database_system_spark.pipeline.cache import cache_status, refresh_cache
from weather_database_system_spark.pipeline.diagnostics import run_diagnostics
from weather_database_system_spark.pipeline.serving import serve_monthly

INDEX_DOC = {
    "name": "Weather Database System API (PySpark engine)",
    "version": __version__,
    "endpoints": {
        "GET /api/monthly": "Get monthly aggregated weather data",
        "GET /api/cache-status": "Get cache snapshot status",
        "POST /api/sync-now": "Trigger cache refresh",
        "GET /api/diagnostics": "Run the staged 5-step self-probe",
        "GET /health": "Health check endpoint",
    },
}


# The city value becomes a snapshot file name (cache.snapshot_path), so only
# letters and digits (any script), space, ".", "'" and "-" pass — no path
# separator can reach the file system.
_CITY_OK = re.compile(r"(?:[^\W_]|[ .'-]){1,64}")


_BAD_CITY = {
    "error": "invalid city",
    "remediation": "use at most 64 letters, digits, spaces, periods, "
    "apostrophes or hyphens",
    "status": "400",
}


class _BadCity(ValueError):
    """A ``city`` query value outside _CITY_OK — answered with _BAD_CITY."""


class _Handler(BaseHTTPRequestHandler):
    """Routes → envelope functions. The (spark, warehouse, cache) context
    lives on the server object (set by make_server), not per-handler."""

    server_version = "wdss/" + __version__

    # ----- plumbing ---------------------------------------------------
    def _send(self, status: int, doc: dict[str, Any]) -> None:
        body = json.dumps(doc).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _city(self) -> str:
        qs = parse_qs(urlsplit(self.path).query)
        city = qs.get("city", ["Stockton"])[0]
        if not _CITY_OK.fullmatch(city):
            raise _BadCity(city)
        return city

    def log_message(self, fmt: str, *args: Any) -> None:  # noqa: A003
        if getattr(self.server, "verbose", False):
            super().log_message(fmt, *args)

    # ----- routes -----------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 — http.server contract
        route = urlsplit(self.path).path.rstrip("/") or "/"
        try:
            if route == "/api":
                self._send(200, INDEX_DOC)
            elif route == "/health":
                self._send(
                    200,
                    {
                        "status": "ok",
                        "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
                        "warehouse_root": self.server.warehouse_root,
                    },
                )
            elif route == "/api/monthly":
                env = serve_monthly(
                    self.server.spark,
                    self.server.warehouse_root,
                    self.server.cache_root,
                    self._city(),
                )
                # an error envelope carries its taxonomy status (503/500)
                self._send(int(env.get("status", 200)), env)
            elif route == "/api/cache-status":
                self._send(200, cache_status(self.server.cache_root, self._city()))
            elif route == "/api/diagnostics":
                steps = run_diagnostics(
                    self.server.spark,
                    self.server.warehouse_root,
                    sample_city=self._city(),
                )
                self._send(
                    200,
                    {
                        "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
                        "steps": steps,
                    },
                )
            else:
                self._send(404, {"error": "not found", "path": route})
        except _BadCity:
            self._send(400, _BAD_CITY)
        except Exception as exc:  # noqa: BLE001 — the JSON 500 handler
            self._send(500, {"error": "Internal server error", "message": str(exc)})

    def do_POST(self) -> None:  # noqa: N802
        route = urlsplit(self.path).path.rstrip("/")
        try:
            if route == "/api/sync-now":
                city = self._city()
                envelope = refresh_cache(
                    self.server.spark,
                    self.server.warehouse_root,
                    self.server.cache_root,
                    city,
                )
                self._send(
                    200,
                    {
                        "success": True,
                        "message": "cache refreshed from warehouse",
                        "city": city,
                        "rows_cached": len(envelope["data"]),
                        "timestamp": envelope["metadata"]["cache_timestamp"],
                    },
                )
            else:
                self._send(404, {"error": "not found", "path": route})
        except _BadCity:
            self._send(400, _BAD_CITY)
        except Exception as exc:  # noqa: BLE001
            self._send(500, {"error": "Internal server error", "message": str(exc)})


def make_server(
    spark: SparkSession,
    warehouse_root: str,
    cache_root: str,
    *,
    host: str = "127.0.0.1",
    port: int = 0,
    verbose: bool = False,
) -> ThreadingHTTPServer:
    """Build (not start) the server — port=0 binds an ephemeral port so
    tests can run it from a thread and read ``server.server_address``.
    Call ``serve_forever()`` to run, ``shutdown()`` to stop."""
    httpd = ThreadingHTTPServer((host, port), _Handler)
    httpd.spark = spark
    httpd.warehouse_root = warehouse_root
    httpd.cache_root = cache_root
    httpd.verbose = verbose
    return httpd


def serve_http(
    spark: SparkSession,
    warehouse_root: str,
    cache_root: str,
    *,
    host: str = "127.0.0.1",
    port: int = 3000,
) -> None:
    """Blocking entry point (≙ app.listen(PORT) — server.js:60-62)."""
    httpd = make_server(
        spark, warehouse_root, cache_root, host=host, port=port, verbose=True
    )
    actual = httpd.server_address
    print(json.dumps({"status": "listening", "host": actual[0], "port": actual[1]}))
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        httpd.shutdown()
