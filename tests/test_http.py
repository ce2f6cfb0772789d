"""HTTP wrapper smoke: drive every reference route end-to-end over a live
socket (backend/server.js:24-51 parity — monthly, cache-status, sync-now,
diagnostics, index, health, 404, JSON 500).

The server is the thin wrapper over the already-tested envelope functions,
so these tests pin ROUTE behavior (paths, query params, status codes,
envelope keys), not the envelope math — that lives in test_pipeline /
test_cli."""

from __future__ import annotations

import json
import os
import sys
import threading
import urllib.request
from urllib.parse import quote

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.fixtures_weather import make_payload


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """Warehouse + cache built once, server running on an ephemeral port."""
    from weather_database_system_spark.pipeline.httpserver import make_server
    from weather_database_system_spark.pipeline.ingest import ingest_payload
    from weather_database_system_spark.pipeline.cache import refresh_cache
    from weather_database_system_spark.pipeline.warehouse import run_etl

    root = tmp_path_factory.mktemp("http")
    silver_path = str(root / "silver")
    warehouse = str(root / "dw")
    cache = str(root / "cache")
    silver = ingest_payload(
        spark, make_payload(0, n_days=40), city="Stockton", state="CA",
        bronze_path=None, silver_path=silver_path,
    )
    run_etl(spark, silver, warehouse)
    refresh_cache(spark, warehouse, cache, "Stockton")

    httpd = make_server(spark, warehouse, cache)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    host, port = httpd.server_address
    yield f"http://{host}:{port}"
    httpd.shutdown()
    thread.join(timeout=5)


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _post(url: str):
    req = urllib.request.Request(url, method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_monthly_route_serves_cache_envelope(served):
    status, doc = _get(served + "/api/monthly?city=Stockton")
    assert status == 200
    assert doc["source"] == "cache" and doc["cache_status"] == "hit"
    assert doc["count"] == 2  # 40 days spans Jan+Feb
    assert {r["month"] for r in doc["data"]} == {"2024-01-01", "2024-02-01"}
    assert doc["sync_status"] == "full"


def test_monthly_route_unknown_city_falls_back_out_of_sync(served):
    status, doc = _get(served + "/api/monthly?city=Nowhere")
    assert status == 200
    assert doc["source"] == "warehouse" and doc["count"] == 0
    assert doc["sync_status"] == "out-of-sync"


def test_cache_status_route(served):
    status, doc = _get(served + "/api/cache-status?city=Stockton")
    assert status == 200
    assert doc["cache_valid"] is True and doc["data_count"] == 2
    assert doc["ttl_seconds"] > 0 and "metadata" in doc


def test_sync_now_route_refreshes_cache(served):
    status, doc = _post(served + "/api/sync-now?city=Stockton")
    assert status == 200
    assert doc["success"] is True and doc["rows_cached"] == 2
    # the refreshed snapshot is immediately visible to cache-status
    _, after = _get(served + "/api/cache-status?city=Stockton")
    assert after["metadata"]["cache_timestamp"] == doc["timestamp"]


def test_diagnostics_route_all_green(served):
    status, doc = _get(served + "/api/diagnostics")
    assert status == 200
    assert [s["status"] for s in doc["steps"]] == ["success"] * 5


def test_index_and_health_routes(served):
    status, doc = _get(served + "/api")
    assert status == 200 and "endpoints" in doc
    status, doc = _get(served + "/health")
    assert status == 200 and doc["status"] == "ok"


def test_unknown_route_is_json_404(served):
    status, doc = _get(served + "/api/nope")
    assert status == 404 and doc["error"] == "not found"
    status, doc = _post(served + "/api/nope")
    assert status == 404


def test_unsafe_city_is_http_400(served):
    """The city value becomes a snapshot file name, so a path separator or
    an over-long name is refused at the HTTP edge on GET and POST alike;
    names of letters, digits and the allowed punctuation still pass."""
    for bad in ("../x", "a" * 65):
        for status, doc in (
            _get(f"{served}/api/monthly?city={quote(bad)}"),
            _get(f"{served}/api/cache-status?city={quote(bad)}"),
            _post(f"{served}/api/sync-now?city={quote(bad)}"),
        ):
            assert status == 400, (bad, status, doc)
            assert doc["status"] == "400" and doc["error"] == "invalid city"
    for good in ("a" * 64, "City07", "St. John's", "Winston-Salem"):
        status, doc = _get(f"{served}/api/monthly?city={quote(good)}")
        assert status == 200, (good, status, doc)


def test_monthly_route_sends_taxonomy_status_on_missing_warehouse(spark, tmp_path):
    """An error envelope goes out with its taxonomy status as the HTTP
    status: a missing warehouse is a 503, not a 200 with an error body."""
    from weather_database_system_spark.pipeline.httpserver import make_server

    httpd = make_server(spark, str(tmp_path / "dw"), str(tmp_path / "cache"))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    host, port = httpd.server_address
    try:
        status, doc = _get(f"http://{host}:{port}/api/monthly?city=Stockton")
        assert status == 503
        assert doc["status"] == "503" and "run the ETL" in doc["remediation"]
        assert doc["data"] == [] and doc["count"] == 0
    finally:
        httpd.shutdown()
        thread.join(timeout=5)


def test_handler_error_becomes_json_500(spark, tmp_path):
    """A route body that raises must surface as the JSON 500 envelope
    (server.js:54-58), not a hung socket. The envelope functions are all
    defensive (they classify their own failures), so force a raise at the
    wrapper layer: a None cache_root makes os.path.join throw TypeError
    before any guard can catch it."""
    from weather_database_system_spark.pipeline.httpserver import make_server

    httpd = make_server(spark, str(tmp_path / "dw"), str(tmp_path / "cache"))
    httpd.cache_root = None
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    host, port = httpd.server_address
    try:
        status, doc = _get(f"http://{host}:{port}/api/cache-status")
        assert status == 500
        assert doc["error"] == "Internal server error" and doc["message"]
    finally:
        httpd.shutdown()
        thread.join(timeout=5)
