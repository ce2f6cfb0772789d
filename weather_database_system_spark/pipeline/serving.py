"""Serving layer: cache-first monthly reads with warehouse fallback.

Reference parity (SURVEY §2A ops #15, #17-21, §3.1):

- op #17  cache-first read w/ fallback   backend/routes/monthly.js:11-105
- op #18  parameterized filtered query   backend/routes/monthly.js:58-70
- op #19  row formatting / numeric cast  backend/routes/monthly.js:27-33,90-96
- op #20  freshness classification       backend/routes/monthly.js:36-42
- op #21  error → remediation taxonomy   backend/routes/monthly.js:107-133

The response envelope matches §3.1 step 3: {data, source, last_updated,
cache_status, sync_status, ttl_seconds, count}. The city parameter is bound
as a DataFrame predicate — the reference's quote-escaping string splice
(monthly.js:58) has no analogue because there is no SQL string.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import SparkSession

from weather_database_system_spark.pipeline.cache import (
    classify_freshness,
    read_snapshot,
    ttl_remaining,
)
from weather_database_system_spark.pipeline.warehouse import city_is, read_monthly

SERVING_COLUMNS = ("city", "month", "avg_temp_c", "total_rain_mm", "warehouse_load_time")


def _format_rows(rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """op #19: narrow to the serving projection, floats null-preserving."""
    out = []
    for r in rows:
        out.append(
            {
                "month": r.get("month"),
                "avg_temp_c": None if r.get("avg_temp_c") is None else float(r["avg_temp_c"]),
                "total_rain_mm": None
                if r.get("total_rain_mm") is None
                else float(r["total_rain_mm"]),
                "city": r.get("city"),
                "warehouse_load_time": r.get("warehouse_load_time"),
            }
        )
    return out


def classify_error(exc: Exception) -> dict[str, str]:
    """op #21: pattern-match the failure into a remediation hint
    (monthly.js:107-133's ECONNREFUSED / missing-table ladder, recast for
    path-based zones)."""
    msg = str(exc)
    low = msg.lower()
    if "path does not exist" in low or "unable to infer schema" in low:
        return {
            "error": "warehouse table missing",
            "remediation": "run the ETL first: pipeline.warehouse.run_etl(...)",
            "status": "503",
        }
    if "permission" in low:
        return {
            "error": "warehouse path not readable",
            "remediation": "check filesystem permissions on the warehouse root",
            "status": "503",
        }
    return {"error": msg, "remediation": "see engine logs", "status": "500"}


def serve_monthly(
    spark: SparkSession,
    warehouse_root: str,
    cache_root: str,
    city: str = "Stockton",
    *,
    now: dt.datetime | None = None,
) -> dict[str, Any]:
    """op #17 (§3.1): cache probe → hit: format + classify freshness;
    miss/stale/corrupt: parameterized warehouse query, served with
    sync_status='out-of-sync' exactly like the fallback path at
    monthly.js:98-105. Warehouse errors return the op #21 taxonomy."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    env = read_snapshot(cache_root, city)
    if env is not None:
        ttl = ttl_remaining(env, now)
        if ttl > 0:
            return {
                "data": _format_rows(env["data"]),
                "source": "cache",
                "last_updated": env["metadata"]["cache_timestamp"],
                "cache_status": "hit",
                "sync_status": classify_freshness(
                    ttl, env["metadata"]["refresh_interval_sec"]
                ),
                "ttl_seconds": round(ttl, 3),
                "count": len(env["data"]),
            }

    # Fallback: op #18 parameterized query against gold — one Spark job;
    # the city's rows (one per month) are sorted after the collect.
    try:
        rows = (
            read_monthly(spark, warehouse_root)
            .filter(city_is(city))
            .select(*SERVING_COLUMNS)
            .collect()
        )
    except Exception as exc:  # noqa: BLE001 — taxonomy boundary
        return {
            "data": [],
            "source": "warehouse",
            "cache_status": "miss",
            "sync_status": "out-of-sync",
            "count": 0,
            **classify_error(exc),
        }

    data = _format_rows(
        [
            {
                **r.asDict(),
                "warehouse_load_time": r["warehouse_load_time"].isoformat(
                    sep=" ", timespec="seconds"
                ),
            }
            for r in sorted(rows, key=lambda r: r["month"])
        ]
    )
    return {
        "data": data,
        "source": "warehouse",
        "last_updated": data[-1]["warehouse_load_time"] if data else None,
        "cache_status": "miss" if env is None else "expired",
        "sync_status": "out-of-sync",
        "ttl_seconds": 0,
        "count": len(data),
    }
