"""TTL-governed cache layer: snapshot + sidecar metadata + freshness ladder.

Reference parity (SURVEY §2A ops #16, #20, #22, #23):

- op #16  cache materialization with TTL   clickhouseToRedis.js:49-80
- op #20  3-state freshness classification backend/routes/monthly.js:36-42
- op #22  cache introspection              backend/routes/cache.js:9-64
- op #23  refresh trigger                  backend/routes/cache.js:66-99

Spark has no expiring store, so expiry is a PURE FUNCTION of
(now, cache_timestamp, ttl) evaluated at read time — the design that makes
the reference's duplicated freshness logic (server monthly.js:36-42 + client
dashboard.js:283-293) implementable once and unit-testable. The snapshot is
a small JSON file (the serving result is aggregate-sized, like the single
Redis key the reference uses); the sidecar carries exactly the reference's
cache metadata envelope (cache_timestamp, data_version,
refresh_interval_sec — clickhouseToRedis.js:62-66).

Fixes wart §2A-5: keys are per-city (`monthly_{city}.json`) instead of the
reference's hardcoded `stockton` writer key that made multi-city cache reads
permanently miss.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

DEFAULT_TTL_SEC = 3600   # .env:10 REDIS_TTL_SEC
TEAM = "spark"

# op #20 thresholds (backend/routes/monthly.js:36-42).
FULL_MIN_RATIO = 0.6
PARTIAL_MIN_RATIO = 0.2


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _key(city: str) -> str:
    return f"monthly_{city.lower()}"


def snapshot_path(cache_root: str, city: str) -> str:
    return os.path.join(cache_root, f"{_key(city)}.json")


def classify_freshness(ttl_remaining_sec: float, refresh_interval_sec: float) -> str:
    """op #20: the 3-state ladder, one implementation (the reference
    duplicates it server- and client-side). Column / SQL twins below
    (``freshness_status_col`` / ``freshness_status_sql``) share these
    constants so the serving math is also driver-hash-verifiable as a
    registry query (pipeline/cachemath.py)."""
    if refresh_interval_sec <= 0:
        return "out-of-sync"
    ratio = ttl_remaining_sec / refresh_interval_sec
    if ratio < PARTIAL_MIN_RATIO:
        return "out-of-sync"
    if ratio < FULL_MIN_RATIO:
        return "partial"
    return "full"


def freshness_status_col(ttl_col, interval_col):
    """The ladder as a Spark Column — identical thresholds, vectorized."""
    from pyspark.sql import functions as F

    ratio = ttl_col.cast("double") / interval_col
    return (
        F.when(interval_col <= 0, "out-of-sync")
        .when(ratio < PARTIAL_MIN_RATIO, "out-of-sync")
        .when(ratio < FULL_MIN_RATIO, "partial")
        .otherwise("full")
    )


def freshness_status_sql(ttl: str, interval: str) -> str:
    """The ladder as ANSI SQL (DuckDB oracle twin of freshness_status_col)."""
    ratio = f"CAST({ttl} AS DOUBLE) / ({interval})"
    return (
        f"CASE WHEN ({interval}) <= 0 THEN 'out-of-sync' "
        f"WHEN {ratio} < {PARTIAL_MIN_RATIO} THEN 'out-of-sync' "
        f"WHEN {ratio} < {FULL_MIN_RATIO} THEN 'partial' "
        f"ELSE 'full' END"
    )


def write_snapshot(
    df: DataFrame,
    cache_root: str,
    city: str,
    *,
    ttl_sec: int = DEFAULT_TTL_SEC,
    team: str = TEAM,
    now: dt.datetime | None = None,
) -> dict[str, Any]:
    """op #16: materialize the serving rows into the cache envelope
    (clickhouseToRedis.js:57-73: {team, city, metric, data, metadata}).

    ``df`` is the already-aggregated serving result (monthly grain — bounded
    rows), so the driver-side collect here is the same size as the
    reference's single Redis value, not a fact-table collect."""
    return _write_rows(df.collect(), cache_root, city, ttl_sec=ttl_sec, team=team, now=now)


def _write_rows(
    collected: list[Row],
    cache_root: str,
    city: str,
    *,
    ttl_sec: int,
    team: str = TEAM,
    now: dt.datetime | None = None,
) -> dict[str, Any]:
    """The envelope of ``collected``, written atomically: the JSON goes to
    a temp file in the cache directory and ``os.replace`` swaps it in, so a
    concurrent reader sees the old snapshot or the new one, never a torn
    file."""
    now = now or _utcnow()
    rows = [r.asDict() for r in collected]
    for r in rows:
        for k, v in r.items():
            if isinstance(v, dt.datetime):
                r[k] = v.isoformat(sep=" ", timespec="seconds")
    envelope = {
        "team": team,
        "city": city,
        "metric": "monthly_agg",
        "data": rows,
        "metadata": {
            "cache_timestamp": now.isoformat(sep=" ", timespec="seconds"),
            # now is naive-UTC by convention (_utcnow); pin tzinfo before
            # .timestamp() so the id doesn't shift on non-UTC hosts.
            "data_version": f"v{int(now.replace(tzinfo=dt.timezone.utc).timestamp())}",
            "refresh_interval_sec": ttl_sec,
        },
    }
    os.makedirs(cache_root, exist_ok=True)
    path = snapshot_path(cache_root, city)
    # unique per writer thread: concurrent refreshes never share a temp file
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(envelope, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return envelope


def read_snapshot(cache_root: str, city: str) -> dict[str, Any] | None:
    path = snapshot_path(cache_root, city)
    if not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None  # corrupt cache ⇒ miss, like the swallowed Redis errors


def ttl_remaining(envelope: dict[str, Any], now: dt.datetime | None = None) -> float:
    """Remaining TTL in seconds (negative = expired) — the EX countdown,
    recomputed from the sidecar instead of asked of a store."""
    now = now or _utcnow()
    meta = envelope["metadata"]
    written = dt.datetime.fromisoformat(meta["cache_timestamp"])
    return meta["refresh_interval_sec"] - (now - written).total_seconds()


def cache_status(
    cache_root: str, city: str, *, now: dt.datetime | None = None
) -> dict[str, Any]:
    """op #22: EXISTS + TTL + GET introspection (backend/routes/cache.js:9-64) —
    cache_valid, ttl seconds/minutes, metadata, data_count."""
    now = now or _utcnow()
    env = read_snapshot(cache_root, city)
    if env is None:
        return {"cache_exists": False, "cache_valid": False, "message": "cache empty"}
    ttl = ttl_remaining(env, now)
    return {
        "cache_exists": True,
        "cache_valid": ttl > 0,
        "ttl_seconds": round(ttl, 3),
        "ttl_minutes": round(ttl / 60, 2),
        "sync_status": classify_freshness(ttl, env["metadata"]["refresh_interval_sec"]),
        "metadata": env["metadata"],
        "data_count": len(env["data"]),
    }


def refresh_cache(
    spark: SparkSession,
    warehouse_root: str,
    cache_root: str,
    city: str,
    *,
    ttl_sec: int = DEFAULT_TTL_SEC,
    now: dt.datetime | None = None,
) -> dict[str, Any]:
    """op #23: in-process refresh (the reference shells out to a child npm
    process — backend/routes/cache.js:71; ours is a library call): read gold,
    filter to the city, snapshot. One Spark job: the city's rows (one per
    month) are sorted after the collect, not by a distributed sort."""
    from weather_database_system_spark.pipeline.warehouse import city_is, read_monthly

    rows = (
        read_monthly(spark, warehouse_root)
        .filter(city_is(city))  # op #15, engine-side not client-side
        .collect()
    )
    rows.sort(key=lambda r: r["month"])
    return _write_rows(rows, cache_root, city, ttl_sec=ttl_sec, now=now)
