"""SparkSession bootstrap.

One place to configure the session so tests, bench, and the driver contract
all run with identical semantics:

- ``spark.sql.session.timeZone=UTC``: the DuckDB oracle compares naive
  timestamps; Spark must render in UTC (reference pins a timezone per fetch at
  fetchStocktonWeather.js:35 — we pin UTC engine-wide and treat observation
  timestamps as naive local time).
- AQE on: runtime coalescing + skew-join handling is the 100 TB-scale answer
  to skewed group/join keys; at local[32] it also right-sizes tiny shuffles.
- shuffle.partitions sized to cores for local mode (the 200 default
  over-parallelizes small data and under-parallelizes 100 TB; on a real
  cluster this is set per-job or left to AQE's coalescing).
- Arrow enabled: every pandas interchange (toPandas, pandas_udf,
  applyInPandas) rides vectorized Arrow batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "weather_database_system_spark",
              cpus: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode knobs are chosen so the same logical plans scale to a real
    cluster: nothing here hand-schedules what Catalyst/AQE would do.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS); the vectorized reader rejects
        # it, so the engine reads raw nanos and converts (sources/star.py).
        # Set at build time so ensure_engine_confs never mutates mid-flight.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ts written as TIMESTAMP(MICROS, isAdjustedToUTC=false) must read as
        # session-tz TIMESTAMP, not TIMESTAMP_NTZ (watermarks need LTZ).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- persisted-intermediate lifecycle -------------------------------------
#
# Operators that persist() an intermediate (minhash signatures, shingle
# inverted index, LSH signature table) register it here. The persist is load-
# bearing WHILE the returned DataFrame is being consumed — unpersisting
# inside the operator would defeat it — so the contract is: the CALLER that
# owns the terminal action (bench loop, parity test, driver sweep) calls
# release_persisted() between queries. A long-lived session that never calls
# it degrades gracefully (MEMORY_AND_DISK evicts under pressure) but a
# registry-wide sweep should not accumulate dead cached blocks.

def scratch_root(scratch: str | None = None) -> str:
    """The stored-index scratch volume: an explicit argument, else
    WDSS_SCRATCH_DIR, else the repo-local spark-warehouse area. One
    resolver shared by scratch_path, index_catalog, and the index-ops
    CLI so every surface agrees on where the slots live."""
    return scratch or os.environ.get(
        "WDSS_SCRATCH_DIR",
        os.path.normpath(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "..",
                "spark-warehouse",
            )
        ),
    )


def scratch_path(kind: str, sf_dir: str) -> str:
    """Deterministic scratch location for build-once artifacts (posting
    indexes, IVF assignments): keyed by the source dir so repeated runs
    OVERWRITE their own slot instead of accumulating, unique per (kind,
    source) so families never collide. Defaults to the repo-local
    spark-warehouse area; deployments point WDSS_SCRATCH_DIR at a real
    scratch volume."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:12]
    return os.path.join(scratch_root(), f"{kind}_{tag}")


_TRACKED: list = []


def track_persisted(df):
    """Register a persist()ed DataFrame for later bulk release; returns df."""
    _TRACKED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked intermediate (blocking=False). Returns the
    number released. Safe to call at any time; consuming a DataFrame whose
    input was released just recomputes."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n
