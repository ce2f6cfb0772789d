"""Ingestion: HTTP source → bronze (raw payload) → silver (enriched rows).

Reference parity (SURVEY §2A ops #1-7):

- op #1  HTTP REST source scan   fetchStocktonWeather.js:29-71
- op #2  struct-of-arrays pivot  fetchStocktonWeather.js:77-105
- op #3  per-field null policy   fetchStocktonWeather.js:73-75,88-92
- op #4  unit conversion         fetchStocktonWeather.js:97
- op #5  enrichment structs      fetchStocktonWeather.js:189-193
- op #6  lineage envelope        fetchStocktonWeather.js:148-155
- op #7  zone append sink        fetchStocktonWeather.js:107-141

Spark-first shape: the pivot is ``arrays_zip + explode`` (not the reference's
index-aligned JS loop), fill policy is ``coalesce``/null-propagating
arithmetic, and the enrichment is two ``struct`` columns — all inside
whole-stage codegen. The HTTP fetch itself is driver-side (one small payload
per fetch); at scale, many fetch windows fan out through the partitioned
``observation_feed`` DataSource so executors fetch concurrently.

A single payload's one-row bronze frame is built from a pyarrow Table, so
it lands as one JVM-side partition: its zone writes run no Python worker.
Zone writes are plain appends — no row count, which no caller reads.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructField, StructType, TimestampType

from weather_database_system_spark.pipeline.schemas import (
    BRONZE_SCHEMA,
    HOURLY_VARS,
    SILVER_SCHEMA,
)

OPEN_METEO_URL = "https://archive-api.open-meteo.com/v1/archive"

# op #3 fill policy (fetchStocktonWeather.js:88-92): null default;
# 0.0 for precipitation and gusts.
ZERO_FILLED = {"precipitation": 0.0, "wind_gusts_10m": 0.0}

FIELD_RENAMES = {
    "temperature_2m": "temperatureC",
    "relative_humidity_2m": "humidityPercent",
    "precipitation": "rainfallMm",
    "wind_speed_10m": "windSpeedMps",
    "wind_gusts_10m": "windGustMps",
}


def fetch_hourly_history(
    latitude: float,
    longitude: float,
    start_date: str,
    end_date: str,
    timezone: str = "America/Los_Angeles",
    url: str = OPEN_METEO_URL,
) -> dict[str, Any]:
    """op #1: GET the Open-Meteo archive endpoint (fetchStocktonWeather.js:29-71).

    Driver-side by design — one request returns one bounded payload. Raises
    on non-2xx like the reference (:64-66). Kept import-gated: the engine
    works fully offline (tests use the deterministic fixture payloads)."""
    import json
    import urllib.parse
    import urllib.request

    params = urllib.parse.urlencode(
        {
            "latitude": latitude,
            "longitude": longitude,
            "start_date": start_date,
            "end_date": end_date,
            "hourly": ",".join(HOURLY_VARS),
            "wind_speed_unit": "ms",
            "timezone": timezone,
        }
    )
    with urllib.request.urlopen(f"{url}?{params}", timeout=60) as resp:
        if not 200 <= resp.status < 300:
            raise RuntimeError(f"Open-Meteo API error: HTTP {resp.status}")
        return json.loads(resp.read().decode("utf-8"))


def _nullable(t: DataType) -> DataType:
    """``t`` with every field and element nullable (recursively)."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    return t


# pyspark's Arrow conversion refuses to cast into non-null nested fields;
# the zones are parquet, whose columns Spark writes nullable anyway.
_BRONZE_ARROW_SCHEMA = _nullable(BRONZE_SCHEMA)


def bronze_from_payload(
    spark: SparkSession, payload: dict[str, Any], fetched_at: dt.datetime
) -> DataFrame:
    """Payload dict → one bronze row embedding the entire API response
    (fetchStocktonWeather.js:177-187 stores `payload: data` verbatim).

    The row is shipped as a pyarrow Table: one JVM-side partition whose
    actions need no Python worker (a list of Rows would be parallelized
    into ``local[N]`` partitions, each pickled back through Python).
    ``fetched_at`` goes in as epoch microseconds, converted exactly as
    Spark converts a naive ``datetime`` in a Row."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    hourly = payload["hourly"]
    row = {
        "fetched_at": TimestampType().toInternal(fetched_at),
        "latitude": float(payload["latitude"]),
        "longitude": float(payload["longitude"]),
        "timezone": payload.get("timezone", "UTC"),
        "hourly": {
            "time": list(hourly["time"]),
            **{v: [None if x is None else float(x) for x in hourly[v]] for v in HOURLY_VARS},
        },
    }
    table = pa.Table.from_pylist([row], schema=to_arrow_schema(_BRONZE_ARROW_SCHEMA))
    return spark.createDataFrame(table, schema=_BRONZE_ARROW_SCHEMA)


def bronze_to_observations(bronze: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """ops #2-4: pivot the parallel hourly arrays into per-hour rows.

    ``arrays_zip`` aligns the six arrays positionally (replacing the manual
    index loop at fetchStocktonWeather.js:87-104), ``explode`` emits one row
    per hour; then the fill policy and the null-propagating °F conversion.
    ``keep`` carries bronze-level columns (e.g. ``latitude`` for a
    multi-station feed) through the explode."""
    zipped = bronze.select(
        *keep,
        F.explode(F.arrays_zip("hourly.time", *[f"hourly.{v}" for v in HOURLY_VARS])).alias("h"),
    )
    cols = [*[F.col(k) for k in keep], F.col("h.time").alias("timestamp")]
    for v in HOURLY_VARS:
        c = F.col(f"h.{v}")
        if v in ZERO_FILLED:
            c = F.coalesce(c, F.lit(ZERO_FILLED[v]))
        cols.append(c.alias(FIELD_RENAMES[v]))
    return zipped.select(*cols).withColumn(
        # op #4 (fetchStocktonWeather.js:97): null iff temperatureC null.
        "temperatureF",
        F.col("temperatureC") * 9 / 5 + 32,
    )


def _lineage(fetched_at: dt.datetime) -> dict[str, str]:
    """The batch's lineage stamp, derived once for every ingest path:
    ``source_timestamp`` (ISO-8601 to the millisecond, ``Z``) and
    ``etl_batch_id`` (``etl-<epoch ms>``). load_daily's idempotent dedup
    keys on the batch id, so no path may derive it differently.
    ``fetched_at`` is naive-UTC by convention; tzinfo is pinned before
    ``.timestamp()`` so the id doesn't shift on non-UTC hosts."""
    epoch_ms = int(fetched_at.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    return {
        "source_timestamp": fetched_at.isoformat(timespec="milliseconds") + "Z",
        "etl_batch_id": f"etl-{epoch_ms}",
    }


def _metadata_struct(
    *,
    source_timestamp: str,
    etl_batch_id: str,
    api_request_id: str | None,
    author: str,
    source_database: str,
    data_quality: str,
) -> F.Column:
    """op #6: the shared lineage envelope, field order pinned to
    METADATA_SCHEMA (fetchStocktonWeather.js:148-155)."""
    return F.struct(
        F.lit(source_timestamp).alias("source_timestamp"),
        F.lit(source_database).alias("source_database"),
        F.lit(data_quality).alias("data_quality"),
        F.lit(api_request_id).cast("string").alias("api_request_id"),
        F.lit(etl_batch_id).alias("etl_batch_id"),
        F.lit(author).alias("author"),
    )


_MEASURES = (
    "temperatureC",
    "temperatureF",
    "humidityPercent",
    "rainfallMm",
    "windSpeedMps",
    "windGustMps",
)


def enrich(
    obs: DataFrame,
    city: str,
    state: str,
    *,
    source_timestamp: str,
    etl_batch_id: str,
    api_request_id: str | None = None,
    author: str = "weather_database_system_spark",
    source_database: str = "open-meteo.com/archive",
    data_quality: str = "as-provided",
) -> DataFrame:
    """ops #5-6: attach the constant location struct and the shared lineage
    metadata envelope to every observation (fetchStocktonWeather.js:148-155,
    189-193). Column order is pinned to the silver contract."""
    return obs.select(
        "timestamp",
        *_MEASURES,
        F.struct(
            F.lit(city).alias("city"), F.lit(state).alias("state")
        ).alias("location"),
        _metadata_struct(
            source_timestamp=source_timestamp,
            etl_batch_id=etl_batch_id,
            api_request_id=api_request_id,
            author=author,
            source_database=source_database,
            data_quality=data_quality,
        ).alias("metadata"),
    )


def station_id_col(
    lat: str = "latitude", lon: str = "longitude"
) -> F.Column:
    """Deterministic station key from coordinates, identical in Spark and
    DuckDB: 4 decimal places ≈ 11 m — finer than any two distinct weather
    stations, coarse enough that a payload's float round-trip can't split
    one station into two keys.

    The coordinate is pre-rounded with the portable floor rule
    (floor(x·10⁴ + 0.5)/10⁴ — identical double arithmetic in both
    engines) BEFORE the ``%.4f`` format: raw ``%.4f`` resolves
    binary-midpoint ties differently per engine (Java format_string
    rounds HALF_UP, C printf half-even — measured: 37.03125 →
    '37.0313' in Spark but '37.0312' in DuckDB), so a station at such a
    coordinate would get two different keys. After pre-rounding the
    formatted double is never a formatting tie, and the hypothesis test
    in tests/test_sources.py pins cross-engine equality over adversarial
    midpoints."""

    def r4(c: F.Column) -> F.Column:
        return F.floor(c * 1e4 + F.lit(0.5)) / 1e4

    return F.format_string("st_%.4f_%.4f", r4(F.col(lat)), r4(F.col(lon)))


def enrich_stations(
    obs: DataFrame,
    *,
    source_timestamp: str,
    etl_batch_id: str,
    api_request_id: str | None = None,
    author: str = "weather_database_system_spark",
    source_database: str = "open-meteo.com/archive",
    data_quality: str = "as-provided",
) -> DataFrame:
    """Station-keyed silver enrichment (r7 verdict #6): the multi-station
    twin of ``enrich``. ``obs`` must carry the station coordinates through
    the pivot — ``bronze_to_observations(bronze, keep=("latitude",
    "longitude"))`` — and every row gets a derived ``station_id`` plus the
    same lineage envelope; column order pinned to SILVER_STATION_SCHEMA.
    Map-only at any fleet size: the key derivation and envelope are
    projections, no shuffle until a downstream rollup groups on
    (station_id, date)."""
    return obs.select(
        "timestamp",
        *_MEASURES,
        station_id_col().alias("station_id"),
        "latitude",
        "longitude",
        _metadata_struct(
            source_timestamp=source_timestamp,
            etl_batch_id=etl_batch_id,
            api_request_id=api_request_id,
            author=author,
            source_database=source_database,
            data_quality=data_quality,
        ).alias("metadata"),
    )


def write_zone(df: DataFrame, path: str, mode: str = "append") -> None:
    """op #7: append to a zone (fetchStocktonWeather.js:107-141). The
    reference also reports insertedCount; no caller here reads it, and a
    count would cost a job of its own, so none is taken."""
    df.write.mode(mode).parquet(path)


def register_observation_feed(spark: SparkSession) -> None:
    """Register the partitioned feed source (op #1's scale form —
    SURVEY.md:116's "DataSource V2-style custom reader", implemented with
    pyspark 4's Python DataSource API) under the name
    ``observation_feed``."""
    from weather_database_system_spark.sources.observation_feed import (
        ObservationFeedDataSource,
    )

    spark.dataSource.register(ObservationFeedDataSource)


def read_observation_feed(
    spark: SparkSession,
    stations: list[dict[str, float]],
    start_date: str,
    end_date: str,
    *,
    shard_days: int = 30,
    payload_dir: str | None = None,
    url: str | None = None,
    timezone: str = "America/Los_Angeles",
    fetched_at: str | None = None,
) -> DataFrame:
    """Bronze DataFrame from the partitioned feed: one input partition per
    (station, date-shard), fetched executor-side — the fan-out form of
    fetch_hourly_history + bronze_from_payload. Offline when ``payload_dir``
    is given (fixture payloads), live against ``url`` otherwise."""
    import json as _json

    register_observation_feed(spark)
    reader = (
        spark.read.format("observation_feed")
        .option("stations", _json.dumps(stations))
        .option("start_date", start_date)
        .option("end_date", end_date)
        .option("shard_days", str(shard_days))
        .option("timezone", timezone)
    )
    if payload_dir:
        reader = reader.option("payload_dir", payload_dir)
    if url:
        reader = reader.option("url", url)
    if fetched_at:
        reader = reader.option("fetched_at", fetched_at)
    return reader.load()


def ingest_feed(
    spark: SparkSession,
    stations: list[dict[str, float]],
    start_date: str,
    end_date: str,
    *,
    city: str,
    state: str,
    shard_days: int = 30,
    payload_dir: str | None = None,
    url: str | None = None,
    bronze_path: str | None = None,
    silver_path: str | None = None,
    fetched_at: dt.datetime | None = None,
    author: str = "weather_database_system_spark",
) -> DataFrame:
    """Fleet ingestion: partitioned feed → bronze append → pivot → enrich →
    silver append. The multi-shard twin of ingest_payload — the zones,
    schemas and lineage envelope are identical, only the source scan
    parallelizes.

    The silver contract models ONE logical location (the reference's
    single-city design: LOCATION_SCHEMA is (city, state) and SILVER_SCHEMA
    has no station column), so every station here must share coordinates —
    many shards of one place, not a multi-station fleet. A multi-station
    feed would otherwise write silver rows with colliding timestamps and
    no provenance, silently mixing stations in every date-grain rollup
    downstream. Multi-station fleets use ``ingest_feed_stations``, which
    carries the coordinates through the pivot into the station-keyed
    SILVER_STATION_SCHEMA contract."""
    coords = {
        (float(st["latitude"]), float(st["longitude"])) for st in stations
    }
    if len(coords) > 1:
        raise ValueError(
            "ingest_feed writes the single-location silver contract; got "
            f"{len(coords)} distinct station coordinates. Use "
            "ingest_feed_stations for multi-station fleets."
        )
    fetched_at = fetched_at or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    bronze = read_observation_feed(
        spark,
        stations,
        start_date,
        end_date,
        shard_days=shard_days,
        payload_dir=payload_dir,
        url=url,
        fetched_at=fetched_at.isoformat(timespec="milliseconds"),
    )
    if bronze_path:
        write_zone(bronze, bronze_path)
    silver = enrich(
        bronze_to_observations(bronze),
        city,
        state,
        **_lineage(fetched_at),
        author=author,
    )
    if silver_path:
        write_zone(silver, silver_path)
    return silver


def ingest_feed_stations(
    spark: SparkSession,
    stations: list[dict[str, float]],
    start_date: str,
    end_date: str,
    *,
    shard_days: int = 30,
    payload_dir: str | None = None,
    url: str | None = None,
    bronze_path: str | None = None,
    silver_path: str | None = None,
    fetched_at: dt.datetime | None = None,
    author: str = "weather_database_system_spark",
) -> DataFrame:
    """Multi-station fleet ingestion (r7 verdict #6): partitioned feed →
    bronze append → pivot WITH coordinates → station-keyed silver append.
    The scale-honest generalization of ``ingest_feed``: any number of
    distinct stations, each observation keyed by its derived station_id,
    the silver sink partitioned by station_id so per-station reads prune
    at the file listing and date-grain rollups group on (station_id,
    date) instead of silently mixing the fleet."""
    fetched_at = fetched_at or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    bronze = read_observation_feed(
        spark,
        stations,
        start_date,
        end_date,
        shard_days=shard_days,
        payload_dir=payload_dir,
        url=url,
        fetched_at=fetched_at.isoformat(timespec="milliseconds"),
    )
    if bronze_path:
        write_zone(bronze, bronze_path)
    silver = enrich_stations(
        bronze_to_observations(bronze, keep=("latitude", "longitude")),
        **_lineage(fetched_at),
        author=author,
    )
    if silver_path:
        silver.write.mode("append").partitionBy("station_id").parquet(silver_path)
    return silver


def ingest_payload(
    spark: SparkSession,
    payload: dict[str, Any],
    *,
    city: str,
    state: str,
    bronze_path: str | None = None,
    silver_path: str | None = None,
    fetched_at: dt.datetime | None = None,
    api_request_id: str | None = None,
    author: str = "weather_database_system_spark",
) -> DataFrame:
    """Full ingestion of one fetch: payload → bronze append → pivot →
    enrich → silver append; returns the silver DataFrame (the reference's
    main() at fetchStocktonWeather.js:143-201)."""
    fetched_at = fetched_at or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    bronze = bronze_from_payload(spark, payload, fetched_at)
    if bronze_path:
        write_zone(bronze, bronze_path)
    silver = enrich(
        bronze_to_observations(bronze),
        city,
        state,
        **_lineage(fetched_at),
        api_request_id=api_request_id,
        author=author,
    )
    if silver_path:
        write_zone(silver, silver_path)
    return silver


# ---------------------------------------------------------------------------
# Registry: the feed source driven end-to-end (op #1 scale form)
# ---------------------------------------------------------------------------

FEED_STATIONS = [
    {"latitude": 37.0 + s, "longitude": -121.0 - s} for s in range(3)
]
FEED_START, FEED_END = "2024-01-01", "2024-01-04"
FEED_SHARD_DAYS = 2  # 3 stations × 2 shards = 6 input partitions
FEED_FETCHED_AT = "2024-01-05T00:00:00"


def _cached_feed_fixtures() -> str:
    """Deterministic fixture-payload directory for the registry feed query,
    written ONCE per (stations, range, shard) configuration and reused by
    every later invocation — mkdtemp-per-call leaked a directory per
    registry/driver/bench run and billed the fixture-writing I/O to the
    query being benchmarked (ADVICE r6). Concurrent-safe: fixtures land in
    a unique temp dir that is atomically renamed into place; a racing
    loser just removes its copy."""
    import hashlib
    import shutil
    import tempfile

    from weather_database_system_spark.sources.observation_feed import (
        write_feed_fixtures,
    )

    key = hashlib.sha256(
        repr((FEED_STATIONS, FEED_START, FEED_END, FEED_SHARD_DAYS)).encode()
    ).hexdigest()[:16]
    final = f"{tempfile.gettempdir()}/obsfeed_fixtures_{key}"
    if not os.path.isdir(final):
        work = tempfile.mkdtemp(prefix="obsfeed_build_")
        write_feed_fixtures(
            work, FEED_STATIONS, FEED_START, FEED_END, FEED_SHARD_DAYS
        )
        try:
            os.rename(work, final)
        except OSError:  # another process won the race
            shutil.rmtree(work, ignore_errors=True)
    return final


def feed_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(station, day) rollup of the partitioned observation feed: the
    whole op #1-#4 chain — partitioned DataSource scan (6 (station, shard)
    input partitions), arrays_zip pivot, fill policy, °F conversion —
    feeding the reference's daily-grain aggregate shape. Offline fixture
    payloads are closed-form in (station, hour), so the DuckDB oracle
    replays the feed from generate_series and the whole path is
    hash-checked. ``sf_dir`` is unused: the source under test IS the feed."""
    from weather_database_system_spark.operators.relational import (
        _avg4,
        _fr,
        _sum2,
    )

    payload_dir = _cached_feed_fixtures()
    bronze = read_observation_feed(
        spark,
        FEED_STATIONS,
        FEED_START,
        FEED_END,
        shard_days=FEED_SHARD_DAYS,
        payload_dir=payload_dir,
        fetched_at=FEED_FETCHED_AT,
    )
    obs = bronze_to_observations(bronze, keep=("latitude",))
    return (
        obs.groupBy(
            "latitude", F.substring("timestamp", 1, 10).alias("obs_date")
        )
        .agg(
            F.count("*").alias("n_hours"),
            (F.count("*") - F.count("temperatureC")).cast("int").alias(
                "n_missing_temp"
            ),
            _avg4(F.col("temperatureF")).alias("avg_temp_f"),
            _sum2(F.col("rainfallMm")).alias("total_rain_mm"),
            _fr(F.max("windGustMps"), 4).alias("max_gust_mps"),
        )
        .orderBy("latitude", "obs_date")
    )


def _feed_oracle() -> str:
    from weather_database_system_spark.operators.relational import (
        _sql_avg4,
        _sql_fr,
        _sql_sum2,
    )

    n_hours = (
        (dt.date.fromisoformat(FEED_END) - dt.date.fromisoformat(FEED_START)).days
        + 1
    ) * 24
    # replays fixture_hourly_values + the op #3/#4 policy from generate_series
    return f"""
        WITH s AS (SELECT unnest(generate_series(0, {len(FEED_STATIONS) - 1})) AS s),
        g AS (SELECT unnest(generate_series(0, {n_hours - 1})) AS g),
        obs AS (
            SELECT 37.0 + s AS latitude,
                   strftime(TIMESTAMP '{FEED_START} 00:00:00' + to_hours(g),
                            '%Y-%m-%dT%H:%M') AS ts,
                   CASE WHEN (g + s) % 11 = 0 THEN NULL
                        ELSE s * 10 + g * 0.25 END AS temp_c,
                   CASE WHEN (g + s) % 7 = 0 THEN 0.0 ELSE g * 0.1 END AS rain_mm,
                   CASE WHEN (g + s) % 5 = 0 THEN 0.0 ELSE g * 0.07 END AS gust
            FROM s, g
        )
        SELECT latitude,
               substr(ts, 1, 10) AS obs_date,
               count(*) AS n_hours,
               CAST(count(*) - count(temp_c) AS INT) AS n_missing_temp,
               {_sql_avg4("temp_c * 9 / 5 + 32")} AS avg_temp_f,
               {_sql_sum2("rain_mm")} AS total_rain_mm,
               {_sql_fr("max(gust)", 4)} AS max_gust_mps
        FROM obs
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


# the lineage stamp the registry's pinned FEED_FETCHED_AT produces, derived
# once so the oracles can embed the batch id as a literal
_FEED_LINEAGE = _lineage(dt.datetime.fromisoformat(FEED_FETCHED_AT))


def feed_station_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-station gold rollup THROUGH the station-keyed silver contract
    (r7 verdict #6): partitioned feed scan → pivot carrying (latitude,
    longitude) → ``enrich_stations`` (station_id derivation + lineage
    envelope) → daily grain keyed by (station_id, obs_date). Exercises
    what ``feed_daily_rollup`` can't: the silver contract itself — the
    derived station key, both coordinates, and the metadata envelope all
    survive into the rollup, and the group key proves stations never mix.
    Offline fixtures are closed-form in (station, hour), so DuckDB
    replays the whole chain — including station_id's printf derivation
    and the batch-id lineage constant — from generate_series.
    ``sf_dir`` is unused: the source under test IS the feed."""
    from weather_database_system_spark.operators.relational import (
        _avg4,
        _fr,
        _sum2,
    )

    payload_dir = _cached_feed_fixtures()
    bronze = read_observation_feed(
        spark,
        FEED_STATIONS,
        FEED_START,
        FEED_END,
        shard_days=FEED_SHARD_DAYS,
        payload_dir=payload_dir,
        fetched_at=FEED_FETCHED_AT,
    )
    silver = enrich_stations(
        bronze_to_observations(bronze, keep=("latitude", "longitude")),
        **_FEED_LINEAGE,
    )
    return (
        silver.groupBy(
            "station_id", F.substring("timestamp", 1, 10).alias("obs_date")
        )
        .agg(
            F.min("latitude").alias("latitude"),
            F.min("longitude").alias("longitude"),
            F.count("*").alias("n_hours"),
            (F.count("*") - F.count("temperatureC")).cast("int").alias(
                "n_missing_temp"
            ),
            _avg4(F.col("temperatureF")).alias("avg_temp_f"),
            _avg4(F.col("humidityPercent")).alias("avg_humidity"),
            _sum2(F.col("rainfallMm")).alias("total_rain_mm"),
            _fr(F.max("windGustMps"), 4).alias("max_gust_mps"),
            F.min("metadata.etl_batch_id").alias("etl_batch_id"),
        )
        .orderBy("station_id", "obs_date")
    )


def _feed_station_oracle() -> str:
    from weather_database_system_spark.operators.relational import (
        _sql_avg4,
        _sql_fr,
        _sql_sum2,
    )

    n_hours = (
        (dt.date.fromisoformat(FEED_END) - dt.date.fromisoformat(FEED_START)).days
        + 1
    ) * 24
    # replays fixture_hourly_values + the op #3/#4 policy + the station_id
    # printf derivation and lineage constant from generate_series
    return f"""
        WITH s AS (SELECT unnest(generate_series(0, {len(FEED_STATIONS) - 1})) AS s),
        g AS (SELECT unnest(generate_series(0, {n_hours - 1})) AS g),
        obs AS (
            SELECT 37.0 + s AS latitude,
                   -121.0 - s AS longitude,
                   strftime(TIMESTAMP '{FEED_START} 00:00:00' + to_hours(g),
                            '%Y-%m-%dT%H:%M') AS ts,
                   CASE WHEN (g + s) % 11 = 0 THEN NULL
                        ELSE s * 10 + g * 0.25 END AS temp_c,
                   50.0 + ((g + s) % 20) AS humidity,
                   CASE WHEN (g + s) % 7 = 0 THEN 0.0 ELSE g * 0.1 END AS rain_mm,
                   CASE WHEN (g + s) % 5 = 0 THEN 0.0 ELSE g * 0.07 END AS gust
            FROM s, g
        )
        SELECT printf('st_%.4f_%.4f', floor(latitude * 1e4 + 0.5) / 1e4,
                      floor(longitude * 1e4 + 0.5) / 1e4) AS station_id,
               substr(ts, 1, 10) AS obs_date,
               min(latitude) AS latitude,
               min(longitude) AS longitude,
               count(*) AS n_hours,
               CAST(count(*) - count(temp_c) AS INT) AS n_missing_temp,
               {_sql_avg4("temp_c * 9 / 5 + 32")} AS avg_temp_f,
               {_sql_avg4("humidity")} AS avg_humidity,
               {_sql_sum2("rain_mm")} AS total_rain_mm,
               {_sql_fr("max(gust)", 4)} AS max_gust_mps,
               '{_FEED_LINEAGE["etl_batch_id"]}' AS etl_batch_id
        FROM obs
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def feed_station_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Station-keyed GOLD monthly aggregate — the reference's monthly_agg
    shape (etlToClickHouse.js:139-173: month key from the timestamp
    prefix, avg temperature, total rainfall) generalized to the fleet:
    grouped by (station_id, month) so no station's climate dilutes
    another's. Cascades FROM the silver contract (feed → pivot →
    enrich_stations), proving the month grain derives from station-keyed
    silver exactly as the daily grain does; the DuckDB oracle replays the
    whole chain from generate_series. ``sf_dir`` unused: the source under
    test IS the feed."""
    from weather_database_system_spark.operators.relational import (
        _avg4,
        _sum2,
    )

    payload_dir = _cached_feed_fixtures()
    bronze = read_observation_feed(
        spark,
        FEED_STATIONS,
        FEED_START,
        FEED_END,
        shard_days=FEED_SHARD_DAYS,
        payload_dir=payload_dir,
        fetched_at=FEED_FETCHED_AT,
    )
    silver = enrich_stations(
        bronze_to_observations(bronze, keep=("latitude", "longitude")),
        **_FEED_LINEAGE,
    )
    return (
        silver.groupBy(
            "station_id", F.substring("timestamp", 1, 7).alias("month")
        )
        .agg(
            F.count("*").alias("n_hours"),
            _avg4(F.col("temperatureC")).alias("avg_temp_c"),
            _sum2(F.col("rainfallMm")).alias("total_rain_mm"),
        )
        .orderBy("station_id", "month")
    )


def _feed_station_monthly_oracle() -> str:
    from weather_database_system_spark.operators.relational import (
        _sql_avg4,
        _sql_sum2,
    )

    n_hours = (
        (dt.date.fromisoformat(FEED_END) - dt.date.fromisoformat(FEED_START)).days
        + 1
    ) * 24
    return f"""
        WITH s AS (SELECT unnest(generate_series(0, {len(FEED_STATIONS) - 1})) AS s),
        g AS (SELECT unnest(generate_series(0, {n_hours - 1})) AS g),
        obs AS (
            SELECT printf('st_%.4f_%.4f', floor((37.0 + s) * 1e4 + 0.5) / 1e4,
                      floor((-121.0 - s) * 1e4 + 0.5) / 1e4) AS station_id,
                   strftime(TIMESTAMP '{FEED_START} 00:00:00' + to_hours(g),
                            '%Y-%m') AS month,
                   CASE WHEN (g + s) % 11 = 0 THEN NULL
                        ELSE s * 10 + g * 0.25 END AS temp_c,
                   CASE WHEN (g + s) % 7 = 0 THEN 0.0 ELSE g * 0.1 END AS rain_mm
            FROM s, g
        )
        SELECT station_id, month,
               count(*) AS n_hours,
               {_sql_avg4("temp_c")} AS avg_temp_c,
               {_sql_sum2("rain_mm")} AS total_rain_mm
        FROM obs
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


QUERIES = {
    "feed_daily_rollup": feed_daily_rollup,
    "feed_station_rollup": feed_station_rollup,
    "feed_station_monthly": feed_station_monthly,
}

ORACLE: dict[str, str] = {
    "feed_daily_rollup": _feed_oracle(),
    "feed_station_rollup": _feed_station_oracle(),
    "feed_station_monthly": _feed_station_monthly_oracle(),
}
