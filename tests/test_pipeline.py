"""Golden-pipeline, serving, cache, and diagnostics tests (SURVEY §5 items
2, 3, 4, 6): fixture payloads → bronze → silver → daily → monthly → cache →
serve, with the freshness ladder and degraded states covered explicitly."""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from tests.fixtures_weather import CITIES, make_payload

NOW = dt.datetime(2024, 4, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def zones(spark, tmp_path_factory):
    """Ingest all three cities and build the warehouse once per module."""
    from weather_database_system_spark.pipeline.ingest import enrich, ingest_payload
    from weather_database_system_spark.pipeline.warehouse import run_etl

    root = tmp_path_factory.mktemp("zones")
    bronze, silver, wh = str(root / "bronze"), str(root / "silver"), str(root / "gold")

    for i in range(len(CITIES)):
        p = make_payload(i, n_days=62)  # Jan-Feb + 1 day of Mar
        ingest_payload(
            spark,
            p,
            city=p["_city"],
            state=p["_state"],
            bronze_path=bronze,
            silver_path=silver,
            fetched_at=NOW,
            api_request_id=f"req-{i}" if i % 2 == 0 else None,
        )

    # a minority batch from a different author that op #9 must filter out
    rogue_payload = make_payload(0, n_days=2)
    rogue = enrich(
        __import__(
            "weather_database_system_spark.pipeline.ingest", fromlist=["x"]
        ).bronze_to_observations(
            __import__(
                "weather_database_system_spark.pipeline.ingest", fromlist=["x"]
            ).bronze_from_payload(spark, rogue_payload, NOW)
        ),
        "Stockton",
        "CA",
        source_timestamp="2024-04-01T12:00:00.000Z",
        etl_batch_id="etl-rogue",
        author="someone-else",
    )
    rogue.write.mode("append").parquet(silver)

    monthly = run_etl(
        spark, spark.read.parquet(silver), wh, load_time=NOW
    )
    return {"bronze": bronze, "silver": silver, "warehouse": wh, "monthly": monthly}


def test_silver_schema_and_fill_policy(spark, zones):
    """ops #2-6: pivot produced hourly rows; zero-fill for rainfall/gusts;
    null-preserving F conversion; nested structs with lineage fields."""
    from pyspark.sql import functions as F

    silver = spark.read.parquet(zones["silver"])
    ours = silver.filter(F.col("metadata.author") != "someone-else")
    assert ours.count() == 3 * 62 * 24

    # fill policy: zero-filled fields are never null, nullable ones are
    assert ours.filter(F.col("rainfallMm").isNull()).count() == 0
    assert ours.filter(F.col("windGustMps").isNull()).count() == 0
    assert ours.filter(F.col("temperatureC").isNull()).count() > 0

    # temperatureF = C*9/5+32, null iff C null
    bad = ours.filter(
        (
            F.col("temperatureC").isNotNull()
            & (F.abs(F.col("temperatureF") - (F.col("temperatureC") * 9 / 5 + 32)) > 1e-9)
        )
        | (F.col("temperatureC").isNull() & F.col("temperatureF").isNotNull())
    )
    assert bad.count() == 0

    row = ours.first()
    assert row["location"]["state"] in {"CA", "NV"}
    assert row["metadata"]["etl_batch_id"].startswith("etl-")
    assert row["metadata"]["source_database"] == "open-meteo.com/archive"


def test_daily_flatten_author_filter_and_lineage(spark, zones):
    """ops #9-12: rogue-author rows excluded; 19-column contract; null
    api_request_id coalesced to ''; warehouse metadata constants present."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.schemas import DAILY_COLUMNS
    from weather_database_system_spark.pipeline.warehouse import read_daily

    daily = read_daily(spark, zones["warehouse"])
    assert list(daily.columns) == list(DAILY_COLUMNS)
    assert daily.filter(F.col("author") == "someone-else").count() == 0
    assert daily.count() == 3 * 62 * 24

    # batch-id idempotency: re-loading the same silver adds nothing
    from weather_database_system_spark.pipeline.warehouse import (
        load_daily,
        silver_to_daily,
    )

    load_daily(
        silver_to_daily(spark.read.parquet(zones["silver"]), load_time=NOW),
        zones["warehouse"],
    )
    assert read_daily(spark, zones["warehouse"]).count() == 3 * 62 * 24

    # ?? '' coalesce: the odd-indexed city ingested with api_request_id=None
    assert daily.filter(F.col("api_request_id") == "").count() == 62 * 24
    assert daily.filter(F.col("api_request_id").isNull()).count() == 0

    md = daily.select("rows_loaded", "sync_interval_min", "load_mode").distinct().collect()
    assert [(r["rows_loaded"], r["sync_interval_min"], r["load_mode"]) for r in md] == [
        (1, 60, "incremental")
    ]
    # partition layout: one dir per year_month
    parts = sorted(
        d for d in os.listdir(os.path.join(zones["warehouse"], "daily_weather"))
        if d.startswith("year_month=")
    )
    assert parts == ["year_month=2024-01", "year_month=2024-02", "year_month=2024-03"]


def test_monthly_agg_values_and_idempotency(spark, zones):
    """op #13 + property tests (SURVEY §5.4): per-group totals equal an
    independent recomputation; avg bounded by min/max; rebuilding twice is
    idempotent (the documented divergence from the reference's append)."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.warehouse import (
        build_monthly_agg,
        read_daily,
    )

    monthly = zones["monthly"]
    assert {r["city"] for r in monthly.select("city").distinct().collect()} == {
        c for c, *_ in CITIES
    }
    # 3 cities × 3 months
    assert monthly.count() == 9

    daily = read_daily(spark, zones["warehouse"])
    expect = {
        (r["city"], r["m"]): (r["s"], r["n"], r["lo"], r["hi"])
        for r in daily.groupBy(
            "city", F.concat(F.substring("date", 1, 7), F.lit("-01")).alias("m")
        )
        .agg(
            F.sum("rainfallMm").alias("s"),
            F.count("*").alias("n"),
            F.min("temperatureC").alias("lo"),
            F.max("temperatureC").alias("hi"),
        )
        .collect()
    }
    for r in monthly.collect():
        s, n, lo, hi = expect[(r["city"], r["month"])]
        assert abs(r["total_rain_mm"] - s) < 1e-6
        assert r["rows_loaded"] == n
        assert lo <= r["avg_temp_c"] <= hi
        assert r["sync_interval_min"] == 0 and r["load_mode"] == "incremental"

    first = sorted(map(tuple, monthly.collect()))
    again = build_monthly_agg(spark, zones["warehouse"], load_time=NOW)
    assert sorted(map(tuple, again.collect())) == first


@pytest.mark.parametrize(
    ("ratio", "expected"),
    [(0.95, "full"), (0.6, "full"), (0.5, "partial"), (0.2, "partial"),
     (0.1, "out-of-sync"), (0.0, "out-of-sync"), (-1.0, "out-of-sync")],
)
def test_freshness_ladder(ratio, expected):
    """op #20 thresholds (monthly.js:36-42): full ≥ 0.6 > partial ≥ 0.2 >
    out-of-sync — including the boundary values."""
    from weather_database_system_spark.pipeline.cache import classify_freshness

    assert classify_freshness(ratio * 3600, 3600) == expected


def test_freshness_column_twin_matches_scalar_ladder(spark):
    """freshness_status_col (the registry-query twin in pipeline/cachemath)
    must agree with classify_freshness on a dense sweep including every
    boundary and the zero-interval guard — one implementation, two
    evaluation engines."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.cache import (
        classify_freshness,
        freshness_status_col,
    )

    cases = [(ttl, 3600) for ttl in range(-3600, 3601, 180)]
    cases += [(2159, 3600), (2160, 3600), (719, 3600), (720, 3600), (100, 0), (0, 0)]
    df = spark.createDataFrame(cases, "ttl long, interval long")
    got = {
        (r.ttl, r.interval): r.status
        for r in df.select(
            "ttl",
            "interval",
            freshness_status_col(F.col("ttl"), F.col("interval")).alias("status"),
        ).collect()
    }
    for ttl, interval in cases:
        assert got[(ttl, interval)] == classify_freshness(ttl, interval), (ttl, interval)


def test_cache_hit_stale_miss_and_status(spark, zones, tmp_path):
    """ops #16-17, #22-23: fresh hit serves from cache with the right
    envelope; expired TTL falls back to the warehouse; cache_status reports
    EXISTS/TTL/metadata/count faithfully."""
    from weather_database_system_spark.pipeline.cache import cache_status, refresh_cache
    from weather_database_system_spark.pipeline.serving import serve_monthly

    croot = str(tmp_path / "cache")
    env = refresh_cache(spark, zones["warehouse"], croot, "Stockton", now=NOW)
    assert env["metadata"]["refresh_interval_sec"] == 3600
    assert [r["month"] for r in env["data"]] == ["2024-01-01", "2024-02-01", "2024-03-01"]

    # fresh (10 min in): hit, full
    t_fresh = NOW + dt.timedelta(minutes=10)
    resp = serve_monthly(spark, zones["warehouse"], croot, "Stockton", now=t_fresh)
    assert (resp["source"], resp["cache_status"], resp["sync_status"]) == (
        "cache", "hit", "full",
    )
    assert resp["count"] == 3 and resp["data"][0]["city"] == "Stockton"

    # 35 min in: hit but partial (ratio ≈ 0.42)
    resp = serve_monthly(
        spark, zones["warehouse"], croot, "Stockton", now=NOW + dt.timedelta(minutes=35)
    )
    assert (resp["source"], resp["sync_status"]) == ("cache", "partial")

    # expired: warehouse fallback, out-of-sync, same data
    t_stale = NOW + dt.timedelta(hours=2)
    resp = serve_monthly(spark, zones["warehouse"], croot, "Stockton", now=t_stale)
    assert (resp["source"], resp["cache_status"], resp["sync_status"]) == (
        "warehouse", "expired", "out-of-sync",
    )
    assert [r["month"] for r in resp["data"]] == ["2024-01-01", "2024-02-01", "2024-03-01"]

    # other city was never cached (per-city keys fix wart §2A-5)
    resp = serve_monthly(spark, zones["warehouse"], croot, "Fresno", now=t_fresh)
    assert (resp["source"], resp["cache_status"]) == ("warehouse", "miss")
    assert resp["count"] == 3

    st = cache_status(croot, "Stockton", now=t_fresh)
    assert st["cache_exists"] and st["cache_valid"] and st["data_count"] == 3
    assert st["sync_status"] == "full" and 0 < st["ttl_seconds"] <= 3600
    st = cache_status(croot, "Stockton", now=t_stale)
    assert st["cache_exists"] and not st["cache_valid"]
    assert cache_status(croot, "Reno", now=t_fresh) == {
        "cache_exists": False, "cache_valid": False, "message": "cache empty",
    }


def test_city_case_shares_one_snapshot_and_its_rows(spark, zones, tmp_path):
    """The snapshot key lowercases the city, so "Stockton" and "stockton"
    share monthly_stockton.json; the warehouse reads behind it match the
    city case-insensitively too. A refresh for "stockton" must snapshot
    Stockton's months, not an empty envelope that "Stockton" would then
    serve as a fresh hit with 0 rows, and the expired fallback must serve
    the same rows for either spelling."""
    from weather_database_system_spark.pipeline.cache import read_snapshot, refresh_cache
    from weather_database_system_spark.pipeline.serving import serve_monthly

    croot = str(tmp_path / "cache")
    months = ["2024-01-01", "2024-02-01", "2024-03-01"]
    refresh_cache(spark, zones["warehouse"], croot, "Stockton", now=NOW)
    refresh_cache(spark, zones["warehouse"], croot, "stockton", now=NOW)
    assert os.listdir(croot) == ["monthly_stockton.json"]
    assert [r["month"] for r in read_snapshot(croot, "Stockton")["data"]] == months

    hit = serve_monthly(
        spark, zones["warehouse"], croot, "Stockton", now=NOW + dt.timedelta(minutes=10)
    )
    assert (hit["cache_status"], hit["count"]) == ("hit", 3)

    t_stale = NOW + dt.timedelta(hours=2)
    upper = serve_monthly(spark, zones["warehouse"], croot, "Stockton", now=t_stale)
    lower = serve_monthly(spark, zones["warehouse"], croot, "stockton", now=t_stale)
    assert (lower["source"], lower["cache_status"]) == ("warehouse", "expired")
    assert [r["month"] for r in lower["data"]] == months
    assert lower["data"] == upper["data"]


def test_city_predicate_is_literal_and_case_insensitive(spark):
    """city_is matches the whole name, ignoring case, with regex
    metacharacters in the name taken literally."""
    from weather_database_system_spark.pipeline.warehouse import city_is

    df = spark.createDataFrame(
        [(c,) for c in ("St. Louis", "StX Louis", "St. Louis East", "ÉVRY", "Coeur d'Alene")],
        "city string",
    )

    def match(city):
        return sorted(r["city"] for r in df.filter(city_is(city)).collect())

    assert match("st. louis") == ["St. Louis"]
    assert match("évry") == ["ÉVRY"]
    assert match("COEUR D'ALENE") == ["Coeur d'Alene"]
    assert match("louis") == []


def test_ingest_payload_stamps_lineage_to_the_millisecond(spark):
    """The payload path's lineage stamp: source_timestamp is fetched_at
    truncated to milliseconds with a Z suffix, and etl_batch_id is
    etl-<epoch ms> of the same instant (load_daily's dedup keys on it)."""
    from weather_database_system_spark.pipeline.ingest import ingest_payload

    p = make_payload(0, n_days=1)
    silver = ingest_payload(
        spark, p, city=p["_city"], state=p["_state"],
        fetched_at=dt.datetime(2024, 2, 3, 12, 34, 56, 789123),
    )
    stamps = silver.select("metadata.source_timestamp", "metadata.etl_batch_id").distinct()
    assert [tuple(r) for r in stamps.collect()] == [
        ("2024-02-03T12:34:56.789Z", "etl-1706963696789")
    ]


def test_serving_error_taxonomy(spark, tmp_path):
    """op #21: missing warehouse → 503 + actionable remediation, never a
    raw stack trace."""
    from weather_database_system_spark.pipeline.serving import serve_monthly

    resp = serve_monthly(
        spark, str(tmp_path / "nowhere"), str(tmp_path / "nocache"), "Stockton", now=NOW
    )
    assert resp["status"] == "503"
    assert "run the ETL" in resp["remediation"]
    assert resp["data"] == [] and resp["count"] == 0


def test_streaming_incremental_warehouse_load(spark, zones, tmp_path):
    """Silver streamed in multiple micro-batches through foreachBatch must
    land the exact same gold rows as the batch ETL, and a restart on the
    same checkpoint must not duplicate anything (exactly-once via the
    streaming checkpoint, not the batch-id anti-join)."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.warehouse import (
        read_daily,
        silver_to_daily,
        stream_silver_to_daily,
    )

    silver_src = str(tmp_path / "silver_stream")
    wh = str(tmp_path / "gold_stream")
    ckpt = str(tmp_path / "ckpt")
    silver = spark.read.parquet(zones["silver"])
    silver.repartition(4).write.mode("overwrite").parquet(silver_src)

    schema = spark.read.parquet(silver_src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(silver_src)
    )
    q = stream_silver_to_daily(stream, wh, ckpt, load_time=NOW)
    q.awaitTermination(120)
    assert not q.isActive

    streamed = read_daily(spark, wh)
    expected = silver_to_daily(silver, load_time=NOW)
    assert streamed.count() == expected.count()
    key = ["city", "date", "temperatureC", "rainfallMm"]

    def nsafe(rows):  # None-safe deterministic ordering
        return sorted(
            (tuple(r) for r in rows),
            key=lambda t: tuple((v is None, v) if v is not None else (True, 0) for v in t),
        )

    assert nsafe(streamed.select(*key).collect()) == nsafe(expected.select(*key).collect())

    # restart on the same checkpoint: nothing new → nothing appended
    q2 = stream_silver_to_daily(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(silver_src),
        wh,
        ckpt,
        load_time=NOW,
    )
    q2.awaitTermination(120)
    assert read_daily(spark, wh).count() == expected.count()

    # and the monthly aggregate built from the streamed warehouse matches
    # the one built from the batch warehouse
    from weather_database_system_spark.pipeline.warehouse import (
        build_monthly_agg,
        read_monthly,
    )

    monthly_streamed = build_monthly_agg(spark, wh, load_time=NOW)
    # re-read the batch aggregate from its path: the fixture's DataFrame may
    # hold a stale file listing after the idempotency test's overwrite
    monthly_batch = read_monthly(spark, zones["warehouse"])
    assert sorted(map(tuple, monthly_streamed.collect())) == sorted(
        map(tuple, monthly_batch.collect())
    )


def test_incremental_monthly_refresh_touches_only_affected_months(spark, tmp_path):
    """Partition-level aggregate maintenance: after a new batch lands in one
    month, refreshing just that month must (a) update its rows to exactly
    what a full rebuild computes, (b) leave every other month's files AND
    warehouse_load_time untouched."""
    import datetime as dt

    from weather_database_system_spark.pipeline.ingest import ingest_payload
    from weather_database_system_spark.pipeline.warehouse import (
        build_monthly_agg,
        read_monthly,
        refresh_monthly_incremental,
        run_etl,
    )

    root = tmp_path
    silver, wh = str(root / "silver"), str(root / "gold")
    p = make_payload(0, n_days=60)  # Jan(31) + Feb(29, leap) exactly
    ingest_payload(spark, p, city=p["_city"], state=p["_state"],
                   silver_path=silver, fetched_at=NOW)
    run_etl(spark, spark.read.parquet(silver), wh, load_time=NOW)
    before = {r["month"]: tuple(r) for r in read_monthly(spark, wh).collect()}
    assert set(before) == {"2024-01-01", "2024-02-01"}

    # a late-arriving February-only batch from a second "sensor"
    later = dt.datetime(2024, 4, 2, 9, 0, 0)
    p2 = make_payload(1, n_days=60)
    feb = {
        "latitude": p2["latitude"], "longitude": p2["longitude"],
        "timezone": p2["timezone"],
        "hourly": {
            k: [v for v, t in zip(p2["hourly"][k], p2["hourly"]["time"])
                if t.startswith("2024-02")]
            if k != "time" else [t for t in p2["hourly"]["time"] if t.startswith("2024-02")]
            for k in p2["hourly"]
        },
    }
    ingest_payload(spark, feb, city="Stockton", state="CA",
                   silver_path=silver, fetched_at=later)
    new_batch = spark.read.parquet(silver)
    from weather_database_system_spark.pipeline.warehouse import load_daily, silver_to_daily

    load_daily(silver_to_daily(new_batch, load_time=later), wh)

    incr = refresh_monthly_incremental(spark, wh, ["2024-02-01"], load_time=later)
    after = {r["month"]: tuple(r) for r in incr.collect()}

    # January rows byte-identical (including the ORIGINAL load_time)
    assert after["2024-01-01"] == before["2024-01-01"]
    # February updated with the new data and the new load_time
    assert after["2024-02-01"] != before["2024-02-01"]
    assert after["2024-02-01"][4] == later  # warehouse_load_time

    # and the February VALUES equal a full rebuild's (load_times differ for
    # January by design, so compare February only)
    full = {r["month"]: tuple(r) for r in
            build_monthly_agg(spark, wh, load_time=later).collect()}
    assert after["2024-02-01"] == full["2024-02-01"]


def test_rollup_cascade_materialization_is_lossless(spark, tmp_path):
    """hour→day→month cascade: every materialized grain must equal the
    direct aggregation of raw events at that grain (reassociated decimal
    partials lose nothing), and avg derives correctly from partials."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.rollup import (
        build_rollup_cascade,
        read_rollup,
    )
    from weather_database_system_spark.sources.star import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    tables = build_rollup_cascade(spark, ev, str(tmp_path / "rollups"))
    assert set(tables) == {"hour", "day", "month"}

    for grain, table in tables.items():
        direct = ev.groupBy(
            "event_type", F.date_trunc(grain, "ts").alias("bucket")
        ).agg(
            F.sum(F.col("value").cast("decimal(30,10)")).alias("psum"),
            F.count("value").alias("pcount"),
            F.min("value").alias("pmin"),
            F.max("value").alias("pmax"),
        )
        got = sorted(map(tuple, table.collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want, f"{grain} grain diverged from direct aggregation"

    with_avg = read_rollup(tables["month"]).collect()
    for r in with_avg:
        assert abs(r.avg_value - float(r.psum) / r.pcount) < 1e-12


def test_diagnostics_staged_probe(spark, zones, tmp_path):
    """ops #24-27 (§5.6): healthy path = 5 successes; missing warehouse
    short-circuits at step 2 with remediation; unknown city → warning."""
    from weather_database_system_spark.pipeline.diagnostics import run_diagnostics

    steps = run_diagnostics(spark, zones["warehouse"])
    assert [s["status"] for s in steps] == ["success"] * 5
    assert [s["step"] for s in steps] == [
        "connectivity", "database_exists", "table_exists", "row_count", "sample_query",
    ]

    steps = run_diagnostics(spark, str(tmp_path / "missing"))
    assert steps[-1]["status"] == "error" and "run the ETL" in steps[-1]["remediation"]
    assert len(steps) == 2  # short-circuited

    steps = run_diagnostics(spark, zones["warehouse"], sample_city="Nowhere")
    assert steps[-1] == {
        "step": "sample_query",
        "status": "warning",
        "detail": "no rows for city='Nowhere'",
        "remediation": "check the city parameter or ingest that city",
    }


def test_compact_partitioned_collapses_small_files_and_preserves_rows(
    spark, tmp_path
):
    """Small-files compaction (pipeline/maintenance.py): six appended
    fetches fragment each station partition into six files; one
    compaction pass collapses every partition to its file-count floor
    (ceil(rows/max_records) = 1 here), preserves every row bit-for-bit,
    and keeps the partition directories — so listing-level pruning is
    untouched. A second run over the compacted output is a no-op shape
    (idempotence)."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.ingest import (
        ingest_feed_stations,
    )
    from weather_database_system_spark.pipeline.maintenance import (
        compact_partitioned,
    )
    from weather_database_system_spark.sources.observation_feed import (
        write_feed_fixtures,
    )

    stations = [
        {"latitude": 37.0, "longitude": -121.0},
        {"latitude": 40.0, "longitude": -120.0},
    ]
    fx = tmp_path / "payloads"
    fx.mkdir()
    write_feed_fixtures(str(fx), stations, "2024-02-01", "2024-02-02", 1)
    silver_path = str(tmp_path / "silver")
    # six fetch appends — the fragmentation a standing hourly refresh
    # produces (each append = shards-per-station files per partition)
    for i in range(6):
        ingest_feed_stations(
            spark,
            stations,
            "2024-02-01",
            "2024-02-02",
            shard_days=1,
            payload_dir=str(fx),
            silver_path=silver_path,
            fetched_at=dt.datetime(2024, 2, 3, i),
        )

    def files_per_part(root):
        out = {}
        for d in os.listdir(root):
            if d.startswith("station_id="):
                out[d] = len(glob.glob(os.path.join(root, d, "*.parquet")))
        return out

    before = files_per_part(silver_path)
    assert set(before.values()) == {12}  # 6 appends × 2 one-day shards

    compact_path = str(tmp_path / "silver_compacted")
    audit = compact_partitioned(
        spark, silver_path, compact_path, ["station_id"]
    )
    after = files_per_part(compact_path)
    assert set(after.values()) == {1}  # the floor: one file per partition
    assert audit["rows"] == 2 * 2 * 24 * 6
    assert audit["files_before"] == 24 and audit["files_after"] == 2

    # rows survive exactly (same multiset, partition column included)
    a = spark.read.parquet(silver_path)
    b = spark.read.parquet(compact_path)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # pruning still works through the compacted layout
    one = b.filter(F.col("station_id") == "st_40.0000_-120.0000")
    assert one.count() == 2 * 24 * 6

    # maxRecordsPerFile splits when the cap binds
    tiny_path = str(tmp_path / "silver_tiny_files")
    audit2 = compact_partitioned(
        spark, compact_path, tiny_path, ["station_id"],
        max_records_per_file=100,
    )
    assert audit2["files_after"] == 2 * -(-288 // 100)  # ceil(288/100)=3 each


# ---------------------------------------------------------------------------
# Product write/read path: Spark jobs per call, atomic snapshots, and the
# shared session left as it was found.
# ---------------------------------------------------------------------------


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh Spark job group; return ``(result, number
    of Spark jobs it started)``."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job events reach the status store asynchronously: drain the bus first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_product_path_job_counts(spark, zones, tmp_path):
    """One job per zone write for a single payload (no row counts, no
    Python worker), one job per snapshot refresh and per serving fallback
    (declared gold schema, no distributed sort), none for a cache hit."""
    from weather_database_system_spark.pipeline.cache import refresh_cache
    from weather_database_system_spark.pipeline.ingest import ingest_payload
    from weather_database_system_spark.pipeline.serving import serve_monthly

    p = make_payload(1, n_days=2)
    bronze, silver, croot = (str(tmp_path / z) for z in ("bronze", "silver", "cache"))

    def ingest():
        return ingest_payload(spark, p, city=p["_city"], state=p["_state"],
                              bronze_path=bronze, silver_path=silver, fetched_at=NOW)

    _, jobs = _count_jobs(spark, ingest)  # first write creates the zones
    assert jobs == 2
    _, jobs = _count_jobs(spark, ingest)  # appends to existing zones
    assert jobs == 2
    assert spark.read.parquet(silver).count() == 2 * 2 * 24

    env, jobs = _count_jobs(
        spark, lambda: refresh_cache(spark, zones["warehouse"], croot, "Stockton", now=NOW)
    )
    assert jobs == 1
    assert [r["month"] for r in env["data"]] == ["2024-01-01", "2024-02-01", "2024-03-01"]

    resp, jobs = _count_jobs(
        spark,
        lambda: serve_monthly(spark, zones["warehouse"], croot, "Fresno", now=NOW),
    )
    assert jobs == 1
    assert resp["cache_status"] == "miss"
    assert [r["month"] for r in resp["data"]] == ["2024-01-01", "2024-02-01", "2024-03-01"]

    resp, jobs = _count_jobs(
        spark,
        lambda: serve_monthly(spark, zones["warehouse"], croot, "Stockton", now=NOW),
    )
    assert jobs == 0 and resp["cache_status"] == "hit"


def test_arrow_bronze_frame_matches_row_built_frame(spark):
    """The Arrow-built one-row bronze frame carries the same row as the
    frame ``createDataFrame([Row], BRONZE_SCHEMA)`` builds — ``fetched_at``
    included — and pivots to the same silver rows, column order and null
    measures included."""
    from pyspark.sql import Row

    from weather_database_system_spark.pipeline.ingest import (
        bronze_from_payload,
        bronze_to_observations,
        enrich,
    )
    from weather_database_system_spark.pipeline.schemas import BRONZE_SCHEMA, HOURLY_VARS

    p = make_payload(2, n_days=3)
    h = p["hourly"]
    for v in HOURLY_VARS:  # every measure null in some hour
        h[v][5 + HOURLY_VARS.index(v)] = None
    h["temperature_2m"][0] = None
    fetched_at = dt.datetime(2024, 4, 1, 12, 34, 56, 789000)

    row_built = spark.createDataFrame(
        [
            Row(
                fetched_at=fetched_at,
                latitude=float(p["latitude"]),
                longitude=float(p["longitude"]),
                timezone=p["timezone"],
                hourly=Row(time=list(h["time"]), **{v: list(h[v]) for v in HOURLY_VARS}),
            )
        ],
        schema=BRONZE_SCHEMA,
    )
    arrow_built = bronze_from_payload(spark, p, fetched_at)
    assert arrow_built.rdd.getNumPartitions() == 1
    assert arrow_built.columns == row_built.columns
    assert arrow_built.collect() == row_built.collect()
    assert arrow_built.first()["fetched_at"] == fetched_at

    def silver(bronze):
        return enrich(
            bronze_to_observations(bronze), "Reno", "NV",
            source_timestamp="2024-04-01T12:34:56.789Z", etl_batch_id="etl-parity",
        )

    new, old = silver(arrow_built), silver(row_built)
    assert new.columns == old.columns
    new_rows, old_rows = new.collect(), old.collect()
    assert new_rows == old_rows
    assert len(new_rows) == 3 * 24
    assert any(r["temperatureC"] is None and r["temperatureF"] is None for r in new_rows)
    assert any(r["humidityPercent"] is None for r in new_rows)
    assert all(r["rainfallMm"] is not None and r["windGustMps"] is not None for r in new_rows)


def test_empty_monthly_agg_serves_a_miss_not_an_error(spark, tmp_path):
    """An existing but empty monthly_agg directory reads as an empty table
    under the declared schema: the fallback serves an empty miss envelope,
    not the error taxonomy (a MISSING path stays a 503 —
    test_serving_error_taxonomy), and diagnostics stop at the row-count
    warning instead of raising."""
    from weather_database_system_spark.pipeline.diagnostics import run_diagnostics
    from weather_database_system_spark.pipeline.serving import serve_monthly
    from weather_database_system_spark.pipeline.warehouse import monthly_path

    wh = str(tmp_path / "gold")
    os.makedirs(monthly_path(wh))
    resp = serve_monthly(spark, wh, str(tmp_path / "cache"), "Stockton", now=NOW)
    assert "error" not in resp and "status" not in resp
    assert (resp["source"], resp["cache_status"], resp["count"], resp["data"]) == (
        "warehouse", "miss", 0, [],
    )
    last = run_diagnostics(spark, wh)[-1]
    assert (last["step"], last["status"]) == ("row_count", "warning")


def test_snapshot_refresh_never_tears_concurrent_reads(spark, zones, tmp_path):
    """A snapshot replaced while 32 threads read it: every read parses and
    holds the full rows (the write goes to a temp file that os.replace
    swaps in), and no temp file is left behind."""
    import threading

    from weather_database_system_spark.pipeline.cache import read_snapshot, refresh_cache

    croot = str(tmp_path / "cache")
    months = ["2024-01-01", "2024-02-01", "2024-03-01"]
    refresh_cache(spark, zones["warehouse"], croot, "Stockton", now=NOW)

    done = threading.Event()
    reads, bad = [0] * 32, []

    def reader(i):
        while not done.is_set():
            env = read_snapshot(croot, "Stockton")
            reads[i] += 1
            if env is None or [r["month"] for r in env["data"]] != months:
                bad.append(env)

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(32)]
    for t in threads:
        t.start()
    try:
        for k in range(8):
            refresh_cache(spark, zones["warehouse"], croot, "Stockton",
                          now=NOW + dt.timedelta(seconds=k))
    finally:
        done.set()
        for t in threads:
            t.join(timeout=30)
    assert all(n > 0 for n in reads)
    assert bad == []
    assert os.listdir(croot) == ["monthly_stockton.json"]


def test_incremental_refresh_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite is a per-write option: the shared
    session's partitionOverwriteMode is never set, so a concurrent write
    on the same session cannot pick up 'dynamic'."""
    from weather_database_system_spark.pipeline.ingest import ingest_payload
    from weather_database_system_spark.pipeline.warehouse import (
        read_monthly,
        refresh_monthly_incremental,
        run_etl,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    silver, wh = str(tmp_path / "silver"), str(tmp_path / "gold")
    p = make_payload(0, n_days=40)
    ingest_payload(spark, p, city=p["_city"], state=p["_state"],
                   silver_path=silver, fetched_at=NOW)
    run_etl(spark, spark.read.parquet(silver), wh, load_time=NOW)

    before = spark.conf.get(key)
    conf_sets = []
    real_set = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda k, v: (conf_sets.append(k), real_set(k, v))
    )
    later = NOW + dt.timedelta(days=1)
    out = refresh_monthly_incremental(spark, wh, ["2024-02-01"], load_time=later)
    assert key not in conf_sets
    assert spark.conf.get(key) == before
    # the option still overwrote only February's partition
    loads = {r["month"]: r["warehouse_load_time"] for r in out.collect()}
    assert loads == {"2024-01-01": NOW, "2024-02-01": later}
    assert {r["month"] for r in read_monthly(spark, wh).collect()} == set(loads)
