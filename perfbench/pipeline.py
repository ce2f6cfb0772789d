"""``pipeline_load``: the write side of the product path.

Backfill (one operation): for each city, ``ingest_feed`` reads a year of
seeded payload shard files through the partitioned Python DataSource into
the bronze and silver zones; then ``silver_to_daily`` + ``load_daily`` move
the silver zone into ``daily_weather``, ``build_monthly_agg`` rebuilds
``monthly_agg`` and ``refresh_cache`` writes every city's snapshot.

Increments (one operation per round): the next day's payload of every
city goes through ``ingest_payload``, then ``load_daily`` (dedup on),
``refresh_monthly_incremental`` and ``refresh_cache`` for every city.
"""

from __future__ import annotations

import datetime as dt
import os
from functools import reduce

from perfbench import checks, gen
from perfbench.common import Tally, WORK, fresh_dir, median, now, op_metrics, start_spark, stop_spark

N_CITIES = 4
START = "2024-01-01"
BACKFILL_DAYS = 365
SHARD_DAYS = 92
ROUNDS = 2
LOAD_TIME = dt.datetime(2025, 2, 1, 0, 0, 0)
FETCHED_AT = dt.datetime(2025, 1, 10, 0, 0, 0)


def make_inputs(seed: int, shard_root: str) -> dict:
    cs = gen.cities(seed, N_CITIES)
    backfill = {}
    for c in cs:
        backfill[c["city"]] = gen.write_shards(
            os.path.join(shard_root, c["city"]), seed, c, START, BACKFILL_DAYS, SHARD_DAYS
        )
    first_inc = dt.date.fromisoformat(START) + dt.timedelta(days=BACKFILL_DAYS)
    increments = [
        {c["city"]: gen.payload(seed, c, (first_inc + dt.timedelta(days=r)).isoformat(), 1, "inc") for c in cs}
        for r in range(ROUNDS)
    ]
    return {"cities": cs, "backfill": backfill, "increments": increments}


def _fetched_at(rnd: int, city_idx: int) -> dt.datetime:
    # distinct per (round, city) so every fetch gets its own etl_batch_id
    return FETCHED_AT + dt.timedelta(hours=rnd + 1, seconds=city_idx)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _install_tracing(patches) -> None:
    from weather_database_system_spark.pipeline import cache, ingest, warehouse

    patches.patch(ingest, "ingest_feed", "pipeline.ingest.feed")
    patches.patch(ingest, "ingest_payload", "pipeline.ingest.payload")
    patches.patch(warehouse, "load_daily", "pipeline.warehouse.load_daily")
    patches.patch(warehouse, "build_monthly_agg", "pipeline.warehouse.build_monthly")
    patches.patch(warehouse, "refresh_monthly_incremental", "pipeline.warehouse.refresh_incremental")
    patches.patch(warehouse, "read_monthly", "pipeline.warehouse.read_monthly")
    patches.patch(cache, "refresh_cache", "pipeline.cache.refresh")


def _load(spark, inputs: dict, root: str) -> dict:
    """The timed work: backfill, then the increments. Returns op timings."""
    from weather_database_system_spark.pipeline import cache, ingest, warehouse
    from weather_database_system_spark.pipeline.schemas import SILVER_SCHEMA

    bronze, silver = os.path.join(root, "bronze"), os.path.join(root, "silver")
    wh, cache_root = os.path.join(root, "warehouse"), os.path.join(root, "cache")
    shard_root = os.path.join(WORK, "inputs", "pipeline_shards")
    end = (dt.date.fromisoformat(START) + dt.timedelta(days=BACKFILL_DAYS - 1)).isoformat()

    t0 = now()
    for i, c in enumerate(inputs["cities"]):
        ingest.ingest_feed(
            spark,
            [{"latitude": c["latitude"], "longitude": c["longitude"]}],
            START,
            end,
            city=c["city"],
            state=c["state"],
            shard_days=SHARD_DAYS,
            payload_dir=os.path.join(shard_root, c["city"]),
            bronze_path=bronze,
            silver_path=silver,
            fetched_at=_fetched_at(-1, i),
        )
    daily = warehouse.silver_to_daily(spark.read.schema(SILVER_SCHEMA).parquet(silver), load_time=LOAD_TIME)
    warehouse.load_daily(daily, wh, dedup=True)
    warehouse.build_monthly_agg(spark, wh, load_time=LOAD_TIME)
    for c in inputs["cities"]:
        cache.refresh_cache(spark, wh, cache_root, c["city"])
    backfill_s = now() - t0

    rounds = []
    for r, payloads in enumerate(inputs["increments"]):
        a = now()
        silvers = [
            ingest.ingest_payload(
                spark, payloads[c["city"]], city=c["city"], state=c["state"],
                bronze_path=bronze, silver_path=silver, fetched_at=_fetched_at(r, i),
            )
            for i, c in enumerate(inputs["cities"])
        ]
        day = reduce(lambda x, y: x.unionByName(y), silvers)
        warehouse.load_daily(warehouse.silver_to_daily(day, load_time=LOAD_TIME), wh, dedup=True)
        month = payloads[inputs["cities"][0]["city"]]["hourly"]["time"][0][:7] + "-01"
        warehouse.refresh_monthly_incremental(spark, wh, [month], load_time=LOAD_TIME)
        for c in inputs["cities"]:
            cache.refresh_cache(spark, wh, cache_root, c["city"])
        rounds.append(now() - a)
    return {"backfill_s": backfill_s, "rounds": rounds, "root": root}


def _check(spark, inputs: dict, out: dict, tally: Tally) -> dict:
    """Outside the timed region: stored bytes, the monthly aggregate, an
    idempotent replay and every snapshot."""
    from weather_database_system_spark.pipeline import cache, ingest, warehouse

    root = out["root"]
    wh, cache_root = os.path.join(root, "warehouse"), os.path.join(root, "cache")
    hours = sum(len(p["hourly"]["time"]) for ps in inputs["backfill"].values() for p in ps)
    hours += sum(len(p["hourly"]["time"]) for rnd in inputs["increments"] for p in rnd.values())
    zones = {z: _dir_bytes(os.path.join(root, z)) for z in ("bronze", "silver", "warehouse")}
    stored = sum(b for _, b in zones.values())

    payloads = {c: list(ps) for c, ps in inputs["backfill"].items()}
    for rnd in inputs["increments"]:
        for c, p in rnd.items():
            payloads[c].append(p)
    want = checks.expected_monthly(payloads)

    got = [r.asDict() for r in warehouse.read_monthly(spark, wh).collect()]
    ok, why = checks.rows_match(got, list(want.values()))
    tally.record(ok, f"monthly_agg: {why}")

    before = spark.read.parquet(warehouse.daily_path(wh)).count()
    c0 = inputs["cities"][0]
    replay = ingest.ingest_payload(
        spark, inputs["increments"][0][c0["city"]], city=c0["city"], state=c0["state"],
        fetched_at=_fetched_at(0, 0),
    )
    warehouse.load_daily(warehouse.silver_to_daily(replay, load_time=LOAD_TIME), wh, dedup=True)
    after = spark.read.parquet(warehouse.daily_path(wh)).count()
    tally.record(before == after and before == hours, f"replay: daily rows {before} -> {after}, want {hours}")

    for c in inputs["cities"]:
        env = cache.read_snapshot(cache_root, c["city"])
        mine = [r for r in want.values() if r["city"] == c["city"]]
        if env is None:
            tally.record(False, f"snapshot {c['city']}: missing")
            continue
        ok, why = checks.rows_match(env["data"], mine)
        months = [r["month"] for r in env["data"]]
        ok = ok and months == sorted(months)
        tally.record(ok, f"snapshot {c['city']}: {why or 'not ordered by month'}")
    return {
        "stored_bytes_per_row": stored / hours,
        "hours": hours,
        "zone_files_bytes": zones,
    }


def _layer_metrics(tracer, session_start_s: float, gold: tuple[int, int]) -> dict:
    from perfbench.trace import SpanIndex

    ix = SpanIndex(tracer.spans)
    return {
        "session.start_s": (session_start_s, "s"),
        "pipeline.ingest.feed_s": (ix.total_s("pipeline.ingest.feed"), "s"),
        "pipeline.ingest.feed_jobs": (ix.jobs("pipeline.ingest.feed"), "count"),
        "pipeline.ingest.payload_s": (ix.total_s("pipeline.ingest.payload"), "s"),
        "pipeline.ingest.payload_jobs": (ix.jobs("pipeline.ingest.payload"), "count"),
        "pipeline.warehouse.load_daily_s": (ix.total_s("pipeline.warehouse.load_daily"), "s"),
        "pipeline.warehouse.load_daily_jobs": (ix.jobs("pipeline.warehouse.load_daily"), "count"),
        "pipeline.warehouse.build_monthly_s": (ix.total_s("pipeline.warehouse.build_monthly"), "s"),
        "pipeline.warehouse.refresh_incremental_s": (
            ix.total_s("pipeline.warehouse.refresh_incremental"), "s"),
        "pipeline.warehouse.files_written": (float(gold[0]), "count"),
        "pipeline.warehouse.bytes_written": (float(gold[1]), "bytes"),
        "pipeline.warehouse.read_monthly_ms": (ix.median_ms("pipeline.warehouse.read_monthly"), "ms"),
        "pipeline.cache.refresh_ms": (ix.median_ms("pipeline.cache.refresh"), "ms"),
        "pipeline.cache.refresh_jobs": (ix.jobs_per_call("pipeline.cache.refresh"), "count"),
    }


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    from perfbench.trace import Patches, Tracer

    g0 = now()
    fresh_dir("inputs", "pipeline_shards")
    inputs = make_inputs(seed, os.path.join(WORK, "inputs", "pipeline_shards"))
    gen_s = now() - g0

    s0 = now()
    spark = start_spark("perfbench-pipeline", driver_mem="2g")
    session_start_s = now() - s0
    result: dict = {}
    try:
        from weather_database_system_spark.pipeline.ingest import register_observation_feed

        register_observation_feed(spark)
        spark.range(2).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
        setup_s = now() - t_start - gen_s

        tally = Tally()
        result |= {"setup_s": setup_s, "gen_s": gen_s, "tally": tally}
        if trace:
            # traced phase first: it is the colder one, so the overhead
            # reported is an upper bound
            tracer = Tracer(spark.sparkContext)
            patches = Patches(tracer)
            _install_tracing(patches)
            patches.on = True
            try:
                result["traced"] = _load(spark, inputs, fresh_dir("pipeline", "traced"))
            finally:
                patches.undo()
            tally.attempted += 1 + len(result["traced"]["rounds"])
            _check(spark, inputs, result["traced"], tally)
            gold = _dir_bytes(os.path.join(result["traced"]["root"], "warehouse"))
            result["layers"] = _layer_metrics(tracer, session_start_s, gold)
            tracer.dump(os.path.join(WORK, "spans_pipeline_load.jsonl"))
        result["untraced"] = _load(spark, inputs, fresh_dir("pipeline", "untraced"))
        tally.attempted += 1 + len(result["untraced"]["rounds"])
        c0 = now()
        result["check"] = _check(spark, inputs, result["untraced"], tally)
        result["check_s"] = now() - c0
    finally:
        t_stop = now()
        stop_spark(spark)
        result["stop_s"] = now() - t_stop
    return result


def ops_ms(p: dict) -> list[float]:
    return [p["backfill_s"] * 1000.0] + [t * 1000.0 for t in p["rounds"]]


def summarize(res: dict) -> tuple[dict, dict]:
    u = res["untraced"]
    e2e = op_metrics(res["setup_s"], ops_ms(u))
    detail = {
        "backfill_s": u["backfill_s"],
        "increment_p50_s": median(u["rounds"]),
        "stored_bytes_per_row": res["check"]["stored_bytes_per_row"],
        "hourly_rows": res["check"]["hours"],
        "zone_files_bytes": res["check"]["zone_files_bytes"],
        "increment_s": u["rounds"],
    }
    return e2e, detail
