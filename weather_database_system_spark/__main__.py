"""CLI entry point — shell parity with the reference's runnable surface.

The reference is operated via ``node fetchStocktonWeather.js`` (ingest),
``node etlToClickHouse.js`` (etlToClickHouse.js:178-185), the
``POST /api/sync-now`` refresh (backend/routes/cache.js:66-99), the
``GET /api/monthly-rainfall`` read (backend/routes/monthly.js:11-105) and
``GET /api/diagnostics`` (backend/routes/diagnostics.js). This module maps
each onto the engine's library calls:

    python -m weather_database_system_spark ingest --payload-json f.json \
        --city Stockton --state CA --bronze /tmp/bronze --silver /tmp/silver
    python -m weather_database_system_spark ingest-fleet \
        --stations-json stations.json --start-date 2024-01-01 \
        --end-date 2024-03-31 --payload-dir /tmp/payloads \
        --silver /tmp/silver_fleet     # station-keyed contract (extension)
    python -m weather_database_system_spark etl --silver /tmp/silver \
        --warehouse /tmp/dw
    python -m weather_database_system_spark refresh-cache --warehouse /tmp/dw \
        --cache /tmp/cache --city Stockton
    python -m weather_database_system_spark serve --warehouse /tmp/dw \
        --cache /tmp/cache --city Stockton
    python -m weather_database_system_spark diagnostics --warehouse /tmp/dw
    python -m weather_database_system_spark compact --src /tmp/silver_fleet \
        --dst /tmp/silver_fleet_compact --partition-col station_id
                                       # small-files maintenance (extension)

Every subcommand prints ONE JSON document to stdout (machine-consumable,
like the reference's route responses) and returns a conventional exit code
(diagnostics: 1 if any step errored — usable from cron/CI).
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any

# Safety floor for index-ops --sweep's age gate (ADVICE r16 #4): one hour
# — short enough that crashed half-builds reclaim same-day, long enough
# that no real per-generation build window fits under it twice.
SWEEP_AGE_FLOOR_S = 3600.0


def _spark(cpus: str | None):
    from weather_database_system_spark.session import get_spark

    return get_spark(app_name="wdss-cli", cpus=cpus)


def _cmd_ingest(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.ingest import (
        fetch_hourly_history,
        ingest_payload,
    )

    if args.payload_json:
        with open(args.payload_json, encoding="utf-8") as f:
            payload = json.load(f)
    else:
        payload = fetch_hourly_history(
            args.latitude, args.longitude, args.start_date, args.end_date
        )
    spark = _spark(args.cpus)
    silver = ingest_payload(
        spark,
        payload,
        city=args.city,
        state=args.state,
        bronze_path=args.bronze,
        silver_path=args.silver,
    )
    print(json.dumps({"status": "ok", "silver_rows": silver.count(),
                      "bronze": args.bronze, "silver": args.silver}))
    return 0


def _cmd_ingest_fleet(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from weather_database_system_spark.pipeline.ingest import (
        ingest_feed_stations,
    )

    with open(args.stations_json, encoding="utf-8") as f:
        stations = json.load(f)
    spark = _spark(args.cpus)
    silver = ingest_feed_stations(
        spark,
        stations,
        args.start_date,
        args.end_date,
        shard_days=args.shard_days,
        payload_dir=args.payload_dir,
        url=args.url,
        bronze_path=args.bronze,
        silver_path=args.silver,
    )
    per_station = {
        r["station_id"]: r["n"]
        for r in silver.groupBy("station_id").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "status": "ok",
                "stations": len(per_station),
                "silver_rows": sum(per_station.values()),
                "rows_per_station": per_station,
                "silver": args.silver,
            }
        )
    )
    return 0


def _cmd_etl(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.warehouse import run_etl

    spark = _spark(args.cpus)
    silver = spark.read.parquet(args.silver)
    monthly = run_etl(spark, silver, args.warehouse, author=args.author)
    print(json.dumps({"status": "ok", "monthly_rows": monthly.count(),
                      "warehouse": args.warehouse}))
    return 0


def _cmd_refresh_cache(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.cache import refresh_cache

    spark = _spark(args.cpus)
    envelope = refresh_cache(
        spark, args.warehouse, args.cache, args.city, ttl_sec=args.ttl_sec
    )
    print(json.dumps({"status": "ok", "rows_cached": len(envelope["data"]),
                      "metadata": envelope["metadata"]}))
    return 0


def _cmd_serve(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.serving import serve_monthly

    spark = _spark(args.cpus)
    response = serve_monthly(spark, args.warehouse, args.cache, args.city)
    print(json.dumps(response))
    return 0 if "error" not in response else 1


def _cmd_serve_http(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.httpserver import serve_http

    spark = _spark(args.cpus)
    serve_http(
        spark, args.warehouse, args.cache, host=args.host, port=args.port
    )  # blocks until Ctrl-C, like the reference's app.listen (server.js:60)
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.maintenance import (
        compact_partitioned,
    )

    spark = _spark(args.cpus)
    audit = compact_partitioned(
        spark,
        args.src,
        args.dst,
        args.partition_col,
        max_records_per_file=args.max_records_per_file,
    )
    print(json.dumps({"status": "ok", **audit, "src": args.src, "dst": args.dst}))
    return 0


def _cmd_diagnostics(args: argparse.Namespace) -> int:
    from weather_database_system_spark.pipeline.diagnostics import run_diagnostics

    spark = _spark(args.cpus)
    steps = run_diagnostics(spark, args.warehouse, sample_city=args.city)
    print(json.dumps({"steps": steps}))
    return 1 if any(s["status"] == "error" for s in steps) else 0


def _cmd_index_ops(args: argparse.Namespace) -> int:
    """Stored-index maintenance surface (r16): inventory every slot
    (kind, algo, appends, live generation, bytes) and optionally reclaim
    abandoned UNSTAMPED generations past the age gate — the cleanup half
    of promote's never-prune-unstamped rule (ADVICE r15 #1). Pure
    filesystem: no SparkSession is ever built, so a cron can run it on
    a box with no executors."""
    import os

    from weather_database_system_spark.indexstore import (
        index_catalog,
        sweep_stale_generations,
    )
    from weather_database_system_spark.session import scratch_root

    root = scratch_root(args.scratch)
    catalog = index_catalog(root)
    swept: dict[str, list[str]] = {}
    floored = False
    if args.sweep:
        # Floor the age gate (ADVICE r16 #4): sweeping at an age shorter
        # than a real build can run would reap in-flight builds; the
        # tree-mtime aging makes that unlikely, the floor makes a typo'd
        # --max-age-s 0 from a cron harmless. --force-age is the
        # deliberate-ops override (tests, post-mortem cleanup).
        max_age_s = args.max_age_s
        if max_age_s < SWEEP_AGE_FLOOR_S and not args.force_age:
            max_age_s, floored = SWEEP_AGE_FLOOR_S, True
        # Catalog rows include live=None slots (only-unstamped crashed
        # half-builds — ADVICE r16 #3), so the sweep sees exactly the
        # slots it exists to reclaim.
        for row in catalog:
            removed = sweep_stale_generations(
                os.path.join(root, row["slot"]), max_age_s=max_age_s
            )
            if removed:
                swept[row["slot"]] = removed
        # Re-inventory AFTER the sweep (ADVICE r17 #4): the printed
        # catalog must describe post-sweep state — a cron reading the
        # JSON would otherwise see n_generations / live=None rows for
        # slots the same document says were just reclaimed.
        catalog = index_catalog(root)
    bad = 0
    if args.check:
        from weather_database_system_spark.indexstore import (
            resolve_generation,
            verify_index_files,
        )

        for row in catalog:
            live = resolve_generation(os.path.join(root, row["slot"]))
            row["check"] = verify_index_files(live) if live else None
            if row["check"] and (
                row["check"]["n_corrupt"] or not row["check"]["n_files"]
            ):
                bad += 1
    print(
        json.dumps(
            {"scratch": root, "slots": catalog}
            | ({"swept": swept} if args.sweep else {})
            | ({"max_age_s_floored": SWEEP_AGE_FLOOR_S} if floored else {})
        )
    )
    return 1 if bad else 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m weather_database_system_spark",
        description=__doc__.split("\n", 1)[0],
    )
    p.add_argument("--cpus", default=None, help="local[<cpus>] for the session")
    sub = p.add_subparsers(dest="command", required=True)

    ing = sub.add_parser("ingest", help="API payload → bronze + silver zones")
    src = ing.add_mutually_exclusive_group(required=True)
    src.add_argument("--payload-json", help="offline payload file (API-shaped JSON)")
    src.add_argument("--latitude", type=float, help="fetch live from Open-Meteo")
    ing.add_argument("--longitude", type=float)
    ing.add_argument("--start-date")
    ing.add_argument("--end-date")
    ing.add_argument("--city", required=True)
    ing.add_argument("--state", required=True)
    ing.add_argument("--bronze", help="bronze zone path (optional)")
    ing.add_argument("--silver", required=True, help="silver zone path")
    ing.set_defaults(func=_cmd_ingest)

    fl = sub.add_parser(
        "ingest-fleet",
        help="multi-station feed → station-keyed silver (partitioned by "
        "station_id; the SILVER_STATION_SCHEMA contract)",
    )
    fl.add_argument(
        "--stations-json",
        required=True,
        help='JSON file: [{"latitude": .., "longitude": ..}, ...]',
    )
    fl.add_argument("--start-date", required=True)
    fl.add_argument("--end-date", required=True)
    fl.add_argument("--shard-days", type=int, default=30)
    fsrc = fl.add_mutually_exclusive_group(required=True)
    fsrc.add_argument("--payload-dir", help="offline fixture payload directory")
    fsrc.add_argument("--url", help="live archive endpoint")
    fl.add_argument("--bronze", help="bronze zone path (optional)")
    fl.add_argument("--silver", required=True, help="station-keyed silver path")
    fl.set_defaults(func=_cmd_ingest_fleet)

    etl = sub.add_parser("etl", help="silver → daily_weather → monthly_agg")
    etl.add_argument("--silver", required=True)
    etl.add_argument("--warehouse", required=True)
    etl.add_argument("--author", default="weather_database_system_spark")
    etl.set_defaults(func=_cmd_etl)

    rc = sub.add_parser("refresh-cache", help="rebuild a city's cache snapshot")
    rc.add_argument("--warehouse", required=True)
    rc.add_argument("--cache", required=True)
    rc.add_argument("--city", default="Stockton")
    rc.add_argument("--ttl-sec", type=int, default=3600)
    rc.set_defaults(func=_cmd_refresh_cache)

    sv = sub.add_parser("serve", help="cache-first monthly read (JSON envelope)")
    sv.add_argument("--warehouse", required=True)
    sv.add_argument("--cache", required=True)
    sv.add_argument("--city", default="Stockton")
    sv.set_defaults(func=_cmd_serve)

    sh = sub.add_parser(
        "serve-http", help="HTTP API with reference route parity (blocking)"
    )
    sh.add_argument("--warehouse", required=True)
    sh.add_argument("--cache", required=True)
    sh.add_argument("--host", default="127.0.0.1")
    sh.add_argument("--port", type=int, default=3000)
    sh.set_defaults(func=_cmd_serve_http)

    cp = sub.add_parser(
        "compact",
        help="small-files compaction for a partitioned dataset (the "
        "standing remedy for fetch-frequency file growth in the "
        "station-keyed silver sink; writes to a NEW root — swapping it "
        "live is the caller's atomic move)",
    )
    cp.add_argument("--src", required=True, help="partitioned parquet root to read")
    cp.add_argument("--dst", required=True, help="compacted root to write (new)")
    cp.add_argument(
        "--partition-col",
        action="append",
        required=True,
        help="partition column (repeat for multi-level layouts)",
    )
    cp.add_argument("--max-records-per-file", type=int, default=1_000_000)
    cp.set_defaults(func=_cmd_compact)

    dg = sub.add_parser("diagnostics", help="5-step staged self-probe")
    dg.add_argument("--warehouse", required=True)
    dg.add_argument("--city", default="Stockton")
    dg.set_defaults(func=_cmd_diagnostics)

    io_ = sub.add_parser(
        "index-ops",
        help="stored-index inventory (+ optional age-gated sweep of "
        "abandoned unstamped generations); pure filesystem, no Spark",
    )
    io_.add_argument(
        "--scratch", default=None, help="scratch root (default: WDSS_SCRATCH_DIR)"
    )
    io_.add_argument(
        "--sweep",
        action="store_true",
        help="reclaim unstamped generations older than --max-age-s",
    )
    io_.add_argument(
        "--max-age-s",
        type=float,
        default=24 * 3600,
        help=f"age gate for --sweep (floored at {SWEEP_AGE_FLOOR_S:.0f}s "
        "unless --force-age)",
    )
    io_.add_argument(
        "--force-age",
        action="store_true",
        help="allow --max-age-s below the safety floor (deliberate ops "
        "cleanup; a too-short age can reap an in-flight build)",
    )
    io_.add_argument(
        "--check",
        action="store_true",
        help="verify every live generation's parquet footers (pyarrow, "
        "no Spark); exit 1 if any slot is corrupt or empty",
    )
    io_.set_defaults(func=_cmd_index_ops)
    return p


def _validate(parser: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    """Conditional requirements argparse groups can't express: the live-fetch
    ingest path (--latitude) needs the full coordinate/date set — otherwise
    None values would reach fetch_hourly_history as a malformed API request
    instead of a usage error."""
    if args.command == "ingest" and args.payload_json is None:
        missing = [
            f"--{name.replace('_', '-')}"
            for name in ("longitude", "start_date", "end_date")
            if getattr(args, name) is None
        ]
        if missing:
            parser.error(
                "ingest with --latitude (live fetch) also requires "
                + ", ".join(missing)
            )


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    _validate(parser, args)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
