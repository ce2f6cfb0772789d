"""CLI smoke tests: every subcommand drives the same flow a reference user
runs via ``node fetchStocktonWeather.js`` → ``node etlToClickHouse.js`` →
``POST /api/sync-now`` → ``GET /api/monthly-rainfall`` → diagnostics.

Runs main() in-process (getOrCreate reuses the test session — a subprocess
would pay a fresh JVM per subcommand for no extra coverage).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.fixtures_weather import make_payload


def _run(capsys, argv: list[str]) -> tuple[int, dict]:
    from weather_database_system_spark.__main__ import main

    code = main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return code, json.loads(out)


def test_cli_full_flow(spark, tmp_path, capsys):
    payload_file = tmp_path / "payload.json"
    payload_file.write_text(json.dumps(make_payload(0, n_days=40)))
    silver = str(tmp_path / "silver")
    warehouse = str(tmp_path / "dw")
    cache = str(tmp_path / "cache")

    code, out = _run(capsys, [
        "ingest", "--payload-json", str(payload_file),
        "--city", "Stockton", "--state", "CA", "--silver", silver,
    ])
    assert code == 0 and out["status"] == "ok"
    assert out["silver_rows"] == 40 * 24

    code, out = _run(capsys, ["etl", "--silver", silver, "--warehouse", warehouse])
    assert code == 0 and out["status"] == "ok"
    assert out["monthly_rows"] == 2  # 40 days spans Jan+Feb

    code, out = _run(capsys, [
        "refresh-cache", "--warehouse", warehouse, "--cache", cache,
        "--city", "Stockton",
    ])
    assert code == 0 and out["rows_cached"] == 2

    code, out = _run(capsys, [
        "serve", "--warehouse", warehouse, "--cache", cache, "--city", "Stockton",
    ])
    assert code == 0
    assert out["source"] == "cache" and out["count"] == 2
    assert {r["month"] for r in out["data"]} == {"2024-01-01", "2024-02-01"}

    code, out = _run(capsys, ["diagnostics", "--warehouse", warehouse])
    assert code == 0
    assert [s["status"] for s in out["steps"]] == ["success"] * 5


def test_cli_diagnostics_fails_on_missing_warehouse(spark, tmp_path, capsys):
    code, out = _run(capsys, ["diagnostics", "--warehouse", str(tmp_path / "nope")])
    assert code == 1
    statuses = {s["step"]: s["status"] for s in out["steps"]}
    assert statuses["database_exists"] == "error"
    assert "remediation" in out["steps"][-1]


def test_cli_serve_miss_then_warehouse_fallback(spark, tmp_path, capsys):
    """serve with no cache snapshot must fall back to the warehouse and
    label the response out-of-sync — monthly.js:98-105 behavior."""
    payload_file = tmp_path / "payload.json"
    payload_file.write_text(json.dumps(make_payload(1, n_days=10)))
    silver = str(tmp_path / "silver")
    warehouse = str(tmp_path / "dw")

    _run(capsys, [
        "ingest", "--payload-json", str(payload_file),
        "--city", "Fresno", "--state", "CA", "--silver", silver,
    ])
    _run(capsys, ["etl", "--silver", silver, "--warehouse", warehouse])

    code, out = _run(capsys, [
        "serve", "--warehouse", warehouse, "--cache", str(tmp_path / "cache"),
        "--city", "Fresno",
    ])
    assert code == 0
    assert out["source"] == "warehouse"
    assert out["cache_status"] == "miss"
    assert out["sync_status"] == "out-of-sync"
    assert out["count"] == 1


def test_cli_ingest_fleet_writes_station_keyed_silver(spark, tmp_path, capsys):
    """ingest-fleet drives the multi-station path end to end from the
    shell: offline fixture payloads in, station_id-partitioned silver out,
    per-station row counts in the JSON report."""
    from weather_database_system_spark.sources.observation_feed import (
        write_feed_fixtures,
    )

    stations = [
        {"latitude": 37.0, "longitude": -121.0},
        {"latitude": 40.0, "longitude": -120.0},
    ]
    fx = tmp_path / "payloads"
    fx.mkdir()
    write_feed_fixtures(str(fx), stations, "2024-03-01", "2024-03-02", 1)
    stations_file = tmp_path / "stations.json"
    stations_file.write_text(json.dumps(stations))
    silver = str(tmp_path / "silver")

    code, out = _run(capsys, [
        "ingest-fleet", "--stations-json", str(stations_file),
        "--start-date", "2024-03-01", "--end-date", "2024-03-02",
        "--shard-days", "1", "--payload-dir", str(fx), "--silver", silver,
    ])
    assert code == 0 and out["status"] == "ok"
    assert out["stations"] == 2 and out["silver_rows"] == 2 * 2 * 24
    assert out["rows_per_station"] == {
        "st_37.0000_-121.0000": 48,
        "st_40.0000_-120.0000": 48,
    }
    assert {d for d in os.listdir(silver) if d.startswith("station_id=")} == {
        "station_id=st_37.0000_-121.0000",
        "station_id=st_40.0000_-120.0000",
    }


def test_cli_ingest_live_fetch_requires_full_coordinates(tmp_path):
    """--latitude without --longitude/--start-date/--end-date must be a usage
    error (argparse exit 2), not None values reaching the HTTP fetcher."""
    import pytest

    from weather_database_system_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(
            [
                "ingest", "--latitude", "37.95", "--city", "Stockton",
                "--state", "CA", "--silver", str(tmp_path / "silver"),
            ]
        )
    assert exc.value.code == 2


def test_cli_compact_collapses_station_partitions(spark, tmp_path, capsys):
    """The compact subcommand operationalizes the standing small-files
    remedy (pipeline/maintenance.py): a fragmented station-keyed dataset
    in, one file per partition out (below the max-records cap), row
    counts preserved and reported in the JSON audit."""
    import glob

    from pyspark.sql import functions as F

    src = str(tmp_path / "frag")
    df = spark.range(200).select(
        (F.col("id") % 4).cast("string").alias("station_id"),
        F.col("id").alias("v"),
    )
    for _ in range(3):  # three appends → 3× the files (and rows: 600)
        df.repartition(4).write.mode("append").partitionBy(
            "station_id"
        ).parquet(src)
    files_before = len(glob.glob(os.path.join(src, "*", "*.parquet")))
    assert files_before > 4  # genuinely fragmented

    dst = str(tmp_path / "compacted")
    code, out = _run(capsys, [
        "compact", "--src", src, "--dst", dst,
        "--partition-col", "station_id",
    ])
    assert code == 0 and out["status"] == "ok"
    assert out["rows"] == 600
    assert out["files_before"] == files_before
    assert out["files_after"] == 4  # the per-partition floor
    assert spark.read.parquet(dst).count() == 600


def test_cli_index_ops_inventory_and_sweep(tmp_path, capsys):
    """The stored-index maintenance CLI (r16): inventories slots from a
    hermetic scratch root WITHOUT building a SparkSession, and --sweep
    reclaims only age-expired UNSTAMPED generations — the cleanup half
    of promote's never-prune-unstamped rule (ADVICE r15 #1)."""
    import json as _json
    import os

    from weather_database_system_spark.indexstore import (
        INDEX_MANIFEST,
        write_index_marker,
    )

    scratch = tmp_path / "scratch"
    slot = scratch / "trigram_postings_test"
    live = slot / "gen-0001"
    os.makedirs(live)
    write_index_marker(str(live), {"kind": "trigram_postings", "algo": 2})
    (slot / INDEX_MANIFEST).write_text(_json.dumps({"generation": "gen-0001"}))
    crash = slot / "gen-0002"  # unstamped: an abandoned half-build
    os.makedirs(crash)
    (scratch / "not_an_index").mkdir()  # must NOT be listed

    code, out = _run(capsys, ["index-ops", "--scratch", str(scratch)])
    assert code == 0
    assert [s["slot"] for s in out["slots"]] == ["trigram_postings_test"]
    row = out["slots"][0]
    assert row["kind"] == "trigram_postings" and row["algo"] == 2
    assert row["live_generation"] == "gen-0001"
    assert "swept" not in out

    # young unstamped generation survives the default age gate ...
    code, out = _run(capsys, ["index-ops", "--scratch", str(scratch), "--sweep"])
    assert code == 0 and out["swept"] == {}
    assert crash.is_dir()
    # ... a too-short --max-age-s is FLOORED unless --force-age (ADVICE
    # r16 #4: a typo'd cron age must not reap an in-flight build) ...
    code, out = _run(capsys, [
        "index-ops", "--scratch", str(scratch), "--sweep", "--max-age-s", "0",
    ])
    assert code == 0 and out["swept"] == {} and out["max_age_s_floored"] == 3600
    assert crash.is_dir()
    # ... and is reclaimed once past the (deliberately forced) gate;
    # live + stamped stay untouched
    code, out = _run(capsys, [
        "index-ops", "--scratch", str(scratch), "--sweep",
        "--max-age-s", "0", "--force-age",
    ])
    assert code == 0
    assert out["swept"] == {"trigram_postings_test": ["gen-0002"]}
    assert not crash.is_dir() and live.is_dir()

    # a slot holding ONLY unstamped generations (crashed before its first
    # promote) is SURFACED with live_generation None and is sweepable —
    # previously it was invisible to both (ADVICE r16 #3)
    orphan = scratch / "half_built_index"
    os.makedirs(orphan / "gen-0001")
    code, out = _run(capsys, ["index-ops", "--scratch", str(scratch)])
    assert code == 0
    by_slot = {s["slot"]: s for s in out["slots"]}
    assert by_slot["half_built_index"]["live_generation"] is None
    assert by_slot["half_built_index"]["n_generations"] == 1
    # uniform row schema (r18): the crashed-slot branch carries the same
    # fence key as live rows, so row["fence"] never KeyErrors in a cron
    assert by_slot["half_built_index"]["fence"] == 0
    code, out = _run(capsys, [
        "index-ops", "--scratch", str(scratch), "--sweep",
        "--max-age-s", "0", "--force-age",
    ])
    assert code == 0
    assert out["swept"]["half_built_index"] == ["gen-0001"]
    assert not (orphan / "gen-0001").is_dir()
    # the printed inventory reflects POST-sweep state (ADVICE r17 #4): a
    # cron reading this document must not see live=None rows for slots
    # the same document says were just reclaimed
    assert "half_built_index" not in {s["slot"] for s in out["slots"]}

    # --check reads every parquet FOOTER (pyarrow, still no Spark): a
    # marker certifies the build happened, the footer walk certifies the
    # bytes are still all there — a torn/truncated file (the footer is
    # written last) flips the exit code for the cron
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": [1, 2], "tri": ["abc", "bcd"]}),
        str(live / "part-0.parquet"),
    )
    code, out = _run(capsys, ["index-ops", "--scratch", str(scratch), "--check"])
    assert code == 0
    chk = out["slots"][0]["check"]
    assert chk["n_files"] == 1 and chk["n_corrupt"] == 0

    (live / "part-1.parquet").write_bytes(b"PAR1 torn, no footer")
    code, out = _run(capsys, ["index-ops", "--scratch", str(scratch), "--check"])
    assert code == 1
    chk = out["slots"][0]["check"]
    assert chk["n_files"] == 2 and chk["n_corrupt"] == 1
    assert chk["corrupt"] == ["part-1.parquet"]
