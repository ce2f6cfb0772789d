"""Replay the driver's correctness gate locally: registry queries vs their
DuckDB oracles, compared by ``tests.oracle.compare`` (the function
tests/test_oracle_parity.py uses) on the driver's own vanilla session
(``local[*]``, 32 shuffle partitions, UI off). Prints one line per query
with its status and seconds, then a FAILURES line; exits 1 on any
mismatch, error or unknown name.

Usage:
    python tools/verify_replay.py                    # all 228 at sf0.01
    python tools/verify_replay.py dedup_clusters corpus_dedup_apply
    SPARK_GRAFT_DRIVER_MEM=8g python tools/verify_replay.py \\
        --sf /root/testdata/sf0.1 --start 0 --count 55

Names default to the whole registry. ``--start``/``--count`` slice the
sorted name list so long sweeps run in resumable chunks. The driver heap
is Spark's default unless SPARK_GRAFT_DRIVER_MEM is set, as sf0.1 sweeps
need.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="registry query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, default=None)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em
    from tests.oracle import compare, register_duck_views
    from weather_database_system_spark.session import release_persisted

    builder = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    )
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"]
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print("entry rows:", len(em.entry(spark).collect()), flush=True)
    con = duckdb.connect()
    register_duck_views(con, args.sf)
    queries, oracles = em.queries(), em.oracle_sql()

    names = args.names or sorted(queries)
    end = None if args.count is None else args.start + args.count
    fails = []
    for name in names[args.start : end]:
        t0 = time.perf_counter()
        try:
            compare(queries[name](spark, args.sf), con, oracles[name], name=name)
            status = "OK"
        except AssertionError as exc:
            status = f"MISMATCH {exc}"
        except Exception as exc:  # noqa: BLE001 — a sweep reports, not dies
            status = f"ERROR {type(exc).__name__}: {exc}"
        finally:
            # the engine's persisted-intermediate contract: the sweep owner
            # releases between queries, else 200+ queries' cached blocks
            # accumulate in the default driver heap (a full-registry replay
            # OOM'd at ~quarter depth without this)
            release_persisted()
        if status != "OK":
            fails.append(name)
        print(f"{name}: {status} ({time.perf_counter() - t0:.1f}s)", flush=True)
    print("FAILURES:", fails or "none", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
