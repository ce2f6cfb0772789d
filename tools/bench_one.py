#!/usr/bin/env python
"""Isolated re-timing of individual registry queries under the EXACT bench
harness: bench.py's session settings, its production twins
(``bench.production_queries``) and its warm-up (``bench.warm_up``) — the
adjudication step the host-drift protocol prescribes when a full-bench
reading spikes.

Why this exists (r18 close): a quick triage that rebuilt a bare
``SparkSession.builder`` session read ``dedup_clusters_fast`` at 38-46 s
and nearly mis-adjudicated a one-run scheduling anomaly as a real
regression — the bare session lacks the bench harness config, and the
gap was a config artifact. Isolated re-runs are only comparable to the
BENCH series when they reuse the bench session; this tool pins that.

Usage:
    python tools/bench_one.py semdedup_prune dedup_clusters_fast
    python tools/bench_one.py --runs 5 ann_lsh_fixedpoint

The SF directory and core count are bench.py's (SPARK_GRAFT_SF_DIR,
default sf0.1; SPARK_GRAFT_CPUS, default 32).

Prints, per query: cold first run, all warm runs, and the warm median
(the number comparable to bench.py's per-query figure), bracketed by
``pricing_summary`` sentinel readings so the window quality is recorded
in the same output.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="headline query names to re-time")
    ap.add_argument("--runs", type=int, default=3, help="runs per query (first is cold)")
    args = ap.parse_args()

    import bench
    from weather_database_system_spark.session import get_spark, release_persisted

    spark = get_spark(
        app_name="wdss-bench-one",
        cpus=bench.CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = bench.production_queries()

    unknown = [n for n in args.names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    def run(name: str) -> float:
        t0 = time.perf_counter()
        bench.noop(queries[name](spark, bench.SF_DIR))
        release_persisted()
        return round(time.perf_counter() - t0, 3)

    bench.warm_up(spark, queries)
    release_persisted()

    print(f"sentinel pricing_summary: {[run('pricing_summary') for _ in range(2)]}")
    for name in args.names:
        runs = [run(name) for _ in range(max(2, args.runs))]
        warm = runs[1:]
        median = sorted(warm)[len(warm) // 2]
        print(f"{name}: cold {runs[0]} warm {warm} median {median}")
    print(f"sentinel pricing_summary: {[run('pricing_summary') for _ in range(2)]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
