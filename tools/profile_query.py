#!/usr/bin/env python
"""Per-job / per-stage profile of registry queries (guide §1: measure first).

Runs each named query once warm (after ``bench.warm_up``) with the
Spark UI enabled, then reads the UI REST API (/api/v1) to attribute
wall-clock to the individual jobs a query submits — driver collects, persist
materializations, the final noop action — and per-stage executor time /
shuffle bytes. This is the measurement layer bench.py cannot give: bench
times the whole query; this tool says WHICH job inside it is slow.

Usage: python tools/profile_query.py semdedup_prune ann_product_quantization
       python tools/profile_query.py        # bench.QUICK, the 12 sentinels

Queries come from ``bench.production_queries`` (the raw production twins
bench.py times); the SF directory and core count are bench.py's
(SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). The UI port is
WDSS_PROFILE_UI_PORT (default 4049).

Output: JSON lines per query: total wall, per-job rows (desc, duration,
stages), per-stage (runtime, shuffle read/write, tasks).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

UI_PORT = int(os.environ.get("WDSS_PROFILE_UI_PORT", "4049"))


def _api(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read().decode())


def main() -> None:
    import bench
    from weather_database_system_spark.session import (
        get_spark,
        release_persisted,
    )

    spark = get_spark(
        app_name="wdss-profile",
        cpus=bench.CPUS,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = bench.production_queries()
    names = sys.argv[1:] or list(bench.QUICK)

    bench.warm_up(spark, queries)
    release_persisted()

    app_id = spark.sparkContext.applicationId
    out = []
    for name in names:
        fn = queries[name]
        # one cold pass so the profiled pass is the warm (headline) number
        t0 = time.perf_counter()
        bench.noop(fn(spark, bench.SF_DIR))
        cold = time.perf_counter() - t0
        release_persisted()
        jobs_before = {j["jobId"] for j in _api(f"applications/{app_id}/jobs")}
        t0 = time.perf_counter()
        bench.noop(fn(spark, bench.SF_DIR))
        warm = time.perf_counter() - t0
        release_persisted()
        jobs = [
            j
            for j in _api(f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        job_rows = []
        for j in jobs:
            sub = j.get("submissionTime", "")
            comp = j.get("completionTime", "")
            dur = None
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
                ).total_seconds()
            except Exception:
                pass
            job_rows.append(
                {
                    "job": j["jobId"],
                    "dur_s": round(dur, 3) if dur is not None else None,
                    "stages": j.get("stageIds", []),
                    "tasks": j.get("numTasks"),
                    "desc": (j.get("description") or j.get("name", ""))[:100],
                }
            )
        stages = _api(f"applications/{app_id}/stages?status=complete")
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stage_rows = [
            {
                "stage": s["stageId"],
                "run_ms": s.get("executorRunTime"),
                "cpu_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
                "tasks": s.get("numCompleteTasks"),
                "sh_read_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 2),
                "sh_write_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 2),
                "in_mb": round((s.get("inputBytes") or 0) / 1e6, 2),
                "name": s.get("name", "")[:60],
            }
            for s in stages
            if s["stageId"] in stage_ids
        ]
        stage_rows.sort(key=lambda r: -(r["run_ms"] or 0))
        rec = {
            "query": name,
            "cold_s": round(cold, 3),
            "warm_s": round(warm, 3),
            "n_jobs": len(jobs),
            "jobs": job_rows,
            "top_stages": stage_rows[:12],
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "PROFILE_LOCAL.json"), "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
