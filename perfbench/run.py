"""weatherlake benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``lake_queries``, ``pipeline_load``, ``serve_mixed`` (see
perfbench/DESIGN.md and the module of each). ``--seconds`` is the
serve_mixed traffic window; lake_queries and pipeline_load run a fixed
amount of work so that their sums stay comparable. Prints a detail line,
then, as the last line of stdout, ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics of an untraced run; with
``--trace 1`` the per-layer metrics of a traced run (the workload runs once
untraced and once traced in the same process, and ``overhead.*`` is
traced minus untraced).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import E2E_UNITS, emit, op_metrics, prepare_env  # noqa: E402

from perfbench.lake import MODULES as LAKE_MODULES  # noqa: E402

WORKLOADS = ("lake_queries", "pipeline_load", "serve_mixed")

# Every per-layer metric and its unit; a workload that does not exercise a
# layer reports it as 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.persisted_released": "count",
    "sources.star.load_table_s": "s",
    "sources.star.load_table_jobs": "count",
    **{
        f"{m}.{k}": u
        for m in LAKE_MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
                     ("exec_jobs", "count"), ("shuffle_bytes", "bytes"))
    },
    "pipeline.ingest.feed_s": "s",
    "pipeline.ingest.feed_jobs": "count",
    "pipeline.ingest.payload_s": "s",
    "pipeline.ingest.payload_jobs": "count",
    "pipeline.warehouse.load_daily_s": "s",
    "pipeline.warehouse.load_daily_jobs": "count",
    "pipeline.warehouse.build_monthly_s": "s",
    "pipeline.warehouse.refresh_incremental_s": "s",
    "pipeline.warehouse.files_written": "count",
    "pipeline.warehouse.bytes_written": "bytes",
    "pipeline.warehouse.read_monthly_ms": "ms",
    "pipeline.cache.refresh_ms": "ms",
    "pipeline.cache.refresh_jobs": "count",
    "pipeline.cache.read_snapshot_ms": "ms",
    "pipeline.cache.hit_ratio": "ratio",
    "pipeline.cache.torn_reads": "count",
    "pipeline.serving.hit_ms": "ms",
    "pipeline.serving.hit_jobs": "count",
    "pipeline.serving.fallback_ms": "ms",
    "pipeline.serving.fallback_jobs": "count",
    "pipeline.httpserver.self_ms": "ms",
    "pipeline.httpserver.error_envelopes": "count",
    "pipeline.httpserver.non2xx": "count",
    "loadgen.late_p99_ms": "ms",
    **{f"overhead.{k}": u for k, u in E2E_UNITS.items() if k != "setup_s"},
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its Spark JVM and server child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    prepare_env()
    # fail fast, before any work, when the program is not in the checkout
    import bench  # noqa: F401
    import weather_database_system_spark  # noqa: F401

    if args.workload == "lake_queries":
        from perfbench import lake as wl
    elif args.workload == "pipeline_load":
        from perfbench import pipeline as wl
    else:
        from perfbench import serve as wl

    res = wl.run(args.seed, args.seconds, bool(args.trace), T_START)
    e2e, detail = wl.summarize(res)
    tally = res["tally"]
    detail |= {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": len(os.sched_getaffinity(0)),
        "ops": len(wl.ops_ms(res["untraced"])),
        "failed_frac": tally.failed_frac,
        "failures": tally.reasons,
        "end_to_end": e2e,
        "gen_s": res["gen_s"],
        "check_s": res.get("check_s"),
        "stop_s": res.get("stop_s"),
        "wall_s": time.perf_counter() - T_START,
    }
    if args.trace:
        traced = op_metrics(res["setup_s"], wl.ops_ms(res["traced"]))
        layers = {k: (0.0, u) for k, u in PER_LAYER.items()}
        layers.update(res["layers"])
        for k in E2E_UNITS:
            if k != "setup_s":
                layers[f"overhead.{k}"] = (traced[k] - e2e[k], E2E_UNITS[k])
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        detail["traced_end_to_end"] = traced
        metrics = layers
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    emit(detail, tally, metrics)


if __name__ == "__main__":
    main()
