"""Shared plumbing for the weatherlake benchmark: checkout paths, the Spark
session the workloads run on, summary statistics and the result line.

Everything a run writes lands under ``perfbench/.work/`` inside the checkout
(Spark local dirs, JVM and Python temp files, generated inputs, warehouses),
so a run reads and writes nothing outside the checkout except the read-only
star-schema test data named by ``bench.SF_DIR``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every temp/scratch location at the checkout's work dir and
    make the repo importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["WDSS_SCRATCH_DIR"] = os.path.join(WORK, "scratch")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(app: str, *, ui: bool = False, driver_mem: str | None = None):
    """The engine's own session builder (``session.get_spark``) on
    local[nproc], with the console progress bar off and every spill/temp
    location inside the checkout. ``ui=True`` enables the Spark UI on an
    ephemeral port so the traced run can read stage metrics over REST."""
    from weather_database_system_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if ui:
        conf |= {"spark.ui.enabled": "true", "spark.ui.port": "0"}
    if driver_mem:
        conf["spark.driver.memory"] = driver_mem
    spark = get_spark(app_name=app, cpus=str(cpus()), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort at exit
            proc.kill()
            proc.wait(timeout=10)


# --- statistics -------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule); 0.0 if empty."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_level(n: int, beyond: int = 10) -> float:
    """The highest percentile that leaves at least ``beyond`` of ``n``
    samples above it (1 - beyond/n), never below the median."""
    if n <= 0:
        return 0.5
    return max(0.5, 1.0 - beyond / n)


def geomean(values: list[float]) -> float:
    pos = [v for v in values if v > 0]
    if not pos:
        return 0.0
    return math.exp(sum(math.log(v) for v in pos) / len(pos))


class Tally:
    """Attempted/failed operation counts, with the first few failure
    reasons kept for the run's detail line."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(reason)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# --- the result line ----------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "work_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "op_geomean_ms": "ms",
}

TAIL_CAP = 0.9


def op_metrics(setup_s: float, op_ms: list[float]) -> dict[str, float]:
    """The end-to-end metrics every workload reports, from its set-up time
    and the latency of each timed operation. The tail is the highest
    percentile with ten samples beyond it, capped at p90 so that it rests
    on enough samples to repeat from run to run."""
    return {
        "setup_s": setup_s,
        "work_s": sum(op_ms) / 1000.0,
        "op_p50_ms": median(op_ms),
        "op_tail_ms": quantile(op_ms, min(TAIL_CAP, tail_level(len(op_ms)))),
        "op_geomean_ms": geomean(op_ms),
    }


def emit(detail: dict, tally: Tally, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the human-readable detail line, then the one-line result
    (always the last line of stdout)."""
    print(json.dumps({"detail": detail}, default=str), flush=True)
    out = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(out), flush=True)


def now() -> float:
    return time.perf_counter()
