"""``serve_mixed``: dashboard traffic against the HTTP API, open loop.

The target is a child process (``perfbench/server.py``) serving
``pipeline.httpserver.make_server`` over a warehouse of SERVE_CITIES cities
x SERVE_DAYS days built during set-up. City popularity is a seeded Zipf
ranking; the least popular cities have an expired or no snapshot, so their
reads take the Spark fallback. Reads are sent at a constant RATE per
second in a seeded city order, and every SYNC_EVERY seconds a
``POST /api/sync-now`` on a popular city rewrites its snapshot while
readers hit it. Each response is checked against the pure-Python monthly
aggregate of the payloads.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

from perfbench import checks, gen, loadgen
from perfbench.common import BENCH_DIR, Tally, WORK, fresh_dir, median, now, op_metrics, quantile, tail_level

SERVE_CITIES = 16
SERVE_START = "2024-01-01"
SERVE_DAYS = 366
ZIPF_S = 1.0
N_EXPIRED = 3
N_MISSING = 3
RATE = 30.0
SYNC_EVERY = 1.0
LOAD_TIME = dt.datetime(2025, 1, 2, 0, 0, 0)
FETCHED_AT = dt.datetime(2025, 1, 1, 0, 0, 0)
READY_TIMEOUT_S = 150


def make_inputs(seed: int, seconds: float, work: str) -> dict:
    cs = gen.cities(seed, SERVE_CITIES)
    payloads = {c["city"]: gen.payload(seed, c, SERVE_START, SERVE_DAYS) for c in cs}
    path = os.path.join(work, "payloads.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payloads, fh)
    mix = gen.city_mix(seed, [c["city"] for c in cs], ZIPF_S, N_EXPIRED, N_MISSING)
    lt = checks.load_time_str(LOAD_TIME)
    want: dict[str, list[dict]] = {}
    for row in sorted(checks.expected_monthly({k: [v] for k, v in payloads.items()}).values(),
                      key=lambda r: r["month"]):
        want.setdefault(row["city"], []).append({**row, "warehouse_load_time": lt})
    return {
        "cities": cs,
        "payloads": path,
        "mix": mix,
        "want": want,
        "schedule": gen.schedule(seed, mix, RATE, seconds, SYNC_EVERY),
    }


class Server:
    """The child server process; always stopped and waited for."""

    def __init__(self, cfg_path: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "server.py"), cfg_path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"server exited with {self.proc.wait()}")
            if line.startswith("{"):
                return json.loads(line)

    def command(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read()

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            self.proc.kill()
            self.proc.wait(timeout=30)


def wait_ready(server: Server) -> dict:
    import select

    r, _, _ = select.select([server.proc.stdout], [], [], READY_TIMEOUT_S)
    if not r:
        raise RuntimeError("server did not become ready")
    return server.read()


def backlog(res: list[dict]) -> dict:
    """Whether the server kept up with the offered load: requests in
    flight when each read was due, averaged over the first and the last
    third of the window, and how long the last response came after the
    last request was due. A backlog that grows shows as a last third well
    above the first and a drain that grows with the window."""
    spans = sorted((r["due"], r["due"] + r["latency_ms"] / 1000.0) for r in res)
    dues = [a for a, _ in spans]
    inflight = [sum(1 for a, b in spans if a <= t < b) for t in dues]
    k = max(1, len(dues) // 3)
    return {
        "inflight_first": sum(inflight[:k]) / k,
        "inflight_last": sum(inflight[-k:]) / k,
        "drain_ms": (max(b for _, b in spans) - dues[-1]) * 1000.0,
    }


def play_window(port: int, inputs: dict, tally: Tally, sched: list[dict] | None = None) -> dict:
    res = loadgen.run(port, sched or inputs["schedule"])
    state = inputs["mix"]["state"]
    hits, fallbacks, syncs, late = [], [], [], []
    torn = fresh_reqs = fresh_hits = non2xx = errors = 0
    for r in res:
        late.append(r["late_ms"])
        if r["status"] != 200:
            non2xx += 1
        if r["kind"] == "sync":
            ok, why = checks.check_sync(r["status"], r["body"], len(inputs["want"][r["city"]]))
            tally.record(ok, f"sync {r['city']}: {why or r['error']}")
            if ok:
                syncs.append(r["latency_ms"])
            continue
        st = state[r["city"]]
        ok, why, outcome = checks.check_envelope(r["status"], r["body"], st, inputs["want"][r["city"]])
        tally.record(ok, f"get {r['city']} ({st}): {why or r['error']}")
        errors += outcome == "error"
        if not ok:
            continue
        if st == "fresh":
            fresh_reqs += 1
            fresh_hits += outcome == "hit"
            torn += outcome != "hit"
            hits.append(r["latency_ms"])
        else:
            fallbacks.append(r["latency_ms"])
    return {
        "ops_ms": hits + fallbacks + syncs,
        "hit_ms": hits,
        "fallback_ms": fallbacks,
        "sync_ms": syncs,
        "late_ms": late,
        "hit_ratio": fresh_hits / fresh_reqs if fresh_reqs else 0.0,
        "torn_reads": torn,
        "non2xx": non2xx,
        "error_envelopes": errors,
        "backlog": backlog(res),
    }


def _layer_metrics(spans: list[dict], ready: dict, win: dict) -> dict:
    from perfbench.trace import SpanIndex, self_times

    ix = SpanIndex(spans + ready["setup_spans"])
    setup = SpanIndex(ready["setup_spans"])
    window = SpanIndex(spans)
    selft = self_times(spans)
    serve = window.named("pipeline.serving.serve_monthly")
    hit = [s for s in serve if s["attrs"].get("cache_status") == "hit"]
    fb = [s for s in serve if s["attrs"].get("cache_status") != "hit"]

    def ms(ss):
        return median([(s["end"] - s["start"]) * 1000.0 for s in ss])

    def jobs(ss):
        return float(sum(len(ix.incl[s["id"]]) for s in ss))

    return {
        "session.start_s": (ready["session_start_s"], "s"),
        "pipeline.ingest.payload_s": (setup.total_s("pipeline.ingest.payload"), "s"),
        "pipeline.ingest.payload_jobs": (setup.jobs("pipeline.ingest.payload"), "count"),
        "pipeline.warehouse.load_daily_s": (setup.total_s("pipeline.warehouse.load_daily"), "s"),
        "pipeline.warehouse.load_daily_jobs": (setup.jobs("pipeline.warehouse.load_daily"), "count"),
        "pipeline.warehouse.build_monthly_s": (setup.total_s("pipeline.warehouse.build_monthly"), "s"),
        "pipeline.warehouse.read_monthly_ms": (window.median_ms("pipeline.warehouse.read_monthly"), "ms"),
        "pipeline.cache.refresh_ms": (window.median_ms("pipeline.cache.refresh"), "ms"),
        "pipeline.cache.refresh_jobs": (window.jobs_per_call("pipeline.cache.refresh"), "count"),
        "pipeline.cache.read_snapshot_ms": (window.median_ms("pipeline.cache.read_snapshot"), "ms"),
        "pipeline.cache.hit_ratio": (win["hit_ratio"], "ratio"),
        "pipeline.cache.torn_reads": (float(win["torn_reads"]), "count"),
        "pipeline.serving.hit_ms": (ms(hit), "ms"),
        "pipeline.serving.hit_jobs": (jobs(hit), "count"),
        "pipeline.serving.fallback_ms": (ms(fb), "ms"),
        "pipeline.serving.fallback_jobs": (jobs(fb) / len(fb) if fb else 0.0, "count"),
        "pipeline.httpserver.self_ms": (
            median([selft[s["id"]] * 1000.0 for s in window.named("pipeline.httpserver.request")]),
            "ms",
        ),
        "pipeline.httpserver.error_envelopes": (float(win["error_envelopes"]), "count"),
        "pipeline.httpserver.non2xx": (float(win["non2xx"]), "count"),
        "loadgen.late_p99_ms": (quantile(win["late_ms"], 0.99), "ms"),
    }


def prepare(seed: int, seconds: float, trace: bool) -> tuple[dict, str]:
    """Generate the inputs and write the server's config; returns the
    inputs and the config path."""
    work = fresh_dir("serve")
    inputs = make_inputs(seed, seconds, work)
    cfg = {
        "payloads": inputs["payloads"],
        "cities": inputs["cities"],
        "state": inputs["mix"]["state"],
        "warehouse": os.path.join(work, "warehouse"),
        "cache": os.path.join(work, "cache"),
        "load_time": LOAD_TIME.isoformat(),
        "fetched_at": FETCHED_AT.isoformat(),
        "trace": trace,
    }
    cfg_path = os.path.join(work, "server.json")
    with open(cfg_path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    return inputs, cfg_path


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    g0 = now()
    inputs, cfg_path = prepare(seed, seconds, trace)
    gen_s = now() - g0

    server = Server(cfg_path)
    try:
        ready = wait_ready(server)
        port = ready["port"]
        setup_s = now() - t_start - gen_s
        tally = Tally()
        result = {"setup_s": setup_s, "gen_s": gen_s, "tally": tally}
        if trace:
            # traced window first, as in pipeline_load
            server.command("trace on")
            result["traced"] = play_window(port, inputs, tally)
            server.command("trace off")
            spans_path = os.path.join(WORK, "spans_serve_mixed.jsonl")
            server.command(f"dump {spans_path}")
            with open(spans_path, encoding="utf-8") as fh:
                spans = [json.loads(line) for line in fh]
            result["layers"] = _layer_metrics(spans, ready, result["traced"])
        result["untraced"] = play_window(port, inputs, tally)
    finally:
        server.stop()
    return result


def ops_ms(w: dict) -> list[float]:
    return w["ops_ms"]


def summarize(res: dict) -> tuple[dict, dict]:
    w = res["untraced"]
    e2e = op_metrics(res["setup_s"], ops_ms(w))
    hit_q, fb_q = tail_level(len(w["hit_ms"])), tail_level(len(w["fallback_ms"]))
    detail = {
        "offered_rate_per_s": RATE,
        "requests": len(w["late_ms"]),
        "serve_hit_p50_ms": median(w["hit_ms"]),
        "serve_hit_tail_ms": quantile(w["hit_ms"], hit_q),
        "serve_hit_tail_level": hit_q,
        "serve_fallback_p50_ms": median(w["fallback_ms"]),
        "serve_fallback_tail_ms": quantile(w["fallback_ms"], fb_q),
        "serve_fallback_tail_level": fb_q,
        "sync_p50_ms": median(w["sync_ms"]),
        "samples": {"hit": len(w["hit_ms"]), "fallback": len(w["fallback_ms"]), "sync": len(w["sync_ms"])},
        "hit_ratio": w["hit_ratio"],
        "torn_reads": w["torn_reads"],
        "late_p99_ms": quantile(w["late_ms"], 0.99),
        "late_max_ms": max(w["late_ms"], default=0.0),
        "backlog": w["backlog"],
    }
    return e2e, detail
