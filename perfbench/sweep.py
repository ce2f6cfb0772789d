"""Offered-rate sweep for ``serve_mixed``: the rate at which the server's
backlog starts to grow, so that the benchmark's RATE can be set below it
with headroom.

    python3 perfbench/sweep.py --seed 1 --seconds 20 --rates 15,30,60,120

Builds one server child exactly as ``serve_mixed`` does (same cities,
snapshot states, Zipf mix and one ``sync-now`` per SYNC_EVERY seconds),
then plays one open-loop window per rate against it, in the order given,
and prints one JSON line per rate: request latencies by class (median,
and the highest percentile with ten samples beyond it), generator
lateness, and the backlog figures of ``serve.backlog``. Every response is
checked as in the benchmark; ``failed`` counts the failures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Tally, median, prepare_env, quantile, tail_level  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--rates", default="15,30,60,120")
    args = ap.parse_args()
    prepare_env()

    from perfbench import gen, serve

    rates = [float(r) for r in args.rates.split(",")]
    inputs, cfg_path = serve.prepare(args.seed, args.seconds, trace=False)
    server = serve.Server(cfg_path)
    try:
        port = serve.wait_ready(server)["port"]
        for rate in rates:
            sched = gen.schedule(args.seed, inputs["mix"], rate, args.seconds, serve.SYNC_EVERY)
            tally = Tally()
            w = serve.play_window(port, inputs, tally, sched)
            print(json.dumps({
                "rate_per_s": rate,
                "requests": len(sched),
                "failed": tally.failed,
                "hit_p50_ms": median(w["hit_ms"]),
                "hit_tail_ms": quantile(w["hit_ms"], tail_level(len(w["hit_ms"]))),
                "fallback_p50_ms": median(w["fallback_ms"]),
                "fallback_tail_ms": quantile(w["fallback_ms"], tail_level(len(w["fallback_ms"]))),
                "samples": {"hit": len(w["hit_ms"]), "fallback": len(w["fallback_ms"])},
                "sync_p50_ms": median(w["sync_ms"]),
                "late_p99_ms": quantile(w["late_ms"], 0.99),
                "late_max_ms": max(w["late_ms"], default=0.0),
                "torn_reads": w["torn_reads"],
                **w["backlog"],
            }), flush=True)
    finally:
        server.stop()


if __name__ == "__main__":
    main()
