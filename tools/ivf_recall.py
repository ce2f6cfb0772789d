"""IVF recall/cost frontier: the deployment trade the √N cell sizing and
the nprobe knob jointly govern, measured instead of argued.

Ground truth is the exact decimal brute-force cosine top-3 per pinned
query (ann_brute_force, rank ≤ 3). Each configuration (the pinned
registry geometry K=K_CELLS, and the √N deployment geometry at nprobe ∈
--nprobes) reports recall@3 — |IVF top-3 ∩ exact top-3| / 3 averaged
over queries — and the warm per-query probe time on one session
(first + repeat, the index_economics protocol: warm-vs-warm so JVM
warm-up is never credited to a configuration).

Expectations this makes falsifiable: recall is monotone in nprobe
(pytest-pinned for the in-query twin, measured here for the stored
form); the √N geometry at nprobe=1 trades recall for flat probe cost
(finer cells see fewer candidates), and widening nprobe buys the recall
back at √N-bounded incremental cost — FAISS's operating curve. On the
synthetic near-orthogonal embeddings recall is data-limited (the same
corpus property the PQ recall pytest documents), so the shape of the
curve, not its absolute height, is the result.

r17 adds the IVF+PQ composition's operating points at the same nprobes:
its recall stacks ADC quantization distortion on top of cell pruning
(expect ≤ the float-re-rank sqrt rows at equal nprobe), while its probe
scans only the probed cells' code rows.

Usage:
  python tools/ivf_recall.py [--sf-dir /root/testdata/sf0.1]
      [--nprobes 1,2,4,8] [--cpus 32]
Prints a markdown table for NOTES.md plus one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _topk(rows, k=3):
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        if r.rank <= k:
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    return by_q


def _recall(got: dict, truth: dict, k=3) -> float:
    qs = sorted(truth)
    return sum(
        len(set(got.get(q, [])) & set(truth[q])) / float(k) for q in qs
    ) / len(qs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--nprobes", default="1,2,4,8")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    os.environ["WDSS_SCRATCH_DIR"] = tempfile.mkdtemp(prefix="wdss_recall_")
    from weather_database_system_spark.session import get_spark, release_persisted

    spark = get_spark(cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators import similarity as S

    truth = _topk(S.ann_brute_force(spark, args.sf_dir).collect())
    release_persisted()

    p_fixed = ensure(S.IVF, spark, args.sf_dir)  # pinned K_CELLS
    p_sqrt = S.ensure_ivf_index(spark, args.sf_dir, k_cells=None)  # √N
    k_fixed = len(S.read_ivf_centroids(spark, p_fixed))
    k_sqrt = len(S.read_ivf_centroids(spark, p_sqrt))

    def measure(label, path, nprobe):
        for _ in range(2):  # first warms, second is the number
            t0 = time.perf_counter()
            rows = S.ann_ivf_query_prebuilt(
                spark, args.sf_dir, path, nprobe=nprobe
            ).collect()
            dt = time.perf_counter() - t0
            release_persisted()
        return {
            "config": label,
            "nprobe": nprobe,
            "recall_at_3": round(_recall(_topk(rows), truth), 3),
            "probe_s_warm": round(dt, 2),
        }

    rows = [measure(f"fixed K={k_fixed}", p_fixed, 1)]
    for n in (int(x) for x in args.nprobes.split(",")):
        rows.append(measure(f"sqrt K={k_sqrt}", p_sqrt, n))

    # the IVF+PQ composition (r17): same routing geometry, but the
    # re-rank runs on stored ADC codes instead of gathered raw floats —
    # recall stacks the quantization distortion on top of cell pruning,
    # probe cost drops to Σ|probed cells| code rows. Same warm protocol.
    p_ivfpq = ensure(S.IVFPQ, spark, args.sf_dir)
    k_ivfpq = len(S.read_ivf_centroids(spark, p_ivfpq))

    def measure_ivfpq(nprobe):
        for _ in range(2):
            t0 = time.perf_counter()
            rows_ = S.ann_ivfpq_query_prebuilt(
                spark, args.sf_dir, p_ivfpq, nprobe=nprobe
            ).collect()
            dt = time.perf_counter() - t0
            release_persisted()
        return {
            "config": f"ivfpq K={k_ivfpq}",
            "nprobe": nprobe,
            "recall_at_3": round(_recall(_topk(rows_), truth), 3),
            "probe_s_warm": round(dt, 2),
        }

    for n in (int(x) for x in args.nprobes.split(",")):
        rows.append(measure_ivfpq(n))

    print("\n| config | nprobe | recall@3 | probe s (warm) |")
    print("|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['config']} | {r['nprobe']} | {r['recall_at_3']} "
            f"| {r['probe_s_warm']} |"
        )
    print(json.dumps({"metric": "ivf_recall", "sf_dir": args.sf_dir, "rows": rows}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
