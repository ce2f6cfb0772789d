"""Stored-index economics: measure build-once vs query-many for all six
index families (trigram postings, IVF, dedup, PQ, BM25, eval-set
contamination fingerprints) plus the IVF+PQ composition (r17), the
numbers behind the "queries price at index bytes, not corpus bytes"
claim.

Per family, on one warm session: the in-query form (first + repeat), the
build-once into a HERMETIC scratch slot (real cold build, manifest
promote included), and the prebuilt query-only half (first + repeat).

The per-query win is REPEAT-vs-REPEAT (warm-vs-warm): comparing a cold
in-query first run against a warm prebuilt repeat credits JVM/codegen/
file-listing warm-up to the index. The warm comparison also surfaces the
honest scale story: families whose in-query form is fixed-cost-floored
at the test SF (dedup, bm25 — sub-second warm) show win ≈ 1 HERE, and
their case rests on the plan-pinned index-priced shape (query cost =
index bytes, not corpus bytes) that only pays off at real corpus sizes;
the compute-heavy families (trigram, IVF, PQ) show real warm wins even
at test SF. The build amortizes after build / (in_query - prebuilt)
queries. With ``--multiples`` the corpus is
grown with the scale_rehearsal generators (same distribution at every
point) to show the RATIO growing with corpus size: the in-query form
re-signatures / re-trains O(corpus) per query while the prebuilt
numerator stays batch- or probe-sized.

Usage:
  python tools/index_economics.py [--sf-dir /root/testdata/sf0.1]
      [--families trigram,ivf,dedup,pq] [--multiples 4,16]
Prints a markdown table for NOTES.md plus one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _timed(fn) -> float:
    from weather_database_system_spark.session import release_persisted

    t0 = time.perf_counter()
    fn().count()
    dt = time.perf_counter() - t0
    release_persisted()
    return dt


def measure_family(spark, family: str, sf_dir: str) -> dict:
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators import (
        dedup,
        similarity,
        textan,
        trainprep,
    )

    forms = {
        "trigram": (
            lambda: textan.trigram_index_search(spark, sf_dir),
            lambda: ensure(textan.TRIGRAM, spark, sf_dir),
            lambda p: textan.trigram_query_prebuilt(spark, sf_dir, p),
        ),
        "ivf": (
            lambda: similarity.ann_ivf_kmeans(spark, sf_dir),
            # deployment geometry: K ∝ √N cell sizing (r16) — the fixed
            # test-SF K eroded the stored win to 1.25x at 16x corpus
            # growth because each probe gathered a linearly-growing cell
            lambda: similarity.ensure_ivf_index(spark, sf_dir, k_cells=None),
            lambda p: similarity.ann_ivf_query_prebuilt(spark, sf_dir, p),
        ),
        "dedup": (
            lambda: dedup.dedup_against_index(spark, sf_dir),
            lambda: ensure(dedup.DEDUP, spark, sf_dir),
            lambda p: dedup.dedup_against_index_prebuilt(spark, sf_dir, p),
        ),
        "pq": (
            lambda: similarity.ann_product_quantization(spark, sf_dir),
            lambda: ensure(similarity.PQ, spark, sf_dir),
            lambda p: similarity.ann_pq_query_prebuilt(spark, sf_dir, p),
        ),
        # the IVF+PQ composition (r17): same in-query comparator as pq
        # (the full train + encode + whole-corpus ADC pipeline); the
        # prebuilt form prices at Σ|probed cells| CODE rows — cell
        # pruning × 16× code compression compound, so the warm win
        # should exceed the pq row's at every growth point and keep
        # growing with the corpus (the probed fraction shrinks as √N
        # cells multiply)
        "ivfpq": (
            lambda: similarity.ann_product_quantization(spark, sf_dir),
            lambda: ensure(similarity.IVFPQ, spark, sf_dir),
            lambda p: similarity.ann_ivfpq_query_prebuilt(spark, sf_dir, p),
        ),
        "bm25": (
            lambda: textan.bm25_search(spark, sf_dir),
            lambda: ensure(textan.BM25, spark, sf_dir),
            lambda p: textan.bm25_query_prebuilt(spark, sf_dir, p),
        ),
        # expectation: ≈1× at any SF — the saved term is the EVAL side,
        # which is bounded by construction (the index's value is
        # operational: fingerprint each benchmark suite once, reuse
        # forever — not compute savings at test scale)
        "contamination": (
            lambda: trainprep.contamination_eval_overlap(spark, sf_dir),
            lambda: ensure(trainprep.CONTAMINATION, spark, sf_dir),
            lambda p: trainprep.contamination_query_prebuilt(spark, sf_dir, p),
        ),
    }
    in_query_fn, ensure_fn, query_fn = forms[family]

    # BOTH forms get a first + repeat timing, and the headline win is
    # repeat-vs-repeat: comparing a cold in-query first run against a
    # warm prebuilt repeat inflates the light families' wins with JVM /
    # codegen / file-listing warm-up that has nothing to do with the
    # index (measured: dedup "2.7x" cold-vs-warm collapsed to 0.9x
    # warm-vs-warm at sf0.1 — the honest number at this scale)
    in_query = _timed(in_query_fn)
    in_query_rep = _timed(in_query_fn)
    t0 = time.perf_counter()
    path = ensure_fn()
    build = time.perf_counter() - t0
    first = _timed(lambda: query_fn(path))
    repeat = _timed(lambda: query_fn(path))
    win = in_query_rep / repeat if repeat else float("inf")
    saved = in_query_rep - repeat
    amortize = build / saved if saved > 0 else float("inf")
    return {
        "family": family,
        "in_query_s": round(in_query, 2),
        "in_query_repeat_s": round(in_query_rep, 2),
        "build_s": round(build, 2),
        "prebuilt_s": round(first, 2),
        "prebuilt_repeat_s": round(repeat, 2),
        "win_x": round(win, 2),
        "amortize_after_queries": round(amortize, 1),
    }


def grown_sf_dir(m: int, scratch: str) -> str:
    """Distribution-matched documents + embeddings at m× the sf0.1 row
    counts (scale_rehearsal generators — /root/testdata untouched)."""
    from tools.scale_rehearsal import (
        BASE_DOCS,
        BASE_VECS,
        gen_documents,
        gen_embeddings,
    )

    out = os.path.join(scratch, f"m{m}")
    os.makedirs(out, exist_ok=True)
    gen_documents(BASE_DOCS * m, seed=m, out_dir=out)
    gen_embeddings(BASE_VECS * m, seed=m, out_dir=out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--families",
                    default="trigram,ivf,dedup,pq,ivfpq,bm25,contamination")
    ap.add_argument("--multiples", default="",
                    help="grow the corpus m× per point instead of --sf-dir")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    scratch = tempfile.mkdtemp(prefix="wdss_index_econ_")
    os.environ["WDSS_SCRATCH_DIR"] = os.path.join(scratch, "slots")

    from weather_database_system_spark.session import get_spark

    spark = get_spark(cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    points = (
        [("sf", args.sf_dir)]
        if not args.multiples
        else [(f"{m}x", grown_sf_dir(int(m), scratch))
              for m in args.multiples.split(",")]
    )
    rows = []
    for label, sf_dir in points:
        for family in args.families.split(","):
            r = {"point": label, **measure_family(spark, family, sf_dir)}
            rows.append(r)
            print(r, flush=True)

    print("\n| point | family | in-query s (repeat) | build s "
          "| prebuilt s (repeat) | win (warm-vs-warm) | amortize after |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['point']} | {r['family']} "
              f"| {r['in_query_s']} ({r['in_query_repeat_s']}) "
              f"| {r['build_s']} | {r['prebuilt_s']} ({r['prebuilt_repeat_s']}) "
              f"| {r['win_x']}x | {r['amortize_after_queries']} |")
    print(json.dumps({"metric": "index_economics", "rows": rows}))
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
