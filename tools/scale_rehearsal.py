"""Empirical scale-curve rehearsal (r5 verdict task #5).

The 100 TB claims for the heavy operators are structural (bucketed
equi-joins, posting caps, Σ|cell|² bounds). This makes them MEASURED:
generate distribution-matched slices of the corpus tables at 1×/2×/4×
the sf0.1 row counts (same vocabulary, doc-length, near-duplicate and
cluster structure — generated fresh at every multiple so all points share
one distribution), time the heaviest registry queries at each point, and
fit the wall-time scaling exponent b in t ≈ a·m^b by least squares on
log(t) vs log(m).

Reading the exponents: b ≈ 1 → linear (shuffle/scan bound), b < 1 →
fixed-cost dominated at this size (job latency, Lloyd floor), b ≈ 2 →
a pair stage escaping its cap (the failure this rehearsal exists to
catch). Slices land in /tmp (scratch); nothing under /root/testdata is
touched.

Usage: python tools/scale_rehearsal.py [--multiples 1,2,4] [--queries ...]
Prints a markdown table for NOTES.md plus one JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DOCS = 5_000       # sf0.1 documents rows
BASE_VECS = 2_000       # sf0.1 embeddings rows
VOCAB = (
    "spark line column order small sort fast value scan a batch part big "
    "merge group query agg table hash join filter stream vector key slow "
    "customer the of and to"
).split()
LANGS = ["en"] * 7 + ["fr", "de", "zh"]
DUP_FRACTION = 0.08     # near-duplicate docs (mutated copies, cluster size 2-4)
EMB_DIMS = 64
N_LABELS = 10

HEAVY = [
    "semdedup_prune",
    "ann_product_quantization",
    "dedup_clusters_fast",
    "dedup_clusters_logstar",
    "tfidf_cosine_pairs",
    "ngram_jaccard_pairs",
]


def _zipf_vocab(n_docs: int) -> tuple[list[str], np.ndarray]:
    """Corpus-scaled Zipfian vocabulary (``--vocab-scale`` mode): real
    corpora grow their vocabulary with size (Heaps' law) and draw tokens
    Zipf-distributed, so only the head of the shingle-posting
    distribution ever crosses a posting cap. The fixed 30-word VOCAB is
    the deliberate worst case (every posting crosses together — the r8
    cap-crossover finding); this mode measures the realistic regime."""
    v = max(100, int(8 * n_docs ** 0.5))  # Heaps-ish growth
    words = [f"w{i}" for i in range(v)]
    ranks = np.arange(1, v + 1, dtype=np.float64)
    probs = 1.0 / ranks  # Zipf s=1
    probs /= probs.sum()
    return words, probs


def gen_documents(
    n: int, seed: int, out_dir: str, vocab_scale: bool = False
) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_base = n - int(n * DUP_FRACTION)
    if vocab_scale:
        words, probs = _zipf_vocab(n)
        draw = lambda size: rng.choice(words, size=size, p=probs)  # noqa: E731
    else:
        words = VOCAB
        draw = lambda size: rng.choice(VOCAB, size=size)  # noqa: E731
    texts: list[str] = []
    for _ in range(n_base):
        toks = draw(int(rng.integers(15, 95)))
        texts.append(" ".join(toks))
    # near-duplicates: mutate ~5 % of a base doc's tokens (MinHash-findable)
    while len(texts) < n:
        src = texts[int(rng.integers(0, n_base))].split()
        for _ in range(max(1, len(src) // 20)):
            src[int(rng.integers(0, len(src)))] = words[int(rng.integers(0, len(words)))]
        texts.append(" ".join(src))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[int(rng.integers(0, len(LANGS)))] for _ in range(n)]),
            "source": pa.array([f"src{int(rng.integers(0, 20))}" for _ in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/documents.parquet")


# rehearsal queries that scan the star-schema fact tables rather than
# documents/embeddings — their slices tile the REAL sf0.1 files m times:
# exact duplication preserves every column distribution bit-for-bit, and
# the scan/shuffle-bound shapes rehearsed on them are key-agnostic (the
# point is rows scanned, not key cardinality)
FACT_QUERIES = {
    "correlation_matrix": ("lineitem",),
    "shipmode_priority_counts": ("lineitem", "orders"),
    "yoy_revenue_delta": ("lineitem", "part"),
    "rollup_topk_per_grain": ("lineitem", "part"),
    "skew_split_join": ("lineitem", "orders"),
    "salted_join_cms": ("lineitem", "orders"),
    "frequent_best_customer_revenue": ("lineitem", "orders"),
    "nearest_station_within_radius": ("customer", "supplier"),
    "multi_band_counts": ("events",),
    "channel_cumulative_compare": ("events",),
    "minmax_downsample": ("events",),
}


def gen_fact_tables(m: int, out_dir: str, tables: tuple) -> None:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        if os.path.exists(f"{out_dir}/{t}.parquet"):
            continue
        con.execute(
            f"""
            COPY (
                SELECT s.* FROM range({m}) t(k),
                     parquet_scan('/root/testdata/sf0.1/{t}.parquet') s
            ) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)
            """
        )


def gen_embeddings(n: int, seed: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    centers = rng.normal(0, 1, size=(N_LABELS, EMB_DIMS))
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = centers[labels] + rng.normal(0, 0.35, size=(n, EMB_DIMS))
    # semantic near-duplicates: ~5 % of vectors are another vector + epsilon
    n_dup = n // 20
    src = rng.integers(0, n - n_dup, size=n_dup)
    vecs[n - n_dup:] = vecs[src] + rng.normal(0, 0.01, size=(n_dup, EMB_DIMS))
    labels[n - n_dup:] = labels[src]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32).tolist() for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/embeddings.parquet")


def run_spatial_area(spark, multiples: list[int], runs: int, scratch: str):
    """AREA-growth rehearsal for the grid-blocked spatial join (r13
    VERDICT task #5). The registry-table tiling mode grows DENSITY
    (same coordinate span, m× points per cell → ~m² candidate pairs per
    cell — the regime the r13 notes measured at exponent ~0.9 and
    correctly flagged as the wrong model for real deployments). Real
    fleets grow AREA: more cells at roughly constant points-per-cell,
    where the cost model is the linear cell-key shuffle. This mode
    measures that regime directly against the library body
    ``_blocked_nearest``: the longitude span scales by m (area ∝ m,
    cells ∝ m) while point counts scale by m too, holding density — and
    therefore per-cell work — constant. Expect b ≈ 1 (shuffle/scan
    bound) with small-m points dragged below that by fixed job costs."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.operators.spatial import (
        CUST_LAT_MUL,
        CUST_LON_MUL,
        LAT_SPAN,
        LON_SPAN,
        RADIUS,
        SUPP_LAT_MUL,
        SUPP_LON_MUL,
        _blocked_nearest,
    )

    base_c, base_s = 150_000, 10_000  # 10× the sf0.1 key counts: big
    # enough that the m=1 point isn't pure job-launch floor
    points = []
    for m in multiples:
        d = os.path.join(scratch, f"spatial_area_m{m}")
        lon_span = LON_SPAN * m
        cpath, spath = f"{d}/cust.parquet", f"{d}/st.parquet"
        if not os.path.exists(cpath):
            os.makedirs(d, exist_ok=True)
            spark.range(1, base_c * m + 1).select(
                F.col("id").alias("c_custkey"),
                F.pmod(F.col("id") * CUST_LAT_MUL, F.lit(LAT_SPAN)).alias("lat"),
                F.pmod(F.col("id") * CUST_LON_MUL, F.lit(lon_span)).alias("lon"),
            ).write.mode("overwrite").parquet(cpath)
            spark.range(1, base_s * m + 1).select(
                F.col("id").alias("s_suppkey"),
                F.pmod(F.col("id") * SUPP_LAT_MUL, F.lit(LAT_SPAN)).alias("slat"),
                F.pmod(F.col("id") * SUPP_LON_MUL, F.lit(lon_span)).alias("slon"),
            ).write.mode("overwrite").parquet(spath)
        cust, st = spark.read.parquet(cpath), spark.read.parquet(spath)
        # density audit: stations per occupied cell must stay ~constant
        # across m, or the mode isn't measuring the area regime at all
        occ = (
            st.groupBy(
                F.floor(F.col("slat") / RADIUS), F.floor(F.col("slon") / RADIUS)
            )
            .count()
            .agg(
                F.count("*").alias("cells"), F.avg("count").alias("per_cell")
            )
            .collect()[0]
        )
        best = math.inf
        for _ in range(runs):
            t0 = time.monotonic()
            _blocked_nearest(cust, st, RADIUS).count()
            best = min(best, time.monotonic() - t0)
        points.append(
            {
                "m": m,
                "customers": base_c * m,
                "stations": base_s * m,
                "cells": int(occ["cells"]),
                "stations_per_cell": round(float(occ["per_cell"]), 2),
                "best_sec": round(best, 2),
            }
        )
    b = fit_exponent(
        [float(p["m"]) for p in points], [p["best_sec"] for p in points]
    )
    print("| m (area) | customers | stations | cells | st/cell | best (s) |")
    print("|---|---|---|---|---|---|")
    for p in points:
        print(
            f"| {p['m']} | {p['customers']} | {p['stations']} | {p['cells']} "
            f"| {p['stations_per_cell']} | {p['best_sec']} |"
        )
    print(f"\nexponent b (t ~ area^b): {b:.2f}")
    print(json.dumps({"spatial_area_rehearsal": {
        "points": points, "exponent": round(b, 3)}}))


def fit_exponent(ms: list[float], ts: list[float]) -> float:
    if len(set(ms)) < 2:
        return float("nan")
    xs = [math.log(m) for m in ms]
    ys = [math.log(t) for t in ts]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    return (n * sxy - sx * sy) / (n * sxx - sx * sx)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multiples", default="1,2,4")
    ap.add_argument("--queries", default=",".join(HEAVY))
    ap.add_argument("--scratch", default="/tmp/scale_rehearsal")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--vocab-scale", action="store_true",
                    help="Heaps/Zipf corpus-scaled vocabulary (realistic posting regime) instead of the fixed worst-case VOCAB")
    ap.add_argument("--spatial-area", action="store_true",
                    help="AREA-growth mode for the grid-blocked spatial "
                    "join: span and points scale together (constant "
                    "density, cells ∝ m) — the deployment regime the "
                    "registry-table tiling mode cannot model")
    args = ap.parse_args()
    multiples = [int(m) for m in args.multiples.split(",")]
    names = args.queries.split(",")
    # the slices hold documents, embeddings and the FACT_QUERIES tables
    # only: refuse any other name before generating data or starting Spark
    unknown = [n for n in names if n not in HEAVY and n not in FACT_QUERIES]
    if unknown:
        print(
            f"no rehearsal slice for: {', '.join(unknown)} "
            f"(choose from HEAVY and FACT_QUERIES)",
            file=sys.stderr,
        )
        raise SystemExit(2)

    from pyspark.sql import SparkSession

    import bench

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.spatial_area:
        run_spatial_area(spark, multiples, max(2, args.runs), args.scratch)
        return
    # The RAW production plans, as bench.py times them: through the
    # *_checked registry wrappers the "fast" rows would time raw + exact +
    # audit (~3× the deployable work: dedup_clusters_fast measured 45 s vs
    # 15 s at the 8× Zipf point).
    queries = bench.production_queries()

    # regime-keyed cache dirs: fixed-vocab and --vocab-scale corpora must
    # never share a cache slot — a stale cross-regime m4 once produced a
    # phantom 4x=45s / 8x=7.5s inversion (r11 notes)
    suffix = "-zipf" if args.vocab_scale else ""

    for m in multiples:
        d = f"{args.scratch}/m{m}{suffix}"
        os.makedirs(d, exist_ok=True)
        # Regime marker (r13): the r11 suffix keying stopped NEW cross-regime
        # collisions but never invalidated dirs cached BEFORE it — a stale
        # zipf corpus sat in the unsuffixed m16 slot for two rounds and
        # skewed every "fixed-regime 16x" point (caught when a fixed-vocab
        # probe found 2.7M distinct shingles where 30^3 is the ceiling).
        # A dir is reused ONLY if its marker matches the requested regime.
        marker = os.path.join(d, "regime.json")
        want = {"vocab_scale": bool(args.vocab_scale), "m": m,
                "base_docs": BASE_DOCS, "base_vecs": BASE_VECS}
        have = None
        if os.path.exists(marker):
            try:
                with open(marker) as fh:
                    have = json.load(fh)
            except (OSError, ValueError):
                have = None
        if have != want:
            for f in ("documents.parquet", "embeddings.parquet"):
                p = os.path.join(d, f)
                if os.path.exists(p):
                    os.remove(p)
        if not os.path.exists(f"{d}/documents.parquet"):
            gen_documents(
                BASE_DOCS * m, seed=42, out_dir=d,
                vocab_scale=args.vocab_scale,
            )
            gen_embeddings(BASE_VECS * m, seed=42, out_dir=d)
            with open(marker, "w") as fh:
                json.dump(want, fh)
        fact_tables = tuple(
            sorted({t for n in names for t in FACT_QUERIES.get(n, ())})
        )
        if fact_tables:
            gen_fact_tables(m, out_dir=d, tables=fact_tables)

    from weather_database_system_spark.session import release_persisted

    # warm the JVM/session on the smallest slice so m=1 isn't charged the
    # first-job startup the later points don't pay
    for name in names:
        queries[name](spark, f"{args.scratch}/m{multiples[0]}{suffix}").count()
        release_persisted()

    results: dict[str, dict[int, float]] = {}
    for name in names:
        results[name] = {}
        for m in multiples:
            best = math.inf
            for _ in range(args.runs):
                t0 = time.monotonic()
                queries[name](spark, f"{args.scratch}/m{m}{suffix}").count()
                best = min(best, time.monotonic() - t0)
                # empty the storage pool between points: persisted
                # signatures/indexes must not leak across measurements
                # (the bench.py lifecycle contract)
                release_persisted()
            results[name][m] = round(best, 2)
            if name == "skew_split_join":
                # ADVICE r12 #4: HOT_MIN_LINES detection is data-dependent
                # (standard TPC-H caps at 7 lines/order → empty hot set →
                # the salting path silently no-ops). Surface the count so
                # an empty set is visible, not silent.
                from pyspark.sql import functions as F

                from weather_database_system_spark.operators.scale import (
                    HOT_MIN_LINES,
                )
                from weather_database_system_spark.sources.star import (
                    load_table,
                )

                nh = (
                    load_table(spark, f"{args.scratch}/m{m}{suffix}", "lineitem")
                    .groupBy("l_orderkey")
                    .agg(F.count("*").alias("n"))
                    .filter(F.col("n") >= HOT_MIN_LINES)
                    .count()
                )
                status = "" if nh else "  <-- EMPTY: salting path NOT exercised"
                print(
                    f"[skew_split_join] hot keys (>= {HOT_MIN_LINES} lines) "
                    f"at {m}x: {nh}{status}",
                    file=sys.stderr,
                )

    print("| query | " + " | ".join(f"{m}× (s)" for m in multiples) + " | exponent |")
    print("|---|" + "---|" * (len(multiples) + 1))
    summary = {}
    for name in names:
        ts = [results[name][m] for m in multiples]
        b = round(fit_exponent([float(m) for m in multiples], ts), 2)
        summary[name] = {"times": results[name], "exponent": b}
        print(f"| {name} | " + " | ".join(f"{t}" for t in ts) + f" | {b} |")
    print(json.dumps({"scale_rehearsal": summary}))


if __name__ == "__main__":
    main()
