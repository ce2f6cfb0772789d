#!/usr/bin/env python
"""Benchmark harness: times the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. The stdout line is COMPACT
(sized to the driver's 2000-char tail capture — heaviest queries kept,
rest elided with a count); the complete per-query payload including
cold_sec is always written to BENCH_LOCAL.json alongside this file.

Queries execute via the no-op sink (``format("noop")``) so the timing covers
scan → shuffle → compute with zero driver-side materialization cost — the
number a cluster job would see, not a toPandas tax.

The headline set spans every operator family: full-scan aggregation, 5-way
star join, window analytics, JSON extraction, and each extension (dedup /
LSH / similarity / text). ``warm_up`` absorbs the JVM / codegen, Python
worker and DataSource start-up so per-query numbers are comparable across
rounds. ``production_queries`` and ``warm_up`` are the one copy of the
timed registry and the warm-up; the tools under tools/ import them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# GROWTH POLICY (r12 VERDICT task #7, adopted r13): the full headline set
# is FROZEN at the 55 queries below. At ~20 min of driver wall-clock for
# 55 × 3 runs, per-round bench time must stop growing linearly with the
# registry (192 queries and counting). New operators get their plan
# audited and scale-rehearsed (tools/scale_rehearsal.py) when they land,
# and are benched locally via SPARK_GRAFT_BENCH_QUICK with a temporary
# QUICK override during development; they join the frozen set only by
# REPLACING a headliner of the same operator family whose coverage they
# strictly supersede (documented here when it happens). Cross-round
# comparability of the 55-query total is the asset this freeze protects.
#
# POST-FREEZE FAMILIES (r13 VERDICT task #6, decided r14): families that
# landed AFTER the freeze (geospatial: nearest_station_within_radius /
# station_density_grid; fingerprint: table_fingerprint family; prebuilt
# text index: trigram_search_prebuilt) have NO same-family headliner to
# replace, so swapping one in would break the series the freeze exists to
# protect. Their performance record is, explicitly, their scale-rehearsal
# curves (tools/scale_rehearsal.py / tools/station_rehearsal.py output
# tabulated in NOTES.md) plus their plan pins in tests/test_plans.py —
# re-run the rehearsal when their code changes, exactly as the frozen set
# re-runs here. If a post-freeze family ever gains a second generation
# that supersedes its first, the replacement clause above applies WITHIN
# that family using the rehearsal series as the comparability bridge.
#
# r17 SWAP (the one replacement executed so far): bm25_prebuilt replaced
# unigram_logprob_quality — by r16 the stored-index families had become
# a first-class surface (six families + the IVF+PQ composition) with NO
# member in the frozen set, so a regression in the index-priced query
# shape (e.g. a corpus scan leaking back into a prebuilt plan) was
# invisible to the round-over-round series. unigram_logprob_quality's
# machinery (tokenize → tf → corpus-stats score) remains series-guarded
# by text_quality, tfidf_cosine_pairs, and bpe_merge_pairs; its own
# registry entry, oracle, and tests are untouched. Totals before/after
# the swap differ by (bm25_prebuilt − unigram_logprob_quality) warm
# medians — compare cross-round totals accordingly (both numbers are in
# BENCH_LOCAL.json for the swap round).
HEADLINE = (
    "pricing_summary",        # flagship scan + wide agg (lineitem full scan)
    "join_star_revenue",      # 5-way broadcast star join + agg
    "join_left_order_counts", # pre-aggregated outer join
    "window_topk_per_group",  # per-key window top-k
    "window_running_sum",     # cumulative window over the fact table
    "monthly_rollup",         # the reference's core GROUP BY month query
    "json_extract_props",     # JSON path extraction + agg
    "topk_global",            # TakeOrdered global top-k
    "dedup_exact",            # digest groupBy
    "dedup_minhash_lsh_fast", # shingle → xxhash64 minhash → banded LSH join
                              # (production hash; md5 twin stays in the
                              # registry for byte-exact oracle parity)
    "ngram_jaccard_pairs",    # inverted-index exact Jaccard
    "ann_brute_force",        # exact cosine top-k over embeddings
    "text_quality",           # per-doc text metrics
    "asof_attribution",       # as-of join via union+window
    "stream_session_window",  # session windows (batch mode)
    "ann_lsh_fixedpoint",     # banded LSH (int64 fixed-point signatures)
                              # + exact decimal re-rank; the decimal-
                              # signature twin stays registry-canonical
    "rollup_cascade_day",     # partials-first continuous-aggregate cascade
    "shipping_priority",      # Q3-shaped join+agg+top-k
    "grouping_sets_revenue",  # Expand-based multi-grain agg
    "gap_fill_interpolate",   # sequence-explode grid + bracket interpolation
    "cohort_retention",       # single-window cohort matrix
    "funnel_conversion",      # windowFunnel chain over user partitions
    "time_weighted_avg",      # interval-weighted temporal mean
    "corpus_curation",        # quality→lang→dedup gates in one pass
    "stratified_sample",      # map-only hash-bucket sampling
    "dedup_clusters_fast",    # xxhash64 pair graph → log-round star-
                              # contraction components (production hash +
                              # algorithm; md5 twins stay registry-
                              # canonical for byte-exact oracle parity)
    "contamination_eval_overlap",  # broadcast eval-gram decontamination
    "semdedup_prune",         # Lloyd-clustered semantic prune (cell-scoped)
    "domain_mixture_weights", # per-source token shares + resample weights
    "quality_weighted_sample",  # hash-bucket importance sampling
    "bm25_prebuilt",          # stored-index ranked retrieval (r17 SWAP,
                              # the growth policy's replacement rule +
                              # VERDICT r16 task #4: the index-priced
                              # query paths had NO round-over-round
                              # latency guard — only the ad-hoc
                              # economics tool. Replaces
                              # unigram_logprob_quality, whose
                              # tokenize→tf→score machinery stays
                              # guarded by text_quality /
                              # tfidf_cosine_pairs / bpe_merge_pairs
                              # and whose registry entry + oracle are
                              # untouched. cold_sec shows the one-time
                              # ensure-build; the warm median is the
                              # zero-corpus-bytes query the 100 TB
                              # story rests on)
    "tfidf_cosine_pairs",     # shingle-blocked tf-idf cosine near-dup pairs
    "embedding_gram_matrix",  # distributed Gram/covariance (PCA precursor)
    "tokenize_to_ids",        # vocab induction + id mapping + seq digests
    "scd2_user_history",      # SCD Type-2 versioning (single user_id exchange)
    "dedup_containment",      # asymmetric excerpt dedup (shingle index)
    "curriculum_pack_epochs", # two-level distributed global prefix sum
    "session_path_analysis",  # sessionized top event-type paths
    "ann_product_quantization",  # PQ codebooks + ADC scoring (4 Lloyd loops)
    # --- round-6 headliners ---
    "dedup_clusters_logstar", # md5 pair graph → large-star/small-star
                              # components in O(log diameter) rounds
    "feed_daily_rollup",      # partitioned Python DataSource ingest →
                              # pivot → fill policy → daily rollup
    # --- round-8 headliners ---
    "png_decode_features",    # REAL zlib inflate + defilter per payload,
                              # codec stage repartitioned across cores;
                              # tracks the binary tier's throughput
    "feed_station_rollup",    # multi-station silver contract: station_id
                              # derivation + lineage envelope + rollup
                              # keyed by (station_id, date)
    # --- round-11 headliners ---
    "sole_return_supplier",   # Q21-shaped double-EXISTS rewritten to one
                              # grouped fact pass (single lineitem scan)
    "customer_order_distribution",  # Q13-shaped outer-join distribution,
                                    # aggregate pushed below the join
    "small_quantity_part_revenue",  # Q17-shaped correlated-avg filter as a
                                    # single-scan window (integer compare)
    "large_volume_orders",    # Q18-shaped IN-subquery, aggregate-once-
                              # and-reuse (single lineitem scan)
    "quarterly_top_supplier", # Q15-shaped max-over-view via a quarter-
                              # partitioned window on the one aggregate
    "nation_trade_volume",    # Q7-shaped bilateral trade: pair predicate
                              # pushed into BOTH dim scans pre-join
    "disjunctive_brand_revenue",  # Q19-shaped OR-of-conjunctions with
                                  # factored superset pushdown
    "min_cost_supplier",      # Q2-shaped correlated-min via pair-agg +
                              # parts-sized min equi-join (pseudo-partsupp)
    # --- round-12 headliners ---
    "shipmode_priority_counts",  # Q12-shaped conditional counts; derived
                                 # shipdate bound pushed to parquet
    "yoy_revenue_delta",      # DS-Q75-shaped two-year conditional agg in
                              # ONE fact pass (textbook: two scans)
    "multi_band_counts",      # DS-Q88-shaped 8-band census in ONE scan
                              # (textbook: eight scalar-subquery scans)
    "bpe_merge_pairs",        # BPE pair counts off the word-frequency
                              # table (vocab-factored, Heaps-bounded)
)

# N runs per query. Run 1 is recorded separately as cold_sec (r8 verdict
# #4, implemented r11): the first run pays one-off costs — parquet footer
# reads, codegen, persist population — that repeatedly masqueraded as
# regressions when medianed in (feed_station_rollup 0.58→4.41 s in
# BENCH_r10 with the file untouched; did not reproduce warm). The
# headline per-query number is the MEDIAN of runs 2..N (warm,
# within-process — the r6 verdict #2 noise-damping), so cross-round
# comparisons see steady-state throughput and cold-start is still
# visible, labeled as what it is. Set SPARK_GRAFT_BENCH_RUNS=5 locally
# for extra stability, or 1 to reproduce single-run behavior (no cold
# split).
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

# SPARK_GRAFT_BENCH_QUICK=1 trims the run to a 12-query sentinel subset
# (~15 s warm) for fast local iteration on a slow host: both host-drift
# normalizers, the heaviest member of each operator family, and the
# Python-path representative. The driver's per-round bench runs the full
# set (this env is never set there); cross-round comparisons should only
# ever use full-set BENCH files.
QUICK = (
    "pricing_summary",        # normalizer 1
    "topk_global",            # normalizer 2
    "join_star_revenue",      # join family
    "window_running_sum",     # window family
    "dedup_clusters_fast",    # dedup heavy
    "semdedup_prune",         # embedding heavy
    "ann_product_quantization",  # ANN heavy
    "tfidf_cosine_pairs",     # text heavy
    "feed_daily_rollup",      # Python DataSource path
    "stream_session_window",  # streaming twin
    "sole_return_supplier",   # TPC-H rewrite representative
    "heavy_hitters_cms",      # sketch family
)
if os.environ.get("SPARK_GRAFT_BENCH_QUICK", "") not in ("", "0"):
    HEADLINE = QUICK


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def noop(df) -> None:
    """Run ``df`` to completion through the no-op sink (see the module
    docstring): the timed action of every query here and in the tools."""
    df.write.format("noop").mode("overwrite").save()


def production_queries() -> dict:
    """The registry with its three ``*_checked`` surfaces replaced by their
    raw production twins. Those wrappers bolt an exact-twin yardstick onto
    the xxhash64 / float-ADC plans so the driver can oracle-check them
    (r8 verdict #3); the yardstick is a test-SF-only audit that a 100 TB
    pass never runs, so every timing harness times the raw plans instead."""
    import __spark_entry__ as em
    from weather_database_system_spark.operators.dedup import (
        dedup_clusters_fast,
        dedup_minhash_lsh_fast,
    )
    from weather_database_system_spark.operators.similarity import (
        ann_product_quantization,
    )

    return {
        **em.queries(),
        "dedup_minhash_lsh_fast": dedup_minhash_lsh_fast,
        "dedup_clusters_fast": dedup_clusters_fast,
        "ann_product_quantization": ann_product_quantization,
    }


def warm_up(spark, queries: dict) -> None:
    """The session warm-up every timed reading follows. All three steps
    matter (r18 review #5): a reading taken after fewer of them is not
    comparable to the BENCH series."""
    # JVM / codegen / parquet footer caches, on the flagship query.
    noop(queries["pricing_summary"](spark, SF_DIR))
    # The Python worker pool (Arrow/pandas path): first use costs ~5 s of
    # interpreter/worker spin-up that belongs to the session, not to
    # whichever Python-path query happens to run first.
    noop(spark.range(2).mapInPandas(lambda it: it, "id long"))
    # The partitioned Python DataSource machinery the feed_* headliners use.
    noop(queries["feed_daily_rollup"](spark, SF_DIR))


def main() -> None:
    from weather_database_system_spark.session import get_spark, release_persisted

    # r11 VERDICT #1: Spark's console progress bars ([Stage N:...] spam)
    # drowned the one-line JSON result and the driver's tail capture
    # truncated it (BENCH_r11 parsed: null). Silence them at context build
    # time — this is a SparkContext conf, so it must land before
    # getOrCreate() — and additionally mirror the result to BENCH_LOCAL.json
    # below so the payload survives any stdout mangling.
    spark = get_spark(
        app_name="wdss-bench",
        cpus=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = production_queries()
    warm_up(spark, queries)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            noop(fn(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
            # Release per-operator persisted intermediates (minhash
            # signatures, LSH tables) so later queries — and later runs of
            # this one — see an empty storage pool: the lifecycle contract
            # documented in session.track_persisted.
            release_persisted()
        if RUNS > 1:
            # run 1 = cold (footer/codegen/persist warm-up), runs 2..N =
            # steady state; see the RUNS comment above.
            cold[name] = round(runs[0], 3)
            warm = runs[1:]
        else:
            warm = runs
        timings[name] = round(sorted(warm)[len(warm) // 2], 3)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "runs": RUNS,
        # self-description so a QUICK-mode file can never be read as
        # a full-set result in cross-round comparison
        "headline_set": "quick" if HEADLINE is QUICK else "full",
        "sf": _sf_from_dir(SF_DIR),
        # Host-drift guard (r4 NOTES): the flagship time doubles as a
        # normalization denominator so cross-round comparisons can
        # self-correct for uniform host slowdowns (divide any query's
        # time by this before comparing across BENCH_r files).
        "normalizer_sec": timings["pricing_summary"],
        # Second, independent sentinel (r7 verdict #4 / ADVICE):
        # pricing_summary is itself a benched headline, so a change
        # to IT would masquerade as host drift. topk_global is an
        # untouched-since-r1 scan+TakeOrdered with no persisted
        # state; two sentinels moving together = host drift, one
        # moving alone = a real change in that query.
        "normalizer2_sec": timings["topk_global"],
        # Per-query first-run times (one-off costs), reported
        # separately so they can never masquerade as a warm
        # regression — adjudicate a mover by comparing its WARM
        # median across rounds and checking cold_sec for the
        # one-off class.
        "cold_sec": cold,
        # Run-mode provenance (ADVICE r7): headline medians are
        # WARM within-process repeats of runs 2..N (run 1 split
        # out as cold_sec) — comparable across rounds with
        # runs>=3.
        "run_mode": "cold_first_warm_median" if RUNS > 1 else "single",
    }
    # Durable copy first (survives any console interleaving): the FULL
    # payload — every per-query warm median and cold split — always lands
    # in BENCH_LOCAL.json.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        fh.write(json.dumps(payload) + "\n")

    # The contract's ONE JSON line, last on stdout, must survive the
    # driver's 2000-char tail capture (measured: BENCH_r11/r12 both store
    # exactly len(tail)==2000, and the full 56-query payload outgrew it →
    # parsed: null two rounds running despite the r11 progress-bar fix).
    # Emit a COMPACT final line instead (r12 VERDICT task #2): all scalar
    # metadata, plus as many per-query entries as fit a 1800-byte budget —
    # heaviest first, so the entries that matter for regression triage
    # survive — with an explicit elision count and a pointer to the
    # durable full payload. cold_sec lives only in BENCH_LOCAL.json.
    compact = {
        "queries": {},
        "queries_elided": 0,
        **{k: v for k, v in payload.items() if not isinstance(v, dict)},
        "full_payload": "BENCH_LOCAL.json",
    }
    budget = 1800
    for name in sorted(timings, key=timings.get, reverse=True):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    compact["queries_elided"] = len(timings) - len(compact["queries"])
    # Re-check AFTER patching queries_elided (ADVICE r13 #2): growing the
    # placeholder "0" to a multi-digit elision count can push the line a
    # byte or two past the budget measured inside the loop. Drop the
    # lightest remaining entries (they matter least for triage) until the
    # line fits, keeping the elision count in sync before each re-measure.
    while compact["queries"] and (
        len(json.dumps(compact, separators=(",", ":"))) > budget
    ):
        lightest = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][lightest]
        compact["queries_elided"] = len(timings) - len(compact["queries"])
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(compact, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
