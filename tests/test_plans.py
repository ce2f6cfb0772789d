"""Physical-plan shape tests: pin the scale-critical plan properties
(SURVEY §4) so refactors can't silently regress them. Result-correctness is
the oracle's job; THESE tests are the 100 TB story."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE


def test_spread_fact_is_conditional(spark):
    """spread_fact must round-robin a narrower-than-cores scan (the
    one-row-group testdata) and be a LITERAL no-op — same DataFrame
    object, no added exchange — once the input already has enough
    partitions (the 100 TB case)."""
    from weather_database_system_spark.operators.relational import (
        load_table,
        spread_fact,
    )

    n = spark.sparkContext.defaultParallelism
    li = load_table(spark, SF_SMOKE, "lineitem")
    spread = spread_fact(li)
    assert spread.rdd.getNumPartitions() == n
    wide = li.repartition(n)  # already at cores — must pass through
    assert spread_fact(wide) is wide


def test_pricing_summary_pushdown_pruning_partial_agg(spark):
    """Flagship: the shipdate filter reaches the parquet scan, only needed
    columns are read, and aggregation is partial (map-side combine) — one
    shuffle carrying group-sized data."""
    from weather_database_system_spark.operators.relational import pricing_summary
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        read_schema_columns,
        shuffle_count,
    )

    df = pricing_summary(spark, SF_SMOKE)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    (scan_cols,) = read_schema_columns(df)
    assert scan_cols == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    # group-by exchange + order-by range exchange, plus the conditional
    # spread_fact round-robin over the single-row-group smoke scan (a
    # no-op at real scale — relational.spread_fact). The filter must stay
    # BELOW the spread (asserted above via PushedFilters).
    assert shuffle_count(df) <= 3
    assert plan.count("RoundRobinPartitioning") <= 1


def test_star_join_broadcasts_all_dimensions(spark):
    """The 5-way star join must broadcast every dimension side; the only
    shuffles are the fact-fact join and the final agg/sort."""
    from weather_database_system_spark.operators.relational import join_star_revenue
    from weather_database_system_spark.plans import broadcast_join_count, shuffle_count

    df = join_star_revenue(spark, SF_SMOKE)
    assert broadcast_join_count(df) >= 3  # customer, nation, region
    # lineitem⋈orders shuffle (2 sides) + agg + sort — no dimension shuffles
    assert shuffle_count(df) <= 4


def test_projection_sort_prunes_columns(spark):
    """A 4-column projection over a 6-column table must scan exactly 4."""
    from weather_database_system_spark.operators.relational import projection_sort
    from weather_database_system_spark.plans import read_schema_columns

    (scan_cols,) = read_schema_columns(projection_sort(spark, SF_SMOKE))
    assert scan_cols == {"o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"}


def test_filtered_query_pushes_equality_predicate(spark):
    """op #18's city-parameter filter must reach the scan as an equality
    pushdown, not evaluate post-scan."""
    from weather_database_system_spark.operators.relational import monthly_filtered
    from weather_database_system_spark.plans import pushed_filters

    filters = pushed_filters(monthly_filtered(spark, SF_SMOKE))
    assert any("EqualTo(event_type,click)" in f.replace(" ", "") for f in filters)


def test_window_topk_single_shuffle(spark):
    """Per-group top-k must shuffle once (on the partition key) — no global
    sort. The final presentation orderBy adds a range exchange; anything
    beyond that is a regression."""
    from weather_database_system_spark.operators.relational import window_topk_per_group
    from weather_database_system_spark.plans import shuffle_count

    assert shuffle_count(window_topk_per_group(spark, SF_SMOKE)) <= 2


def test_global_topk_avoids_total_sort(spark):
    """ORDER BY + LIMIT k must plan TakeOrderedAndProject (per-partition
    heaps), never a full range-partitioned sort."""
    from weather_database_system_spark.operators.relational import topk_global
    from weather_database_system_spark.plans import formatted_plan

    from weather_database_system_spark.plans import shuffle_count

    df = topk_global(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in formatted_plan(df)
    assert shuffle_count(df) == 0


def test_multimodal_metadata_never_scans_payload(spark):
    """Metadata-only reads over the multimodal table must prune the payload
    bytes out of the scan entirely."""
    from weather_database_system_spark.operators.multimodal import multimodal_metadata
    from weather_database_system_spark.plans import read_schema_columns

    for cols in read_schema_columns(multimodal_metadata(spark, SF_SMOKE)):
        assert "payload" not in cols

    # and the columns actually read are just what the metadata needs
    assert read_schema_columns(multimodal_metadata(spark, SF_SMOKE)) == [
        {"doc_id", "text"}
    ]


def test_range_band_join_broadcasts_interval_side(spark):
    """The interval dimension must broadcast: zero shuffles on the probe
    side before aggregation."""
    from weather_database_system_spark.operators.temporal import range_band_join
    from weather_database_system_spark.plans import broadcast_join_count, shuffle_count

    df = range_band_join(spark, SF_SMOKE)
    assert broadcast_join_count(df) >= 1
    # the ONLY shuffles are post-join (agg + presentation sort); the probe
    # side reaches the join straight from the scan
    assert shuffle_count(df) == 2


def test_no_registry_query_plans_a_cartesian_product(spark):
    """Sweeping guard: NO query in the whole registry may plan a
    CartesianProduct — pair generation must always go through derived join
    keys or an explicit bounded broadcast. BroadcastNestedLoopJoin is
    allowed only where a side is provably bounded (documented allowlist)."""
    import __spark_entry__ as em

    from weather_database_system_spark.plans import formatted_plan

    # BNLJ-sanctioned: bounded side by construction or by executable guard —
    # anything else planning a BNLJ is an unbounded all-pairs bug.
    bnlj_ok = {
        "ann_brute_force",      # N_QUERIES whole vectors broadcast
        "ann_ivf_kmeans",       # K_CELLS=8 centroid rows broadcast (map-side
                                # assignment — candidates never shuffle)
        "semdedup_prune",       # same broadcast-K Lloyd assignment passes
        "ann_product_quantization",  # PQ_K=16 codeword rows broadcast per
                                     # subspace (same Lloyd assignment shape)
        "ann_pq_prebuilt",      # same: M·K stored codebook rows broadcast
                                # (ADC qtable) + 1-row claims broadcast
        "bm25_prebuilt_snapshot",  # 1-row snapshot==live claims broadcast
                                   # (the salted-join claim idiom, r16)
        "bm25_prebuilt_diverged_snapshot",  # 1-row divergence-count claims
                                            # broadcast (n_only_live/
                                            # n_only_snap, r18)
        "ann_ivf_prebuilt_snapshot",  # same 1-row snapshot==live claims
                                      # broadcast, IVF family (r17)
        # r17: snapshot reads generalized to every stored family — each
        # crossJoins the same 1-row snapshot==live claims broadcast
        # (plus the family's own sanctioned KB-scale broadcasts)
        "trigram_prebuilt_snapshot",
        "dedup_prebuilt_snapshot",
        "ann_pq_prebuilt_snapshot",
        "ann_ivfpq_prebuilt_snapshot",
        "contamination_prebuilt_snapshot",
        "ann_ivfpq_prebuilt",   # M·K stored codebook rows broadcast (ADC
                                # qtable) + 1-row claims broadcast (r17)
        "ann_ivfpq_prebuilt_nprobe",  # same broadcasts, multi-probe (r17)
        "ann_ivfpq_residual_prebuilt",  # same broadcasts, residual
                                        # encoding (r17)
        "embedding_near_dup",   # exact baseline; REFUSES >MAX_EXACT_VECTORS
                                # (test_extensions guard test) — LSH is the
                                # canonical scale path
        "range_band_join",      # 3-row interval dimension
        "stream_late_data_policy",  # 1-row watermark scalar crossJoin
        "rfm_segmentation",     # 1-row anchor + 1-row quartile-threshold
                                # broadcasts over the customer aggregate
        "decayed_user_value",   # 1-row max-timestamp anchor broadcast over
                                # the event scan
        "source_kl_divergence", # 1-row corpus-total broadcast over the
                                # (source, term) counts
        "funnel_time_to_convert",  # 1-row signup-total broadcast over the
                                   # per-user latency aggregate
        "unigram_logprob_quality",  # 1-row corpus-token-total broadcast
        "bigram_surprisal_quality", # 1-row vocabulary-size broadcast
        "pmi_collocations",         # 1-row corpus-totals broadcast
        "tfidf_cosine_pairs",       # 1-row n_docs broadcast (r6: eager
                                    # count folded into the lazy plan)
        "tfidf_top_terms",          # same 1-row n_docs broadcast
        "bm25_search",              # 1-row (N, avgdl) corpus-stats broadcast
        "bm25_prebuilt",            # same 1-row stats broadcast, derived
                                    # from the doclens index table
        "dsir_importance_weights",  # 1-row (R, T) totals broadcast onto
                                    # the B-row hashed-bucket table
        "vocab_growth_curve",       # 1-row (min, max) doc_id bounds
                                    # broadcast for bucket assignment
        "heavy_hitters_cms",        # 1-row total-count broadcast (N for the
                                    # CM overshoot-bound claim)
        "heavy_hitters_cms_stream",  # same 1-row N broadcast + 1-row
                                     # merge-additivity claim broadcast
        "rfm_segmentation_approx",  # same 1-row broadcasts; thresholds via
                                    # approx_percentile sketch
        # the r11 pinned-claim checked wrappers each crossJoin ONE 1-row
        # claims aggregate (broadcast) onto the replayable spine — the
        # _sketch_user_stats shape
        "dedup_minhash_lsh_fast",   # 1-row recall/est-dev claims broadcast
        "dedup_clusters_fast",      # 1-row label-agreement claim broadcast
        "salted_join_cms",          # 1-row superset/identity claims
                                    # broadcast (r13 checked wrapper)
        "frequent_best_customer_revenue",  # 1-row max-spend broadcast
                                           # (Q23 best-customer threshold)
        "table_fingerprint_stream",  # 1-row merge-additivity claim
                                     # broadcast (32-row digest tables)
        "embedding_pca_project",    # 1-row subspace-invariant claims
                                    # broadcast (plus the sanctioned
                                    # broadcast-K Lloyd-free Gram path)
        "wealthy_idle_customers",   # 1-row balance-threshold aggregate
                                    # broadcast over the customer scan
                                    # (the Q22 scalar-AVG subquery)
        "important_part_value",     # 1-row (total, n_parts) threshold
                                    # broadcast over the per-part
                                    # aggregate (the Q11 HAVING scalar)
        "nearest_station_salted_checked",  # 1-row identity claim broadcast
                                           # (r15 checked wrapper — the
                                           # salted_join_cms shape)
    }
    for name, fn in em.queries().items():
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
        if "BroadcastNestedLoopJoin" in plan:
            assert name in bnlj_ok, f"{name} plans an unsanctioned BNLJ"


def test_asof_join_single_shuffle(spark):
    """The as-of join must cost one hash shuffle (the union'd window
    partition key) + the presentation sort — the union+window trick's whole
    selling point."""
    from weather_database_system_spark.operators.temporal import asof_attribution
    from weather_database_system_spark.plans import shuffle_count

    assert shuffle_count(asof_attribution(spark, SF_SMOKE)) <= 2


def test_grouping_sets_single_scan_with_expand(spark):
    """GROUPING SETS must be one scan + one Expand + one agg shuffle — not
    a union of per-grain scans."""
    from weather_database_system_spark.operators.relational import (
        grouping_sets_revenue,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = grouping_sets_revenue(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Expand" in plan
    # one scan = one file-index Location entry in the formatted detail
    assert plan.count("Location: InMemoryFileIndex") == 1
    # agg exchange + presentation sort + the conditional spread_fact
    # round-robin over the single-row-group smoke scan (no-op at scale)
    assert shuffle_count(df) <= 3
    assert plan.count("RoundRobinPartitioning") <= 1


def test_histogram_partial_aggregates(spark):
    """Constant-cardinality histogram: map-side combine before the single
    agg shuffle."""
    from weather_database_system_spark.operators.relational import (
        histogram_value_buckets,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = histogram_value_buckets(spark, SF_SMOKE)
    assert formatted_plan(df).count("HashAggregate") >= 2
    assert shuffle_count(df) <= 2


def test_time_weighted_avg_single_window_shuffle(spark):
    """lead() + agg over the same series key: one hash shuffle for the
    window, the agg reuses or follows it — never a second full-data sort."""
    from weather_database_system_spark.operators.temporal import time_weighted_avg
    from weather_database_system_spark.plans import shuffle_count

    assert shuffle_count(time_weighted_avg(spark, SF_SMOKE)) <= 3


def test_stratified_sample_is_map_only(spark):
    """Hash-mod sampling must be a map-only scan (the one exchange is the
    presentation sort)."""
    from weather_database_system_spark.operators.scale import stratified_sample
    from weather_database_system_spark.plans import shuffle_count

    assert shuffle_count(stratified_sample(spark, SF_SMOKE)) <= 1


def test_corpus_curation_one_scan(spark):
    """The three curation gates compose over ONE documents scan (window +
    agg), not one scan per gate."""
    from weather_database_system_spark.operators.textan import corpus_curation
    from weather_database_system_spark.plans import formatted_plan

    plan = formatted_plan(corpus_curation(spark, SF_SMOKE))
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_whole_stage_codegen_covers_hot_path(spark):
    """The scan→filter→project→partial-agg pipeline of the flagship query
    runs inside WholeStageCodegen (no interpreted operators in the hot
    path)."""
    from weather_database_system_spark.operators.relational import pricing_summary
    from weather_database_system_spark.plans import wholestage_codegen_count

    assert wholestage_codegen_count(pricing_summary(spark, SF_SMOKE)) >= 2


def test_aqe_splits_skewed_join_partition(spark):
    """The 100× risk for the star-schema surface is a skewed JOIN key (one
    hot customer in an orders⋈lineitem-shaped join): a single reducer gets
    the hot key's partition and the stage runs at straggler speed. The
    session enables AQE skew-join handling; this pins that a deliberately
    hot key actually triggers the runtime split (SortMergeJoin(skew=true) in
    the final adaptive plan) — thresholds are lowered to make local-mode
    data look skewed, the mechanism is identical at cluster scale."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "131072"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(0, 250_000).select(
            F.when(F.col("id") < 150_000, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 32), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 5_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        joined = left.join(right, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"no skew split in final plan:\n{plan[:1500]}"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sessionization_shares_one_user_exchange(spark):
    """The lag window, the cumulative session counter and the per-session
    groupBy must all ride ONE user_id hash exchange (HashPartitioning on
    user_id satisfies the (user_id, session_no) clustering) — plus only the
    presentation sort's range exchange. A second hash shuffle here would
    move the event stream twice at 100 TB."""
    from weather_database_system_spark.operators.behavioral import sessionize_events
    from weather_database_system_spark.plans import shuffle_count

    assert shuffle_count(sessionize_events(spark, SF_SMOKE)) <= 2


def test_r8_yardstick_wrappers_broadcast_their_joins(spark):
    """The r8 pinned-claim wrappers bolt a tiny exact-yardstick aggregate
    onto the production plan via a BROADCAST join — if any of them ever
    plans a sort-merge join, the wrapper would shuffle the full input a
    second time at scale."""
    from weather_database_system_spark.functions.udfs import (
        udf_weighted_mean_price,
    )
    from weather_database_system_spark.operators.scale import (
        anomaly_mad_zscore_approx,
        approx_distinct_users_scale,
    )
    from weather_database_system_spark.plans import (
        broadcast_join_count,
        formatted_plan,
    )

    for fn, min_bcast in (
        (approx_distinct_users_scale, 1),
        (udf_weighted_mean_price, 1),
        (anomaly_mad_zscore_approx, 2),  # med + mads broadcasts
    ):
        df = fn(spark, SF_SMOKE)
        assert broadcast_join_count(df) >= min_bcast, fn.__name__
        assert "SortMergeJoin" not in formatted_plan(df), fn.__name__


def test_codec_stage_repartitions_before_python(spark):
    """The binary-tier payload builders must plan an Exchange on doc_id
    BEFORE the Python codec stage: a single-split small-SF input would
    otherwise serialize the whole per-payload encode/decode onto one task
    (measured ~1-core throughput at the r8 rehearsal)."""
    from weather_database_system_spark.operators.multimodal import (
        _audio_raw_features,
        png_decode_features,
        with_image_payload,
        with_jpeg_payload,
    )
    from weather_database_system_spark.plans import formatted_plan

    for df in (
        png_decode_features(spark, SF_SMOKE),
        with_jpeg_payload(spark, SF_SMOKE),
        with_image_payload(spark, SF_SMOKE),
        _audio_raw_features(spark, SF_SMOKE),
    ):
        plan = formatted_plan(df)
        assert "hashpartitioning(doc_id" in plan, plan[:1500]


def test_station_rollup_partial_agg_and_bounded_shuffles(spark):
    """feed_station_rollup: the station-keyed daily rollup must map-side
    combine (partial + final HashAggregate) with only the agg exchange
    and the output sort — the enrichment (station key + envelope) is a
    pure projection that adds no shuffle."""
    from weather_database_system_spark.pipeline.ingest import (
        feed_station_rollup,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = feed_station_rollup(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # the string-typed etl_batch_id min gives an immutable agg buffer, so
    # Spark picks SortAggregate — partial+final combine is what matters
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "partial_" in plan
    assert shuffle_count(df) <= 2, plan[:1500]


def test_kmeans_assignment_is_a_projection_no_exchange(spark):
    """Nearest-centroid assignment (_assign_cells) must plan as a pure
    map-side projection — ZERO exchanges between the embeddings scan and
    the cell id (r5 verdict #3: the old crossJoin+row_number form hashed
    N×K rows per Lloyd iteration). The fold-into-literal-argmin shape is
    what lets the IVF/PQ family train on a 100 TB table without moving it."""
    from pyspark.sql import functions as F

    from weather_database_system_spark.operators.dedup import _emb_double
    from weather_database_system_spark.operators.similarity import (
        K_CELLS,
        N_QUERIES,
        _assign_cells,
    )
    from weather_database_system_spark.plans import shuffle_count

    cand = (
        _emb_double(spark, SF_SMOKE)
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "emb")
    )
    init = cand.orderBy("vec_id").limit(K_CELLS).collect()
    cents = [(cell, list(r["emb"])) for cell, r in enumerate(init)]
    assigned = _assign_cells(cand, cents)
    assert shuffle_count(assigned) == 0, assigned._jdf.queryExecution().toString()[:2000]
    # and it assigns every candidate to a real cell
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(K_CELLS)) and cells


def test_sole_return_supplier_single_fact_pass(spark):
    """The Q21-shaped double-EXISTS must run as ONE grouped pass over the
    fact table: exactly one lineitem scan (the textbook correlated form
    scans it three times via two self-joins) and at most four shuffles —
    the pair-dedupe exchange is the only one carrying fact-sized rows
    (per-order / per-supplier aggregates and the presentation sort ride
    on aggregated rows)."""
    import re

    from weather_database_system_spark.operators.relational import (
        sole_return_supplier,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = sole_return_supplier(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the self-join form leaked back"
    )
    assert shuffle_count(df) <= 4
    assert "CartesianProduct" not in plan


def test_customer_order_distribution_pushes_agg_below_outer_join(spark):
    """The Q13-shaped distribution must aggregate qualifying orders BEFORE
    the outer join (one fact shuffle for the per-custkey agg, one tiny
    histogram agg, one presentation sort), never shuffle a customer ×
    orders join and count after — and the pre-aggregated side must reach
    the customer join as a broadcast at test SF."""
    from weather_database_system_spark.operators.relational import (
        customer_order_distribution,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = customer_order_distribution(spark, SF_SMOKE)
    assert shuffle_count(df) <= 3
    assert "BroadcastHashJoin" in formatted_plan(df)


def test_small_quantity_part_revenue_single_scan_window(spark):
    """The Q17-shaped correlated-average filter must run as a SINGLE
    lineitem scan (the textbook decorrelation self-joins the fact table —
    two scans) with the per-part sums riding ONE window exchange; part
    arrives by broadcast and the brand rollup + sort move aggregated
    rows only."""
    import re

    from weather_database_system_spark.operators.relational import (
        small_quantity_part_revenue,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = small_quantity_part_revenue(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the self-join decorrelation leaked back"
    )
    assert shuffle_count(df) <= 3
    assert "BroadcastHashJoin" in plan


def test_large_volume_orders_aggregates_fact_once(spark):
    """The Q18-shaped IN-subquery query must aggregate lineitem ONCE and
    reuse the aggregate as both the semi-probe and the sum_qty output
    (the textbook form scans + aggregates the fact table twice)."""
    import re

    from weather_database_system_spark.operators.relational import (
        large_volume_orders,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = large_volume_orders(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the IN-subquery re-aggregation leaked back"
    )
    assert shuffle_count(df) <= 5
    assert "CartesianProduct" not in plan


def test_wealthy_idle_customers_anti_join_one_row_broadcast(spark):
    """The Q22 shape must plan the balance threshold as ONE 1-row
    aggregate broadcast (BNLJ-sanctioned) and idleness as a LEFT ANTI
    join — never a per-row subquery or a fact-sized outer join."""
    from weather_database_system_spark.operators.relational import (
        wealthy_idle_customers,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = wealthy_idle_customers(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert shuffle_count(df) <= 3


def test_quarterly_top_supplier_no_view_recompute(spark):
    """The Q15 shape must compute the revenue view ONCE (one fact scan,
    one agg exchange, persisted) and resolve the per-quarter max as a
    quarters-sized aggregate broadcast back onto it — the correlated-max
    form recomputes the view, and a quarter-partitioned window would
    funnel one supplier-dim-sized partition per quarter through a
    single task at scale."""
    import re

    from weather_database_system_spark.operators.relational import (
        quarterly_top_supplier,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = quarterly_top_supplier(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the revenue view is being recomputed"
    )
    # view agg + max agg + presentation sort (the r18 spread_fact
    # round-robin was reverted in r19 — supplier-grained keys defeat
    # map-side combine, so the spread only added a fact shuffle)
    assert shuffle_count(df) <= 3
    assert "RoundRobinPartitioning" not in plan


def test_nation_trade_volume_dims_filter_before_fact(spark):
    """The Q7 shape must push the nation-pair membership into both
    dimension sides BEFORE the fact joins (the textbook form filters
    after a 6-way join), scan lineitem once, and attach nation names to
    the years-sized aggregate — never drag strings through the fact
    shuffle."""
    import re

    from weather_database_system_spark.operators.relational import (
        nation_trade_volume,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = nation_trade_volume(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert shuffle_count(df) <= 5


def test_regional_market_share_one_pass_conditional_agg(spark):
    """The Q8 shape must compute numerator and denominator in ONE
    aggregate over ONE lineitem scan (the textbook CASE-inside-division
    re-reads nothing but naïve rewrites split the two sums) and resolve
    region membership as a semi join."""
    import re

    from weather_database_system_spark.operators.relational import (
        regional_market_share,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = regional_market_share(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "LeftSemi" in plan
    assert shuffle_count(df) <= 5


def test_returned_item_customers_aggregates_before_dims(spark):
    """The Q10 shape must push the returnflag equality and the order-date
    window into the scans, aggregate to customer keys BEFORE joining the
    customer/nation dims, and run top-20 as TakeOrdered — never a global
    sort of the fact."""
    from weather_database_system_spark.operators.relational import (
        returned_item_customers,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = returned_item_customers(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "l_returnflag" in plan and "PushedFilters" in plan
    assert shuffle_count(df) <= 4


def test_promo_revenue_share_pruned_broadcast_single_shuffle(spark):
    """The Q14 shape must prune part to (key, boolean) before the
    broadcast, push the ship-date window into the lineitem scan, and
    aggregate the month grain in one exchange."""
    import re

    from weather_database_system_spark.operators.relational import (
        promo_revenue_share,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = promo_revenue_share(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in plan  # date window reaches the scan
    assert shuffle_count(df) <= 2


def test_disjunctive_brand_revenue_superset_pushdown(spark):
    """The Q19 shape's value is the factoring Catalyst does not do on
    its own: the per-side superset predicates (brand IN + size hull on
    part, quantity hull on lineitem) must appear as PushedFilters on
    their scans, with only the residual OR evaluated post-join."""
    from weather_database_system_spark.operators.relational import (
        disjunctive_brand_revenue,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = disjunctive_brand_revenue(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "p_brand" in plan and "p_size" in plan and "l_quantity" in plan
    assert "BroadcastHashJoin" in plan
    assert shuffle_count(df) <= 2


def test_min_cost_supplier_pushes_family_below_pair_agg(spark):
    """The Q2 shape must push the part-family filter BELOW the pair
    aggregation (broadcast semi on the fact scan), scan lineitem once,
    resolve the per-part min as an aggregate equi-join (never a
    suppliers-per-part-wide window), and cut the top-100 as TakeOrdered."""
    import re

    from weather_database_system_spark.operators.relational import (
        min_cost_supplier,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = min_cost_supplier(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert shuffle_count(df) <= 5


def test_nation_profit_single_fact_pass(spark):
    """The Q9 shape must push the name-family LIKE into the part scan,
    broadcast all dims except orders, and aggregate the two-table profit
    expression in ONE fact pass."""
    import re

    from weather_database_system_spark.operators.relational import nation_profit
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = nation_profit(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "BroadcastHashJoin" in plan
    assert "p_name" in plan  # family filter reaches the part side
    assert shuffle_count(df) <= 4


def test_important_part_value_aggregates_once(spark):
    """The Q11 shape must aggregate lineitem ONCE and derive the
    threshold from a 1-row re-aggregation of the same partials (the
    textbook HAVING form scans the fact three times)."""
    import re

    from weather_database_system_spark.operators.relational import (
        important_part_value,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = important_part_value(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert shuffle_count(df) <= 3


def test_supplier_count_family_anti_join(spark):
    """The Q16 shape must resolve NOT IN as a LEFT ANTI against the
    broadcast excluded-supplier set and push both part predicates into
    the dimension scan."""
    import re

    from weather_database_system_spark.operators.relational import (
        supplier_count_by_part_family,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = supplier_count_by_part_family(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "LeftAnti" in plan
    assert "p_brand" in plan and "p_size" in plan
    assert shuffle_count(df) <= 4


def test_excess_share_suppliers_flattened_decorrelation(spark):
    """The Q20 shape must flatten the doubly-nested IN into ONE pair
    aggregation reused for both the per-pair quantities and the
    per-part totals (single lineitem scan), with semi joins for the
    family and supplier memberships — never a per-row subquery."""
    import re

    from weather_database_system_spark.operators.relational import (
        excess_share_suppliers,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = excess_share_suppliers(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert "LeftSemi" in plan
    assert shuffle_count(df) <= 5


def test_discount_elimination_all_predicates_pushed(spark):
    """The Q6 shape's whole value: ship-year, discount band, and quantity
    cap ALL reach the parquet scan as PushedFilters; the aggregate is
    partial (one row per task) with a single 1-row exchange."""
    from weather_database_system_spark.operators.relational import (
        discount_elimination_revenue,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        shuffle_count,
    )

    df = discount_elimination_revenue(spark, SF_SMOKE)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    assert formatted_plan(df).count("HashAggregate") >= 2  # partial + final
    assert shuffle_count(df) <= 1


def test_correlation_matrix_one_pass_moments(spark):
    """All six Pearson pairs must come from ONE lineitem scan and ONE
    1-row moment aggregate (partial + final) — never a per-pair corr()
    pass; the pair assembly is an explode of the single moment row."""
    import re

    from weather_database_system_spark.operators.featurize import (
        correlation_matrix,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = correlation_matrix(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final moments
    assert shuffle_count(df) <= 1


def test_shipmode_priority_counts_derived_bound_pushdown(spark):
    """The Q12 shape's load-bearing moves: (a) the receipt-year window on
    the DERIVED receipt date implies a bound on the physical l_shipdate
    that must reach the parquet scan as a PushedFilter (partition/row-
    group pruning at 100 TB — the textbook predicate can never push);
    (b) all lineitem predicates sit below the join, so exactly one scan
    of each table and ≤3 shuffles (join sides + presentation sort —
    collapsing to 2 when AQE broadcasts the filtered fact side at test
    SF); (c) the priority CASE is classified inside the orders scan, so
    no o_orderpriority string survives past the join."""
    import re

    from weather_database_system_spark.operators.relational import (
        shipmode_priority_counts,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        shuffle_count,
    )

    df = shipmode_priority_counts(spark, SF_SMOKE)
    plan = formatted_plan(df)
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pf and "LessThan(l_shipdate" in pf
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1
    assert len(re.findall(r"Location:.*orders", plan)) == 1
    assert shuffle_count(df) <= 3
    assert "CartesianProduct" not in plan
    # the priority CASE is classified inside the orders scan's project
    # (the join/aggregate consume the is_high int, and the scan itself is
    # pruned to exactly the key + priority columns)
    assert "is_high" in plan
    assert re.search(
        r"ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>", plan
    )


def test_yoy_revenue_delta_single_scan_conditional(spark):
    """The DS-Q75 shape must fold both years into ONE fact pass: exactly
    one lineitem scan (the textbook two-CTE form scans twice), the
    two-year shipdate window pushed to parquet, part arriving by
    broadcast, and ≤2 shuffles (brand aggregate + presentation sort)."""
    import re

    from weather_database_system_spark.operators.relational import (
        yoy_revenue_delta,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        shuffle_count,
    )

    df = yoy_revenue_delta(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the per-year-subquery form leaked back"
    )
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pf and "LessThan(l_shipdate" in pf
    assert "BroadcastHashJoin" in plan
    assert shuffle_count(df) <= 2


def test_multi_band_counts_one_scan_eight_bands(spark):
    """The DS-Q88 shape must fold all eight band counts into ONE events
    scan (the textbook form runs eight scalar-subquery scans) with the
    type filter pushed and the aggregate map-side combined to one row
    (partial + final HashAggregate, ≤1 shuffle)."""
    import re

    from weather_database_system_spark.operators.behavioral import (
        multi_band_counts,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        shuffle_count,
    )

    df = multi_band_counts(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*events", plan)) == 1, (
        "events scanned more than once — the scalar-subquery form leaked back"
    )
    assert "event_type" in " ".join(pushed_filters(df))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert shuffle_count(df) <= 1


def test_bpe_merge_pairs_vocab_factored(spark):
    """The BPE pair count must ride the WORD-FREQUENCY table (Sennrich
    rewrite): one documents scan, the pair explode consuming the vocab
    aggregate's output (two aggregate exchanges — vocab + pair — and no
    third), and the top-K cut a TakeOrdered, never a global sort."""
    import re

    from weather_database_system_spark.operators.trainprep import (
        bpe_merge_pairs,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = bpe_merge_pairs(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*documents", plan)) == 1
    assert shuffle_count(df) <= 2
    assert "TakeOrderedAndProject" in plan


def test_skew_split_join_salted_composite_keys(spark):
    """The skew-split join must plan the COMPOSITE-key join (salt in the
    join keys — the hot key's rows scatter over N_SALTS reducers), with
    the bounded hot set arriving at both sides by broadcast and exactly
    two lineitem scans (hot detection + fact; the dim scanned once)."""
    import re

    from weather_database_system_spark.operators.scale import skew_split_join
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = skew_split_join(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "salt" in plan  # composite join key survives into the plan
    assert "BroadcastHashJoin" in plan  # the hot set broadcasts
    # the detection aggregate is persisted so both join sides read the
    # cached hot set rather than re-scanning the fact table
    assert "InMemoryTableScan" in plan
    assert len(re.findall(r"Location:.*orders", plan)) == 1
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 5


def test_rollup_topk_per_grain_single_expand_pass(spark):
    """The DS-Q67 shape must compute every grain in ONE fact pass: a
    single lineitem scan feeding an Expand (grouping sets), one window
    ranking inside the grain partitions, ≤3 shuffles (grain aggregate +
    window partition + presentation sort) — the textbook per-grain
    UNION ALL scans once per grain."""
    import re

    from weather_database_system_spark.operators.relational import (
        rollup_topk_per_grain,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = rollup_topk_per_grain(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 1, (
        "lineitem scanned more than once — the per-grain UNION form leaked back"
    )
    assert "Expand" in plan
    # exactly one Window NODE (the formatted details repeat the name)
    assert len(re.findall(r"^\s*(?:\+-|:-)?\s*Window \(\d+\)", plan, re.M)) == 1
    assert shuffle_count(df) <= 3


def test_salted_join_cms_checked_claims_and_broadcasts(spark):
    """The checked salted-join entry must keep its audit machinery
    broadcast-shaped: the CMS hot set and the 1-row claim aggregates
    arrive by broadcast (no CartesianProduct anywhere), and the claim
    columns (detector_superset_ok / salted_identity_ok) survive into the
    physical plan as engine-side attributes rather than being folded
    away to driver-side constants."""
    from weather_database_system_spark.operators.scale import (
        salted_join_cms_checked,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = salted_join_cms_checked(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # hot set joins broadcast
    # the 1-row claims frame rides a broadcast nested loop, the sanctioned
    # shape for scalar claim attachment
    assert "BroadcastNestedLoopJoin" in plan
    assert "__salt" in plan  # the composite salted key survives planning
    # The claim attributes must be computed in the plan, not constant-
    # folded: their names appear as output attributes of plan nodes
    # (ADVICE r13 #3 — previously only claimed in the docstring).
    assert "detector_superset_ok" in plan
    assert "salted_identity_ok" in plan


def test_channel_cumulative_compare_single_scan_one_window_chain(spark):
    """The DS-Q51 shape must materialize the full-outer grid via ONE
    conditional aggregate over ONE events scan (textbook: two scans +
    a full-outer join), with the channel filter pushed to parquet and
    both cumulative layers sharing a single user_id window partitioning
    — 2 Window nodes, no Join at all, ≤3 shuffles (grid agg, window,
    presentation sort)."""
    import re

    from weather_database_system_spark.operators.behavioral import (
        channel_cumulative_compare,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        shuffle_count,
    )

    df = channel_cumulative_compare(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*events", plan)) == 1, (
        "events scanned more than once — the two-CTE textbook form leaked back"
    )
    assert any("event_type" in f and "In" in f for f in pushed_filters(df))
    assert "Join" not in plan  # the grid IS the full-outer key set
    assert len(re.findall(r"^\s*(?:\+-|:-)?\s*Window \(\d+\)", plan, re.M)) == 2
    assert shuffle_count(df) <= 3


def test_trigram_index_search_posting_intersection_shape(spark):
    """The trigram search must stay index-shaped: the needle's literal
    IN-list prunes the posting stream, the documents table is read at
    most twice (posting build + candidate verify — at scale the posting
    side is a pre-built index and disappears), candidates join back by
    equi-join (never a cartesian), and the scans read only the three
    needed columns."""
    import re

    from weather_database_system_spark.operators.textan import (
        trigram_index_search,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        read_schema_columns,
        shuffle_count,
    )

    df = trigram_index_search(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*documents", plan)) == 2
    assert "CartesianProduct" not in plan
    assert "array_intersect" in plan  # the 8-literal posting prune,
    # fused into the same codegen stage as the trigram transform
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "lang", "text"}  # pruned scans
    assert shuffle_count(df) <= 4  # postings agg, join sides, final sort


def test_trigram_search_prebuilt_reads_index_not_corpus(spark):
    """The prebuilt-index variant (r13 VERDICT task #3) must price the
    QUERY at posting-list bytes: documents scanned exactly ONCE (the
    final contains-verify), the posting side a parquet scan of the
    written index with the needle's IN-list PUSHED to the parquet reader
    (row-group pruning against the tri-sorted index files), no
    cartesian, and no corpus-side trigram transform anywhere in the
    query plan."""
    import re

    from weather_database_system_spark.operators.textan import (
        trigram_search_prebuilt,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        read_schema_columns,
    )

    df = trigram_search_prebuilt(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*documents", plan)) == 1  # verify only
    assert len(re.findall(r"Location:.*trigram_postings", plan)) == 1
    assert "CartesianProduct" not in plan
    # the corpus trigram explode is a BUILD-time cost; the query plan
    # must not recompute it
    assert "array_intersect" not in plan
    assert "sequence(1" not in plan
    assert any(f.startswith("In(tri") for f in pushed_filters(df))
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "lang", "text", "tri"}


def test_bm25_prebuilt_reads_only_index_bytes(spark):
    """The stored-BM25 query (r15, the fifth stored-index family) is the
    strongest index-priced shape of the five: ZERO corpus scans — no
    documents location, no tokenize/explode anywhere in the plan — the
    query-term posting lists arrive via a parquet In(term,...)
    PushedFilter against the term-sorted postings files, and N/avgdl/df
    are aggregates of index tables (doclens + pruned postings)."""
    import re

    from weather_database_system_spark.operators.textan import bm25_prebuilt
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
        read_schema_columns,
    )

    df = bm25_prebuilt(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*documents", plan)) == 0  # zero corpus
    # 3 index scans: postings twice (the tf join side AND the df
    # aggregate — both pruned to posting-list bytes by the pushed IN)
    # plus doclens once for the 1-row N/avgdl stats
    assert len(re.findall(r"Location:.*bm25_index", plan)) == 3
    assert "CartesianProduct" not in plan
    assert "explode" not in plan.lower()  # tokenize is a BUILD-time cost
    assert any(f.startswith("In(term") for f in pushed_filters(df))
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "term", "tf", "dl"}


def test_ann_ivf_prebuilt_probes_index_by_partition(spark):
    """The prebuilt IVF query must price at index bytes: assignments come
    from the stored cell-partitioned index (exactly ONE ivf_index scan,
    with a dynamic-partition-pruning filter on cell — a probe reads only
    its routed cell directories), no Lloyd pass over the corpus in the
    query plan (embeddings scans are the query rows + gather sides + the
    DPP subquery, <= 4), and no cartesian anywhere."""
    import re

    from weather_database_system_spark.operators.similarity import (
        ann_ivf_prebuilt,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = ann_ivf_prebuilt(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*ivf_index", plan)) == 1
    assert "dynamicpruning" in plan.lower()  # cell-directory pruning
    assert len(re.findall(r"Location:.*embeddings", plan)) <= 4
    assert "CartesianProduct" not in plan


def test_trigram_needle_contract_self_enforcing(spark):
    """Needles that would desynchronize the literal engine side from the
    LIKE-interpolating oracle (%, _, quote) must fail loudly (ADVICE
    r13 #4), as must sub-trigram needles."""
    import pytest

    from weather_database_system_spark.operators.textan import _needle_tris

    assert _needle_tris("spark join")  # the registry needle passes
    for bad in ("100% done", "under_score", "it's", "ab"):
        with pytest.raises(ValueError):
            _needle_tris(bad)


def test_minmax_downsample_single_scan_one_exchange(spark):
    """The M4-style decimation must rank both extremes in ONE pass: a
    single events scan, both row_number orderings sharing the
    (event_type, day) partitioning (2 Window nodes, one exchange), the
    per-bucket emit via the CASE-array explode — no UNION re-scan, no
    join — plus only the presentation sort."""
    import re

    from weather_database_system_spark.operators.temporal import (
        minmax_downsample,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = minmax_downsample(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*events", plan)) == 1, (
        "events scanned more than once — the two-branch UNION form leaked back"
    )
    assert "Join" not in plan
    assert len(re.findall(r"^\s*(?:\+-|:-)?\s*Window \(\d+\)", plan, re.M)) == 2
    assert "Generate" in plan  # the explode emitting min/max kinds
    assert shuffle_count(df) <= 2  # window exchange + presentation sort


def test_table_fingerprint_single_scan_no_sort_of_rows(spark):
    """The replica checksum must stay one-pass: a single orders scan, a
    map-side-combined 32-key aggregate (partial + final HashAggregate),
    no Join, no row-level Sort — only the 32-row presentation sort. The
    whole point is that verification never re-orders 100 TB."""
    import re

    from weather_database_system_spark.operators.scale import table_fingerprint
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = table_fingerprint(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*orders", plan)) == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)
    assert shuffle_count(df) <= 2  # 32-key agg exchange + 32-row sort


def test_fingerprint_generic_orders_same_one_pass_shape(spark):
    """The generic library path must keep the yardstick's plan shape —
    ONE orders scan, map-side-combined bounded-key aggregate, no Join,
    no row-level sort — the per-type canonicalization is pure projection
    work inside the same stage."""
    import re

    from weather_database_system_spark.operators.scale import (
        fingerprint_generic_orders,
    )
    from weather_database_system_spark.plans import formatted_plan, shuffle_count

    df = fingerprint_generic_orders(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*orders", plan)) == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    assert shuffle_count(df) <= 2


def test_frequent_best_customer_revenue_filters_before_join(spark):
    """The DS-Q23 shape must filter BOTH fact-join inputs before the
    orderkey shuffle: the frequent-part set semi-joins the pruned
    reporting-year lineitem slice (whose year bound is a parquet
    PushedFilter), the best-customer set semi-joins orders, and the max
    spend arrives as a 1-row broadcast. Exactly two lineitem scans
    (history pass for the frequent set + the bounded reporting pass)
    and two orders scans (spend pass + key mapping) — the textbook
    IN-after-join form ships every reporting-year line through the join
    first."""
    import re

    from weather_database_system_spark.operators.relational import (
        frequent_best_customer_revenue,
    )
    from weather_database_system_spark.plans import (
        formatted_plan,
        pushed_filters,
    )

    df = frequent_best_customer_revenue(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*lineitem", plan)) == 2
    assert len(re.findall(r"Location:.*orders", plan)) == 2
    assert any("l_shipdate" in f for f in pushed_filters(df))
    assert "LeftSemi" in plan  # both IN-filters planned as semi joins
    assert "CartesianProduct" not in plan


def test_nearest_station_blocked_join_no_cartesian(spark):
    """The spatial nearest join must plan as a cell-key EQUI-join (never
    the oracle's cross join): one customer scan, one supplier scan, the
    ×9 neighborhood replication via a Generate on the station side, a
    single per-customer Window for the argmin, and zero cartesian/BNLJ
    nodes."""
    import re

    from weather_database_system_spark.operators.spatial import (
        nearest_station_within_radius,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = nearest_station_within_radius(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"Location:.*customer", plan)) == 1
    assert len(re.findall(r"Location:.*supplier", plan)) == 1
    assert "Generate" in plan  # the 3x3 neighborhood explode
    assert len(re.findall(r"^\s*(?:\+-|:-)?\s*Window \(\d+\)", plan, re.M)) == 1


def test_nearest_station_salted_checked_claims_and_salt(spark):
    """The salted-spatial registry entry (r14 VERDICT task #3) must keep
    the salted_join_cms_checked shape: the composite __salt key survives
    into the physical plan (the hot-cell split actually routes through
    salted_join), the 1-row identity claim rides the sanctioned
    broadcast-nested-loop attachment, the claim attribute is computed in
    the plan rather than constant-folded, and no CartesianProduct
    appears anywhere."""
    from weather_database_system_spark.operators.spatial import (
        nearest_station_salted_checked,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = nearest_station_salted_checked(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "__salt" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "salted_identity_ok" in plan


def test_ann_ivf_prebuilt_appended_reads_only_its_index(spark):
    """The appended-index entry must stay index-probed like its one-shot
    twin: the query half reads the ivf_index_appended slot's assignments
    exactly once and never scans the base ivf_index slot — the appended
    generations are served through the same cell-partitioned directory,
    not a union with a second index."""
    import re

    from weather_database_system_spark.operators.similarity import (
        ann_ivf_prebuilt_appended,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = ann_ivf_prebuilt_appended(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*ivf_index_appended", plan)) == 1
    assert "CartesianProduct" not in plan


def test_dedup_against_index_prebuilt_reads_stored_index(spark):
    """The prebuilt dedup probe must be index-shaped: both stored tables
    (digests + bands) arrive from the dedup_index parquet slot — exactly
    two index scan locations — and no cartesian appears. The corpus-wide
    signature recompute of the in-query form is absent: md5/signature
    work exists only on the (persisted, delta-sized) batch side."""
    import re

    from weather_database_system_spark.operators.dedup import (
        dedup_against_index_prebuilt,
    )
    from weather_database_system_spark.plans import formatted_plan

    df = dedup_against_index_prebuilt(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*dedup_index", plan)) == 2
    assert "CartesianProduct" not in plan


def test_ann_pq_query_prebuilt_reads_codes_not_floats(spark):
    """The stored-PQ query half must price at index bytes: exactly one
    scan of the pq_index codes table (codebooks are collected KB-scale
    driver state, not a plan node) and exactly one embeddings scan — the
    N_QUERIES query vectors. The candidate corpus's raw floats appear
    nowhere: scoring runs entirely on (vec_id, m, code) ints against the
    broadcast ADC table."""
    import re

    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.similarity import (
        PQ,
        ann_pq_query_prebuilt,
    )
    from weather_database_system_spark.plans import formatted_plan

    path = ensure(PQ, spark, SF_SMOKE)
    df = ann_pq_query_prebuilt(spark, SF_SMOKE, path)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*pq_index", plan)) == 1
    assert len(re.findall(r"Location:.*embeddings", plan)) == 1
    assert "CartesianProduct" not in plan


def test_ann_ivfpq_query_prices_at_probed_cells_codes(spark):
    """The IVF+PQ composition's defining plan property (r17, the FAISS
    IVFADC shape): exactly ONE scan of the ivfpq_index codes store, with
    a dynamic-partition-pruning filter on cell — a probe reads nprobe/K
    of a 16×-compressed store BY DIRECTORY — and no raw candidate floats
    anywhere: the only embeddings scans are the N_QUERIES query rows
    (routing + ADC table + the DPP subquery duplicate, ≤ 3 scans of 10
    rows; the candidate corpus never appears). No stored-IVF
    assignments table, no cartesian."""
    import re

    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.similarity import (
        IVFPQ,
        ann_ivfpq_query_prebuilt,
    )
    from weather_database_system_spark.plans import formatted_plan

    path = ensure(IVFPQ, spark, SF_SMOKE)
    df = ann_ivfpq_query_prebuilt(spark, SF_SMOKE, path)
    plan = formatted_plan(df)
    assert len(re.findall(r"Location:.*ivfpq_index", plan)) == 1
    assert "dynamicpruning" in plan.lower()  # cell-directory pruning
    assert len(re.findall(r"Location:.*embeddings", plan)) <= 3
    assert "assignments" not in plan  # codes ARE the candidate store
    assert "CartesianProduct" not in plan
