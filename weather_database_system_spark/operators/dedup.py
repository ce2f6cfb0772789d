"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates nothing (its warehouse double-loads on rerun —
etlToClickHouse.js:124-128, SURVEY §2A wart 1/2); these operators are the
BASELINE.json extension surface, designed Spark-first:

- exact:        hash-groupBy on content digest — one shuffle on the digest,
                perfectly parallel at any scale.
- MinHash-LSH:  shingle → K minhashes → banded signatures → equi-join on
                (band, signature). The join is the point: candidate pairs come
                from hash-bucket co-location, NEVER an all-pairs crossJoin, so
                cost is O(candidates) not O(n²) — the 100 TB path.
- SimHash:      per-token hash bits → signed sums → compact bit signature;
                near-dups land in the same bucket (equality join at scale,
                optionally with bit-flip probes).
- n-gram Jaccard: exact verification via an inverted shingle index
                (explode → join on shingle → count) — used to confirm LSH
                candidates; kept exact here so the oracle can check it.
- embedding near-dup: cosine over dense vectors in long (vec_id, dim, val)
                form with exact decimal dot products; at scale the all-pairs
                join is replaced by LSH/IVF blocking (see similarity.py).

All hashes are md5 (identical bytes→hex in Spark and DuckDB), so every
operator here is oracle-checkable — the determinism story matters as much as
the algorithm: a dedup pass over 100 TB must be reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from weather_database_system_spark.indexstore import (
    IndexSpec,
    RowsTable,
    compact,
    ensure,
    ensure_snapshot_state,
    slot_live,
    snapshot_equals_live_claim,
)
from weather_database_system_spark.operators.relational import DEC, _fr, _sql_fr
from weather_database_system_spark.session import scratch_path, track_persisted
from weather_database_system_spark.sources.star import load_table

N_HASHES = 8          # minhash signature length
N_BANDS = 4           # LSH bands (rows per band = N_HASHES / N_BANDS = 2)
SIMHASH_BITS = 16     # hex digits of md5 used for simhash
NEAR_DUP_COS = 0.45   # embedding near-dup threshold (data is near-orthogonal)
# Hot-shingle cap: a shingle shared by k docs emits k(k-1)/2 pairs in ONE
# task, so an uncapped boilerplate shingle (licence header, template) is the
# skew bomb at 100 TB. Shingles above this posting-list length are dropped
# from pair generation — they carry no dedup signal (they are, by
# definition, common text). 64 bounds any task at ~2k pairs/shingle.
MAX_POSTING_LEN = 64
# LSH band-bucket cap: the banded candidate stage is a self-join on
# (band, band-signature), so ONE bucket of k docs emits k(k-1)/2 pairs in
# one task — the same skew bomb as an uncapped posting list. A bucket this
# large is either boilerplate (a degenerate signature with no pairwise
# signal) or an identical-text mega-cluster, which is dedup_exact's job
# (the digest path groups it in one hash agg without pair expansion).
# 1024 bounds any task at ~500k pairs and never binds at test SFs — the
# oracles implement the identical cap so the contract stays executable.
BAND_BUCKET_CAP = 1024
# Exact all-pairs near-dup is O(n²) BY DESIGN (it is the verification
# baseline for the LSH path in similarity.py); the guard makes "never run
# this on unbounded input" executable instead of a docstring promise.
MAX_EXACT_VECTORS = 50_000
# --- pinned-claim bounds for the xxhash64 production twins (r8 verdict #3,
# r9 ADVICE). The registry entries for the fast twins are *_checked wrappers
# whose rows are exact, DuckDB-replayable ground truth plus engine-decided
# claim columns about the deployable xxhash plan; these constants pin the
# claims. Measured basis (sf0.001 / sf0.01 / sf0.1): strong-pair recall
# misses 0 / 0 / 0 (md5 twin identical); max |est_jaccard − exact jaccard|
# over found strong pairs 0.2143 / 0.1500 / 0.2192 vs the 0.5 pin (≥2.3×
# margin; P(matched ≤ 3 of 8 | j ≥ 0.9) ≈ 4e-4 per pair, so the bound
# survives dataset regeneration); per-doc label agreement 0.986 / 0.984 /
# 0.8996 vs the 0.85 pin (chance band collisions under the closed test
# vocabulary grow with SF — the r6 NOTES saturation analysis; open-
# vocabulary corpora sit near the sf0.001 figure). Recall/co-cluster slack
# of max(1, 2 % of strong pairs) absorbs the ~0.13 %-per-pair banding
# lottery (1 − (1 − j²)^bands) a regenerated dataset could hit.
STRONG_JACCARD = 0.9
FAST_EST_DEV_MAX = 4.0 / N_HASHES
FAST_LABEL_AGREE_MIN = 0.85
FAST_MISS_SLACK_PCT = 0.02


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def _shingles(toks: Column) -> Column:
    """Distinct 3-gram token shingles; [] when the doc has <3 tokens.

    The size guard matters: F.sequence(0, n-3) with n<3 would generate a
    DESCENDING sequence, not an empty one. The lambda is
    array_join(slice(...)) — 2 interpreted nodes per shingle instead of 3
    element_ats + concat_ws (HOF lambdas don't codegen; measured 3.2× on
    the identical trainprep._grams shape, r4 audit). split() never yields
    NULL tokens, so array_join and concat_ws agree byte-for-byte."""
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
    )
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    return F.when(F.size(toks) >= 3, F.array_distinct(gram)).otherwise(empty)


def _cap_band_buckets(bands: DataFrame, cap: int = BAND_BUCKET_CAP) -> DataFrame:
    """Drop over-cap band buckets BEFORE the pair self-join (see
    BAND_BUCKET_CAP): a count pre-pass marks within-cap (band, bsig)
    buckets and the band stream joins to them — the same
    pre-filter-before-expansion shape as _capped_postings, and the join's
    shuffle-by-bucket clustering is what the pair join needs anyway.

    A window-count formulation (count over partitionBy(band, bsig) +
    filter) was A/B'd and measured ~0.5-1 s faster at sf0.1 — and
    REJECTED: WindowExec buffers each (band, bsig) group in one task
    before the filter can drop it, so a mega-bucket re-creates exactly
    the unbounded single-task state this cap exists to prevent (it
    spills rather than OOMs, but the skewed task is serial). The agg
    side here is map-side-combined counts, and over-cap rows stream
    through the join probe unmatched — nothing ever buffers."""
    sizes = bands.groupBy("band", "bsig").agg(F.count("*").alias("bn"))
    ok = sizes.filter(F.col("bn") <= cap).select("band", "bsig")
    return bands.join(ok, ["band", "bsig"])


def _capped_postings(sh: DataFrame, cap: int) -> DataFrame:
    """Posting lists (``s`` → ``ds`` array of doc_ids) for shingles with
    2..cap postings, WITHOUT ever materializing an over-cap array: a count
    pre-pass marks eligible shingles and the exploded stream joins to them
    BEFORE collect_list. A bare collect_list-then-size-filter builds the
    full posting array in aggregation state first — a boilerplate shingle
    shared by millions of docs is an unbounded in-memory array (observed
    as GC thrash in the 4× scale rehearsal) even though the filter then
    throws it away. Here agg state is bounded by cap per group. Shuffle
    census: the count pre-pass carries map-side-combined (s, n) partials;
    the join's shuffle-by-s clustering is reused by the collect groupBy,
    so the heavy exchange count is unchanged."""
    plen = sh.groupBy("s").agg(F.count("*").alias("plen"))
    eligible = plen.filter((F.col("plen") > 1) & (F.col("plen") <= cap)).select("s")
    return (
        sh.join(eligible, "s")
        .groupBy("s")
        .agg(F.collect_list("doc_id").alias("ds"))
    )


def _grams(toks, n: int):
    """All order-preserving n-gram strings (with repeats — repetition
    statistics and LM counts need the multiset, unlike _shingles' distinct
    set). THE n-gram definition for the whole package: trainprep's
    repetition/contamination stats and textan's bigram LM / PMI scorers all
    build on this one expression (and _sql_grams mirrors it for the
    oracles), so a change to the gram shape lands everywhere at once.

    The lambda body is array_join(slice(...)) — one slice + one join per
    gram instead of n element_at lookups feeding concat_ws. HOF lambdas run
    interpreted, so the per-gram node count is the unit of cost: this cut
    contamination_eval_overlap's gram stage 3.2× at sf0.1 (r4 audit; the
    lead()-window formulation is faster still locally but buys it with a
    full token-level shuffle — wrong trade at corpus scale). Output strings
    are identical: split() never yields NULL tokens, so array_join and
    concat_ws agree byte-for-byte."""
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    return F.when(F.size(toks) >= n, gram).otherwise(empty)


def _sql_grams(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} "
        f"THEN list_transform(range(1, len(toks) - {n - 2}), i -> {parts}) "
        f"ELSE [] END"
    )


def _md5_signatures(docs: DataFrame, n_part: int) -> DataFrame:
    """K min-hashes: h_j = min over shingles of md5('{j}|' + shingle).
    Lexicographic min over hex strings — identical in any engine, so the
    DuckDB oracle replays the same values with list lambdas
    (_sql_minhash_sig) regardless of how Spark computes them.

    Spark-side the stage is explode → hash-aggregate (K ``min(md5(...))``
    per doc), NOT K array_min(transform(...)) passes: higher-order
    functions evaluate interpreted per element and would re-walk the
    shingle array K times (see _fast_signatures — same shape, measured ~3×
    on the xxhash64 twin). Min over the exploded multiset equals min over
    the distinct set, and the explode is pre-partitioned on doc_id so the
    agg adds no exchange."""
    ex = docs.repartition(n_part, "doc_id").select(
        "doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s")
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"m{j}")
            for j in range(N_HASHES)
        ]
    ).select(
        "doc_id", F.array(*[f"m{j}" for j in range(N_HASHES)]).alias("sig")
    )


# SQL twins of the helpers (DuckDB list lambdas), kept adjacent for review.
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _sql_minhash_sig(sh_expr: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({sh_expr}, s -> md5('{j}|' || s)))" for j in range(N_HASHES)
    )
    return f"[{mins}]"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: groupBy(md5(text)) keeping the lowest
    doc_id as canonical. Equivalent to dropDuplicates(["text"]) but with a
    deterministic survivor and an explicit duplicate count. One shuffle on
    the digest; digests are uniform so no skew at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("canonical_doc_id")
    )


def _band_explode(sig_col: str = "sig"):
    """The canonical md5 band derivation — band b's signature is the concat
    of signature rows 2b and 2b+1. ONE definition: _banded_md5_candidates,
    dedup_against_index and the oracle's `sig[2b+1] || sig[2b+2]` must stay
    in lockstep or the LSH paths silently disagree."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat(
                        F.element_at(sig_col, 2 * b + 1),
                        F.element_at(sig_col, 2 * b + 2),
                    ).alias("bsig"),
                )
                for b in range(N_BANDS)
            ]
        )
    ).alias("bb")


def _banded_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash-LSH candidate stage: banded md5 signatures joined
    on (band, band-signature), one row per shared band per pair, columns
    (a.doc_id, a.sig, b.doc_id, b.sig). dedup_minhash_lsh aggregates this
    into scored pairs; dedup_clusters takes just the distinct pairs —
    skipping the matched-hash aggregates and the presentation sort it
    would otherwise pay for and discard."""
    docs = load_table(spark, sf_dir, "documents")
    # A small corpus arrives as one parquet split → one task; the signature
    # stage is CPU-bound (K md5s per shingle), so spread it across cores.
    # At 100 TB the input is already many splits and this is a no-op cost.
    n_part = spark.sparkContext.defaultParallelism
    # Persist the signatures: bands + both sides of the pair join reference
    # them, and without a persist each branch re-hashes the whole corpus
    # (3× the md5 work — measured 3.5× slower at sf0.1). Signatures are
    # tiny next to the text (K hex strings/doc), so this holds at 100 TB.
    # Lifecycle: tracked — callers release via session.release_persisted().
    sigs = track_persisted(_md5_signatures(docs, n_part).persist())
    # Bands carry the full signature (K hex strings ≈ 300 B/doc — cheap next
    # to re-joining the signature table twice after the pair join): the pair
    # stage then computes matched-hash counts inline from the two sig arrays
    # it already has, so the whole operator is ONE band-bucket join + one agg.
    # persist the CAPPED band table: both sides of the pair self-join read
    # it, and without a persist each side re-evaluates the cap subtree
    # (bucket-size agg + join) — measured ~2× the candidate stage
    bands = track_persisted(
        _cap_band_buckets(
            sigs.select("doc_id", "sig", _band_explode()).select(
                "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig")
            )
        ).persist()
    )

    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    shingle(3-gram) → 8 minhashes → 4 bands × 2 rows → candidate pairs are
    docs sharing any (band, band-signature) — an equi-join on the banded
    signature, which at 100 TB is a plain shuffled hash join on uniformly
    distributed keys (no crossJoin anywhere). Output includes the estimated
    Jaccard (fraction of matching minhashes) for each candidate pair.
    """
    matched = F.aggregate(
        F.zip_with(
            F.col("a.sig"), F.col("b.sig"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        _banded_md5_candidates(spark, sf_dir)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            # count(*) ≡ countDistinct(band) here: each doc emits exactly
            # ONE (band, bsig) row per band (the band explode enumerates
            # band literals 0..N_BANDS-1 once; _cap_band_buckets only
            # filters rows), so a pair can match a given band at most
            # once — (doc_a, doc_b, band) rows are distinct by
            # construction. Dropping the distinct removes the rewrite's
            # extra Expand/exchange pass (guide §2.4; r19, one Exchange
            # fewer in the pair agg). Equivalence re-proven vs the oracle.
            F.count("*").alias("n_shared_bands"),
            F.first(matched).cast("int").alias("matched_hashes"),
            _fr(F.first(matched) / F.lit(float(N_HASHES)), 4).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _fast_signatures(docs: DataFrame, n_part: int) -> DataFrame:
    """K min-hashes over xxhash64 — the production-speed signature, computed
    as explode → hash-aggregate rather than nested array lambdas.

    xxhash64 is a single JVM intrinsic per shingle (vs md5's full digest +
    hex encode). The shape matters as much as the hash: higher-order
    functions (transform / array_min) evaluate INTERPRETED per element, and
    the K salted variants re-walk the shingle array K times — measured
    2-3.4s at sf0.1 for 5k docs. Exploding shingles once and taking K
    ``min(xxhash64(j, s))`` aggregates keeps the whole stage inside
    whole-stage-codegen'd hash aggregation (~6× faster, same signature
    VALUES bit-for-bit). The explode is pre-partitioned on doc_id, so the
    agg needs no extra exchange; at 100 TB the (doc, shingle) stream is
    exactly what a signature pass must touch anyway — no giant per-row
    arrays, map-side combine does the mins."""
    ex = docs.repartition(n_part, "doc_id").select(
        "doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s")
    )
    return ex.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(j), F.col("s"))).alias(f"m{j}") for j in range(N_HASHES)]
    ).select(
        "doc_id", F.array(*[f"m{j}" for j in range(N_HASHES)]).alias("sig")
    )


def _banded_fast_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 twin of _banded_md5_candidates: banded fast signatures
    joined on (band, band-signature), one row per shared band per pair,
    columns (a.doc_id, a.sig, b.doc_id, b.sig). Shared by
    dedup_minhash_lsh_fast (scored pairs) and dedup_clusters_fast (distinct
    pairs only). Docs with <3 tokens have no shingles and can never
    band-match; the explode path drops them outright (the array path
    carried null signatures that equi-joins also ignored — same pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    sigs = track_persisted(_fast_signatures(docs, n_part).persist())
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # two int64s per band, fused to one join key
                        F.concat_ws(
                            "_", F.element_at("sig", 2 * b + 1), F.element_at("sig", 2 * b + 2)
                        ).alias("bsig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig"))
    # persisted for the same both-sides reason as _banded_md5_candidates
    bands = track_persisted(_cap_band_buckets(bands).persist())

    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with xxhash64 signatures — identical
    plan shape to dedup_minhash_lsh (persisted signatures, ONE banded
    equi-join, inline matched-hash count) but with the cheap hash in the
    CPU-bound signature stage. This is the variant a 100 TB pass runs; the
    md5 twin exists because md5 is byte-identical in DuckDB and therefore
    oracle-checkable. xxhash64 is Spark-specific, so the REGISTRY surface
    is ``dedup_minhash_lsh_fast_checked`` (exact strong pairs + pinned
    claims about this plan); recall equivalence vs the md5 twin is
    additionally pinned in test_extensions, and bench.py times this raw
    plan directly."""
    matched = F.aggregate(
        F.zip_with(
            F.col("a.sig"), F.col("b.sig"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        _banded_fast_candidates(spark, sf_dir)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            # count(*) ≡ countDistinct(band): see dedup_minhash_lsh.
            F.count("*").alias("n_shared_bands"),
            F.first(matched).cast("int").alias("matched_hashes"),
            _fr(F.first(matched) / F.lit(float(N_HASHES)), 4).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_minhash_lsh_fast_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable registry form of ``dedup_minhash_lsh_fast`` (r8
    verdict #3 / r9 ADVICE): xxhash64 is Spark-specific, so the raw fast
    twin can never be replayed by DuckDB — instead this wrapper grounds it
    against exact ground truth the oracle CAN replay. Output rows are the
    strong near-dup pairs (exact n-gram Jaccard ≥ STRONG_JACCARD from
    ``ngram_jaccard_pairs`` — the operator's semantic contract), and every
    row carries two engine-decided claim columns about the fast plan:

    - ``fast_recall_ok``  — the xxhash banding proposed all strong pairs,
      up to max(1, 2 %) slack (measured: zero missed at every SF).
    - ``fast_est_dev_ok`` — |fast est_jaccard − exact jaccard| ≤ 4/K over
      the found strong pairs (measured max 0.2192 vs the 0.5 pin).

    Raw candidate-set agreement with the md5 twin is deliberately NOT the
    claim: under the closed test vocabulary, chance band collisions differ
    per hash family and swamp the pair set at sf0.1 (recall 0.28 on raw
    pairs, yet 249/249 strong pairs found by both) — the hash-family
    lottery on borderline noise is not what the operator promises. The
    claims are aggregates broadcast onto every row (per-row found flags
    would flake on regenerated data at the documented ~0.13 %-per-pair
    banding probability); the ``_sketch_user_stats`` precedent.

    The deployable plan (``dedup_minhash_lsh_fast``) is unchanged and is
    what bench.py / scale rehearsals measure — the yardstick here is a
    test-SF-only bolt-on, never billed to the production twin's headline.
    """
    # `strong` feeds BOTH the claims agg and the output spine: persist it
    # (the _banded_md5_candidates pattern) so the capped-postings pair
    # expansion above the cached shingle explode — and its orderBy — run
    # once, not twice.
    strong = track_persisted(
        ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= STRONG_JACCARD)
        .persist()
    )
    fast = dedup_minhash_lsh_fast(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    joined = strong.select("doc_a", "doc_b", "jaccard").join(
        fast, ["doc_a", "doc_b"], "left"
    )
    audit = joined.agg(
        F.count("*").alias("n_strong"),
        F.sum(F.col("est_jaccard").isNull().cast("int")).alias("n_missed"),
        F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias("max_dev"),
    )
    claims = audit.select(
        (
            F.col("n_missed")
            <= F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.lit(FAST_MISS_SLACK_PCT) * F.col("n_strong")),
            )
        )
        .cast("int")
        .alias("fast_recall_ok"),
        (F.coalesce(F.col("max_dev"), F.lit(0.0)) <= F.lit(FAST_EST_DEV_MAX))
        .cast("int")
        .alias("fast_est_dev_ok"),
    )
    return (
        strong.crossJoin(F.broadcast(claims))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_union",
            "jaccard",
            "fast_recall_ok",
            "fast_est_dev_ok",
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketing: 16-bit signature from per-token md5 bits.

    bit_j = sign of Σ_tokens (±1 by the high bit of hex digit j of
    md5(token)) — token *multiset*, so frequency-weighted like classic
    SimHash. Docs sharing a signature are near-dup bucket mates; n_bucket
    is the bucket size (window count — at scale a broadcastable agg join).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    hashed = toks.select("doc_id", F.md5(F.col("tok")).alias("h"))
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("h", j, 1).isin(*high), 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(1, SIMHASH_BITS + 1)
        ]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(1, SIMHASH_BITS + 1)
        ]
    )
    w = W.partitionBy("simhash")
    return (
        sums.select("doc_id", bits.alias("simhash"))
        .withColumn("n_bucket", F.count("*").over(w))
        .orderBy("doc_id")
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, *, max_posting_len: int = MAX_POSTING_LEN
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted shingle index: explode distinct
    shingles → equi-join on the shingle → |A∩B| per pair → Jaccard with
    per-doc set sizes. No crossJoin: pair candidates exist only where a
    shingle co-occurs. Returns pairs with Jaccard ≥ 0.5 (the planted
    near-dups).

    Hot-shingle skew is BOUNDED: posting lists longer than
    ``max_posting_len`` are dropped before pair expansion, capping the
    quadratic per-shingle work at max_posting_len²/2 pairs in any one task.
    Per-doc set sizes still count every shingle, so Jaccard for surviving
    pairs is a (tight) lower bound — near-dup pairs share many RARE
    shingles, which is exactly what the planted-dup test pins. The oracle
    implements the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    # Spread the CPU-bound shingle stage across cores (one parquet split =
    # one task otherwise; a no-op at 100 TB where the input is many splits),
    # and persist: the inverted index feeds the pair stage and the per-doc
    # set sizes — recomputing the explode per branch doubles the cost.
    # MEMORY_AND_DISK by default, so at 100 TB the index spills, not OOMs.
    n_part = spark.sparkContext.defaultParallelism
    # Lifecycle: tracked — callers release via session.release_persisted().
    sh = track_persisted(
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s"))
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # Pair generation: ONE heavy shuffle on the shingle (count pre-pass +
    # capped collect — see _capped_postings for why the cap must precede
    # the collect), pairs emitted inline per posting — versus a self-join,
    # this halves shuffle volume and skips the join build. The posting-list
    # length cap is the 100 TB skew knob (see docstring). Emission is
    # two codegen'd generator explodes + a filter, not nested
    # transform/filter array lambdas (higher-order functions evaluate
    # interpreted per element — measured 15% slower at sf0.1; per-task work
    # is identically bounded by the cap either way).
    postings = _capped_postings(sh, max_posting_len)
    inter = (
        postings
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    # sizes joins: left to AQE — it broadcasts the aggregated side when its
    # runtime size is small (always at bench SFs) and shuffles when the
    # corpus is genuinely huge; forcing broadcast here would be a 100 TB
    # footgun (sizes has one row per document).
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("sa.n") + F.col("sb.n") - F.col("n_common")).alias("n_union"),
            _fr(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


PPJOIN_T = 0.5  # Jaccard threshold; prefix length below derives from it


def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (PPJoin, Xiao et al.
    WWW'08): all document pairs with shingle Jaccard ≥ PPJOIN_T, with
    GUARANTEED recall — the deterministic alternative to MinHash-LSH
    (probabilistic recall) and to ngram_jaccard_pairs' posting cap (which
    trades tail recall for skew control). The pigeonhole prefix principle:
    order every doc's shingles by one GLOBAL frequency order (rarest
    first) and keep only the first n − ⌈t·n⌉ + 1 of each; any pair with
    J ≥ t MUST share a prefix shingle, so the prefix-prefix equi-join
    loses nothing, and exact verification of the candidates restores
    precision. For t = 0.5 the prefix length is the pure-integer
    ⌊n/2⌋ + 1.

    Scale: the prefix is the skew control — hot (frequent) shingles sort
    LAST and drop out of the index, so prefix posting lists are short by
    construction (no cap, no lost pairs); verification shuffles only
    candidate-scoped rows. The per-doc ranking window's width is
    shingles-per-doc (bounded by document length, not by SF). The
    threshold test runs in exact integers (J ≥ 1/2 ⟺ 3·inter ≥ |A|+|B|).

    REGIME CAVEAT (measured, r11 rehearsal): prefix filtering's pruning
    power comes from frequency DIVERSITY. On Zipf-vocabulary corpora
    (real text; Heaps-law vocab growth) the 1×→4× wall-time exponent is
    0.35; on the degenerate fixed-30-word worst case it is 1.82 —
    every shingle is corpus-frequent, prefixes still collide, and
    candidates grow quadratically. In that regime the CAPPED
    ngram_jaccard_pairs (bounded per-task work, tail-recall trade) is
    the right tool; this operator is the guaranteed-recall tool for the
    realistic regime.

    The oracle deliberately brute-forces the UNFILTERED exact join (every
    co-occurring shingle), so the hash check certifies the prefix
    filter's zero-false-negative claim on real data, not just on paper."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    sh = track_persisted(
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s"))
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "s")
    prefix = (
        sh.join(dfreq, "s")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.floor(F.col("n") / 2) + 1)
        .select("doc_id", "s", "n")
    )
    # LENGTH filter (Xiao WWW'08 §3.1, exactness-preserving pigeonhole):
    # J ≥ 1/2 ⟺ 3·inter ≥ |A|+|B| with inter ≤ min(|A|,|B|) forces
    # max(|A|,|B|) ≤ 2·min(|A|,|B|) — integer-exact, applied inside the
    # prefix join so out-of-band posting pairs never reach the distinct/
    # verification shuffles (added after the r12 32×-Zipf rehearsal
    # measured the unfiltered candidate stage going quadratic at 160k
    # docs; the filter prunes candidates, not results, so the
    # brute-force oracle still certifies zero false negatives)
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pb.n") <= 2 * F.col("pa.n"))
            & (F.col("pa.n") <= 2 * F.col("pb.n")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verification: intersection sizes for CANDIDATE pairs only — join the
    # full shingle sets of each side, never all co-occurring postings
    inter = (
        cand.join(sh.alias("xa"), F.col("doc_a") == F.col("xa.doc_id"))
        .select("doc_a", "doc_b", F.col("xa.s").alias("s_a"))
        .join(
            sh.alias("xb"),
            (F.col("doc_b") == F.col("xb.doc_id")) & (F.col("s_a") == F.col("xb.s")),
            "semi",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .filter(F.lit(3) * F.col("n_common") >= F.col("sa.n") + F.col("sb.n"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("sa.n") + F.col("sb.n") - F.col("n_common")).alias("n_union"),
            _fr(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_against_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an ARRIVING BATCH against an existing corpus
    index — the batch form of the streaming foreachBatch incremental dedup
    (tests/test_streaming.py): new documents (odd doc_ids here) are checked
    against the already-ingested index (even doc_ids) with the exact-digest
    ladder first, then the banded-MinHash near-dup check; each batch doc
    gets a verdict exact_dup / near_dup / unique plus its matched canonical.
    This is the shape a continuously-ingesting pipeline actually runs:
    never re-cluster the corpus, only probe the new delta against stored
    digests and band signatures.

    Scale shape: both probes are equi-joins keyed by digest / (band, bsig)
    — the delta side is small, the index side is pre-computed state stored
    exactly as these two keyed tables; no all-pairs stage, no corpus
    rescan (the signature recompute here stands in for reading the stored
    index). The md5 pipeline is shared with dedup_minhash_lsh, so the
    oracle replays every signature bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    is_batch = F.pmod("doc_id", F.lit(2)) == 1

    # Persist both probe tables: each feeds BOTH sides of its join (batch +
    # index split), and without a persist the corpus-wide md5 work runs
    # twice per table — the measured 3.5× hazard _banded_md5_candidates
    # documents. (In production these ARE the stored index state.)
    digests = track_persisted(
        docs.select("doc_id", F.md5("text").alias("dg")).persist()
    )
    idx_dg = digests.filter(~is_batch)
    bat_dg = digests.filter(is_batch)
    exact = (
        bat_dg.join(idx_dg.select(F.col("dg"), F.col("doc_id").alias("m")), "dg")
        .groupBy("doc_id")
        .agg(F.min("m").alias("exact_match"))
    )

    sigs = _md5_signatures(docs, n_part)
    bands = track_persisted(
        _cap_band_buckets(
            sigs.select("doc_id", _band_explode())
            .select("doc_id", "bb.band", "bb.bsig")
        ).persist()
    )
    near = (
        bands.filter(is_batch)
        .join(
            bands.filter(~is_batch).select(
                F.col("band"), F.col("bsig"), F.col("doc_id").alias("m")
            ),
            ["band", "bsig"],
        )
        .groupBy("doc_id")
        .agg(F.min("m").alias("near_match"))
    )

    status = (
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("unique")
    )
    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            status.alias("status"),
            F.coalesce("exact_match", "near_match").alias("matched_doc_id"),
        )
        .orderBy("doc_id")
    )


DEDUP_INDEX_ALGO = 1  # bump on any digest/band layout or semantics change


def _dedup_index_rows(docs: DataFrame, _state) -> dict[str, DataFrame]:
    """Both probe tables of ``dedup_against_index`` as stored rows —
    the state its in-query signature recompute 'stands in for':
    (doc_id, dg) digests and (doc_id, band, bsig) band signatures."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    return {
        "digests": docs.select("doc_id", F.md5("text").alias("dg")),
        "bands": _md5_signatures(docs, n_part)
        .select("doc_id", _band_explode())
        .select("doc_id", "bb.band", "bb.bsig"),
    }


# The stored dedup index: digests sorted by dg and bands by (band, bsig),
# so both probe joins read index rows pre-clustered by their join key. The
# registry slot indexes the even-doc_id half of the corpus (matching
# dedup_against_index's split): a build of doc_id % 4 == 0, then one
# appended batch of doc_id % 4 == 2.
DEDUP = IndexSpec(
    kind="dedup_index",
    meta={
        "algo": DEDUP_INDEX_ALGO,
        "n_hashes": N_HASHES,
        "n_bands": N_BANDS,
        "split": "even; build %4==0, append %4==2",
    },
    source="documents",
    tables=(
        RowsTable("digests", ("dg",), ("dg", "doc_id")),
        RowsTable("bands", ("band", "bsig"), ("band", "bsig", "doc_id")),
    ),
    encode=_dedup_index_rows,
    rows=lambda spark, sf_dir: load_table(spark, sf_dir, "documents")
    .select("doc_id", "text")
    .filter("pmod(doc_id, 2) = 0"),
    batch="pmod(doc_id, 4) = 2",
)


def dedup_against_index_prebuilt(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    batch: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB deployment form of ``dedup_against_index`` (r15,
    completing the stored-index trio with trigram postings and IVF):
    the corpus index — content digests AND banded MinHash signatures —
    is BUILT ONCE (here through the real build-then-append lifecycle
    of the ``DEDUP`` spec) and the QUERY recomputes signatures for the
    ARRIVING BATCH ONLY (odd doc_ids), probing the stored tables with
    the same two keyed equi-joins. The in-query form's corpus-wide md5
    signature pipeline is absent from this plan — index docs are never
    re-shingled, re-hashed, or even re-read as text (plan-pinned: the
    only md5/signature work sits on the batch side; index rows come
    from the dedup_index parquet) — so query cost is
    |batch|·signature + probe joins against index bytes, never corpus
    bytes.

    Duplicate-safety for at-least-once appends: stored band rows pass
    through ONE distinct on (doc_id, band, bsig) before the bucket-cap
    count and the pair probe (restoring exactly-once semantics from
    at-least-once storage — same cost class as the cap's own count
    aggregate, index-bytes-sized), and both match resolutions are min()
    aggregates; digests need no distinct (min() alone absorbs
    duplicates). The bucket cap counts the batch+index union, exactly
    like the in-query form, so the DuckDB oracle — the identical SQL as
    ``dedup_against_index`` — replays this end-to-end and the hash
    match proves the stored round-trip loses nothing. At 100 TB the
    union-sized cap count is the one index-wide aggregate in the plan;
    a deployment maintains per-bucket counts as index metadata instead
    (the fingerprint-partials pattern) — noted, not needed at test SF.

    ``path`` (tests): probe an explicit index slot instead of the
    marker-gated registry one (a slot path re-resolves to its live
    generation per call — indexstore.slot_live).

    ``batch`` is the CALLER's arriving delta (r16, VERDICT r15 task
    #1): any (doc_id, text) frame — an ingest micro-batch, a crawler's
    day, a user upload — probed against the stored index; batch rows
    are tagged explicitly through the band union, so batch doc_ids may
    even collide with index doc_ids without cross-contaminating the
    probe sides. Default: the registry's pinned odd-doc_id half,
    keeping the DuckDB oracle hermetic."""
    if path is None:
        path = ensure(DEDUP, spark, sf_dir)
    path = slot_live(path)
    n_part = spark.sparkContext.defaultParallelism
    if batch is None:
        docs = load_table(spark, sf_dir, "documents")
        batch = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
    batch = batch.select("doc_id", "text")

    idx_dg = spark.read.parquet(f"{path}/digests")
    idx_bands = spark.read.parquet(f"{path}/bands").dropDuplicates(
        ["doc_id", "band", "bsig"]
    )

    bat_dg = track_persisted(
        batch.select("doc_id", F.md5("text").alias("dg")).persist()
    )
    exact = (
        bat_dg.join(idx_dg.select(F.col("dg"), F.col("doc_id").alias("m")), "dg")
        .groupBy("doc_id")
        .agg(F.min("m").alias("exact_match"))
    )

    bat_bands = (
        _md5_signatures(batch, n_part)
        .select("doc_id", _band_explode())
        .select("doc_id", "bb.band", "bb.bsig")
        .withColumn("src_batch", F.lit(True))
    )
    # persisted for the same reason the in-query form persists its band
    # table (it feeds the cap count plus BOTH sides of the pair probe):
    # without it the index parquet would re-scan once per consumer.
    # Sides carry an explicit origin tag through the union (r16): the
    # registry default could split them back by doc_id parity, but an
    # arbitrary caller batch has no such invariant
    all_bands = track_persisted(
        bat_bands.unionByName(
            idx_bands.withColumn("src_batch", F.lit(False))
        ).persist()
    )
    capped = _cap_band_buckets(all_bands)
    near = (
        capped.filter(F.col("src_batch"))
        .join(
            capped.filter(~F.col("src_batch")).select(
                F.col("band"), F.col("bsig"), F.col("doc_id").alias("m")
            ),
            ["band", "bsig"],
        )
        .groupBy("doc_id")
        .agg(F.min("m").alias("near_match"))
    )

    status = (
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("unique")
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            status.alias("status"),
            F.coalesce("exact_match", "near_match").alias("matched_doc_id"),
        )
        .orderBy("doc_id")
    )


def dedup_prebuilt_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT read of the stored dedup index (r17 — snapshot reads
    generalized to every stored family via
    indexstore.ensure_snapshot_state): the arriving batch probes the
    RETAINED pre-compaction generation, answering as of the previous
    promote, with the engine-decided ``snapshot_equals_live`` claim
    pinned TRUE by the row-preserving compaction. The nullable
    matched_doc_id is coalesced to a sentinel for the claim's
    anti-joins (plain column equality treats NULL ≠ NULL, which would
    flag every 'unique' row as divergent). Same in-query oracle +
    claim."""
    ensure(DEDUP, spark, sf_dir)
    slot = scratch_path(DEDUP.kind, sf_dir)
    snap = ensure_snapshot_state(slot, lambda s: compact(DEDUP, spark, s))
    out = ["doc_id", "status", "matched_doc_id"]

    def _nullsafe(df):
        return df.select(
            "doc_id",
            "status",
            F.coalesce("matched_doc_id", F.lit(-1)).alias("m_ns"),
        )

    snap_df = dedup_against_index_prebuilt(spark, sf_dir, snap)
    live_df = dedup_against_index_prebuilt(spark, sf_dir, slot_live(slot))
    claims = snapshot_equals_live_claim(
        _nullsafe(snap_df), _nullsafe(live_df), ["doc_id", "status", "m_ns"]
    )
    return (
        snap_df.crossJoin(F.broadcast(claims))
        .select(*out, "snapshot_equals_live")
        .orderBy("doc_id")
    )


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient (Watts-Strogatz)
    over the near-dup similarity graph: per document, its degree, the
    number of triangles through it, and C = 2·Δ/(deg·(deg−1)) — the
    density diagnostic that separates tight duplicate CLIQUES (C → 1,
    safe to collapse to one exemplar) from hub-and-spoke chains (C → 0,
    where transitive merging over-collapses; cf. the chain-radius concern
    dedup_clusters' star contraction handles in O(log diameter) rounds).

    Distributed shape: edges come from the shared banded-LSH candidate
    stage (equi-join, never all-pairs); triangles close via the standard
    wedge join — edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c) with the a<b<c
    orientation counting each triangle exactly once. Wedge fan-out is the
    Σdeg² term; on an LSH graph degrees are cluster-sized, and at adversarial
    scale the standard refinement (orient edges low-degree → high-degree)
    bounds it — noted here, unneeded for near-dup graphs. The oracle
    replays the full pipeline from the md5 signatures up."""
    cand = _banded_md5_candidates(spark, sf_dir)
    edges = track_persisted(
        cand.select(
            F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
        )
        .distinct()
        .persist()
    )
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("degree"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    node_tri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
        .groupBy("u")
        .agg(F.count("*").alias("n_triangles"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(0.0)
    return (
        deg.join(node_tri, "u", "left")
        .fillna(0, ["n_triangles"])
        .select(
            F.col("u").alias("doc_id"),
            "degree",
            "n_triangles",
            _fr(coeff, 4).alias("clustering_coeff"),
        )
        .orderBy("doc_id")
    )


CONTAIN_T = 0.8  # containment threshold: share of the smaller doc's shingles


def dedup_containment(
    spark: SparkSession, sf_dir: str, *, max_posting_len: int = MAX_POSTING_LEN
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / min(|A|,|B|) (Broder 1997's
    containment measure, vs the resemblance/Jaccard measure): detects a
    short document embedded inside a longer one — an excerpt, a quoted
    article, boilerplate wrapped in new text — which symmetric Jaccard
    structurally misses (|A∩B|/|A∪B| → 0 as the outer doc grows even when
    the inner doc is copied verbatim). The training-data use is excerpt
    dedup: drop the contained doc, keep the superset.

    Same scale shape as ngram_jaccard_pairs — inverted shingle index, ONE
    shuffle on the shingle, posting-list cap bounding hot-shingle skew —
    only the final scoring differs: containment normalizes by the SMALLER
    side's set size. Output is directed: doc_inner is the contained
    (smaller; ties → lower doc_id, which the doc_a < doc_b pair orientation
    already yields) side."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    sh = track_persisted(
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s"))
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # cap precedes the collect — see _capped_postings
    postings = _capped_postings(sh, max_posting_len)
    inter = (
        postings
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    n_inner = F.least(F.col("sa.n"), F.col("sb.n"))
    # integer/integer division: both engines evaluate the identical IEEE
    # divide, so the >= threshold compare cannot disagree cross-engine.
    containment = F.col("n_common") / n_inner
    a_is_inner = F.col("sa.n") <= F.col("sb.n")
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .filter(containment >= CONTAIN_T)
        .select(
            F.when(a_is_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "doc_inner"
            ),
            F.when(a_is_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "doc_outer"
            ),
            "n_common",
            n_inner.alias("n_inner"),
            F.greatest(F.col("sa.n"), F.col("sb.n")).alias("n_outer"),
            _fr(containment, 4).alias("containment"),
        )
        .orderBy("doc_inner", "doc_outer")
    )


def _long_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings in long (vec_id, dim, val) form, val as double.

    Long form makes every dot product an equi-join + decimal-sum aggregation:
    exact (order-independent) and shuffle-partitioned on vec pairs — the
    layout a 100 TB similarity pass would use between blocked matmuls."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", (F.col("dim") + 1).alias("dim"), F.col("fval").cast("double").alias("val"))


def _dot_dec(a: Column, b: Column) -> Column:
    """Exact dot product of two double arrays: elementwise products (IEEE,
    engine-identical) accumulated in DECIMAL(30,10). Adding scale-10
    decimals never rounds (only widens), so the fold is exact and therefore
    order-independent — bit-identical to the oracle's decimal SUM.

    The interpreted HOF fold IS the fastest bit-exact formulation measured
    (sf0.1, n=5 medians): statically unrolling 64 Add/Cast nodes into the
    projection is 3× SLOWER (the nested decimal chain blows the 64 KB
    codegen method limit → whole-expression interpreted fallback), and the
    explode → decimal-sum long form trades a map-only pass for a 64×-row
    shuffle — the wrong shape at 100 TB. Unlike the minhash xxhash64 case
    (where explode → hash-agg won 3×), a decimal accumulator never
    codegens to primitives, so there is nothing to win back."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast(DEC)),
        F.lit(0).cast(DEC),
        lambda acc, v: (acc + v).cast(DEC),
    ).cast("double")


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )


def embedding_near_dup(
    spark: SparkSession, sf_dir: str, *, max_vectors: int = MAX_EXACT_VECTORS
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.45) — the EXACT
    all-pairs baseline, size-guarded.

    Dot products and norms accumulate through DECIMAL(30,10) so the result
    is bit-identical regardless of summation order — reproducibility is a
    dedup requirement, not a nicety. Pairs are generated by a self-join over
    whole vectors (BroadcastNestedLoopJoin: quadratic BY DESIGN) and the dot
    runs as an array fold inside codegen.

    This is the recall/precision reference that similarity.py's
    sub-quadratic ``embedding_near_dup_lsh`` is validated against — the
    canonical near-dup operator at scale is the LSH one. The ``max_vectors``
    guard (a near-free parquet-footer count) raises instead of planning an
    all-pairs stage over unbounded input."""
    n_input = load_table(spark, sf_dir, "embeddings").count()
    if n_input > max_vectors:
        raise ValueError(
            f"embedding_near_dup is the exact O(n²) baseline and refuses "
            f"{n_input} vectors (cap {max_vectors}); use "
            f"similarity.embedding_near_dup_lsh — the sub-quadratic scale path."
        )
    n_part = spark.sparkContext.defaultParallelism
    vecs = _emb_double(spark, sf_dir).select(
        "vec_id",
        "emb",
        F.sqrt(_dot_dec(F.col("emb"), F.col("emb"))).alias("nrm"),
    ).repartition(n_part, "vec_id")
    a, b = vecs.alias("a"), vecs.alias("b")
    cos = _dot_dec(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", _fr(F.col("cos"), 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


LOGSTAR_MAX_ROUNDS = 30  # ≥ ~2·log2(n) for any plausible component


def _logstar_components(
    docs: DataFrame, edges: DataFrame, _rounds_out=None
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris, Lattanzi, Mirrokni, Rastogi,
    Vassilvitskii — "Connected Components in MapReduce and Beyond",
    SoCC 2014): large-star connects every strictly-larger neighbor of a
    node to the minimum of its neighborhood; small-star connects every
    smaller neighbor (keyed by the larger endpoint) to that side's
    minimum. Alternation converges to a forest of stars centered at each
    component's minimum id, so every doc is labeled with the smallest
    doc_id of its component.

    ``edges`` is the canonical pair set: columns (src, dst) with
    src < dst, distinct — what the banded candidate join emits. The
    rounds run on the edge-touched nodes only; docs with no edge rejoin
    once at the end as their own singleton clusters (one anti-join).

    Why star contraction and not one-hop min-label propagation: a
    one-hop fixpoint's round count is the graph DIAMETER, and the r6
    scale rehearsal measured candidate-graph BFS depth growing 2 → 4 → 6
    across 1×/2×/4× corpora (chance band collisions chain clusters;
    boilerplate hubs do the same on real corpora). Star contraction
    halves path lengths every alternation, so rounds grow with log
    diameter instead; each round is still edge-sized key-partitioned
    shuffles with zero driver state beyond the O(1) convergence probe.
    Convergence = exact edge-set stability (count equality + a left-join
    subset probe on the canonical distinct edge set, fused into one
    aggregate action per round — no checksum collisions). Labels read
    directly off the converged stars: min(neighbor ∪ self).

    Lineage discipline: each round references the previous edge set FOUR
    times (both sym directions, the large→small chain, the stability
    probe), so persist alone is not enough — persist caches physical
    results but Catalyst re-analyzes the full LOGICAL tree, which would
    quadruple per round (the exponential-plan failure NOTES r5
    documents; here it OOMed the driver in 5 rounds at smoke SF).
    localCheckpoint truncates the plan at each round's materialization,
    so analysis cost is flat per round. (localCheckpoint stores blocks on
    executors — lost partitions cannot recompute; a long-running
    production job on a lossy cluster swaps in reliable ``checkpoint()``
    with a checkpoint dir, same semantics, plus storage round-trips.)

    Block lifecycle (ADVICE r6): a retired round's checkpoint blocks are
    unpersisted as soon as E_new is materialized and the stability probe
    (the last reader of the old edge set) has run — without this, up to
    LOGSTAR_MAX_ROUNDS edge-set copies accumulate in executor storage on
    large graphs. DataFrame.unpersist() can't reach localCheckpoint
    blocks (they back the internal RDD, not a cacheManager entry), so the
    ids of the freshly persisted RDDs are snapshotted around each
    checkpoint and released by id. The final edge set's RDDs go to
    session.track_persisted, like every operator intermediate the caller
    releases after its terminal action."""
    sc = docs.sparkSession.sparkContext

    def _persist_ids() -> set[int]:
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _release(ids: set[int]) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    # eager=False everywhere: localCheckpoint registers its persist at
    # call time (so the id bookkeeping below is unchanged) but the blocks
    # materialize inside the NEXT action — the count here, the fused
    # stability probe per round — so each round costs ONE job instead of
    # three (checkpoint + count + anti-join probe; measured 61 jobs for
    # the md5-banded clusters query at sf0.1, job latency the dominant
    # cost).
    #
    # The canonical input needs no least/greatest + distinct exchange
    # before round 0 (r19; one full edge-set shuffle fewer per query), but
    # the round-0 localCheckpoint stays: a raw cache reference would drag
    # the whole candidate-pipeline LOGICAL tree into every round-1
    # reference (4 of them) and through AQE replanning — measured ~1 s/run
    # SLOWER than checkpointing when this was tried without it
    # (same-session A/B, r19).
    snap = _persist_ids()
    E = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).localCheckpoint(eager=False)
    e_ids = _persist_ids() - snap
    n_prev = E.count()
    for rnd in range(LOGSTAR_MAX_ROUNDS):
        sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            E.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lmins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        lmins = lmins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        # large-star emits (m(u), v) for every directed (u, v) with v > u.
        # m(u) = min(neighborhood(u) ∪ {u}) ≤ u < v, so the edge is
        # already canonically oriented and never degenerate — a
        # least/greatest + x≠y filter here would be a provable no-op
        # (r19; dead expressions removed). The DISTINCT stays: it is the
        # materialization point both small-star consumers (smins agg +
        # the attach join) read — dropping it was A/B'd and REJECTED
        # (the large-star join subtree then evaluates twice; measured
        # ~1 s/run slower at sf0.1 together with the uncheckpointed-E0
        # variant, and strictly more map work at any scale).
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(lmins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # small-star: key = the larger endpoint of each canonical edge
        dirn = large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = dirn.groupBy("u").agg(F.min("v").alias("m"))
        snap = _persist_ids()
        # small-star edges (m, v) with m = min of u's smaller neighbors
        # (so m ≤ v, equality filtered) plus (m, u) with m < u — again
        # canonically oriented by construction; only the distinct is real.
        E_new = (
            dirn.join(smins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .union(smins.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .distinct()
        ).localCheckpoint(eager=False)
        new_ids = _persist_ids() - snap
        # ONE action per round: |E_new| and the subset probe (E_new ⊆ E ⇔
        # every left-join row matches ⇔ n_old == n) in a single aggregate —
        # the same stability condition the count + left_anti pair computed,
        # and the job that materializes the lazy checkpoint above.
        probe = (
            E_new.join(E.withColumn("_old", F.lit(1)), ["a", "b"], "left")
            .agg(F.count("*").alias("n"), F.count("_old").alias("n_old"))
            .collect()[0]
        )
        n_new = probe["n"]
        stable = n_new == n_prev and probe["n_old"] == n_new
        # the probe was the old edge set's last reader — free its blocks
        _release(e_ids)
        E, n_prev, e_ids = E_new, n_new, new_ids
        if stable:
            if _rounds_out is not None:
                _rounds_out.append(rnd + 1)
            # The final edge set backs the returned labels until the caller
            # consumes them, so its blocks are released with the other
            # operator intermediates: release_persisted() calls the
            # JavaRDD's own unpersist().
            jmap = sc._jsc.getPersistentRDDs()
            for i in e_ids:
                track_persisted(jmap.get(i))
            sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
                E.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            labels = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select(
                    F.col("u").alias("doc_id"),
                    F.least(F.col("mn"), F.col("u")).alias("cluster_id"),
                )
            )
            singles = docs.join(labels, "doc_id", "left_anti").select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            )
            return labels.union(singles)
    raise RuntimeError(
        f"dedup_clusters: star contraction still moving after "
        f"{LOGSTAR_MAX_ROUNDS} rounds — that is > 2^{LOGSTAR_MAX_ROUNDS // 2} "
        f"effective diameter; inspect the pair graph"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment (survivorship): connected components over
    the MinHash-LSH candidate-pair graph via star contraction
    (_logstar_components, O(log diameter) rounds) — every doc ends up
    labeled with the smallest doc_id in its component; the canonical
    survivor of a cluster is the doc whose id IS the label, and singletons
    keep themselves as cluster_id.

    All rounds are key-partitioned shuffles with no driver-side state beyond
    the O(1) convergence probe. The DuckDB oracle computes the same labels
    as a recursive-CTE transitive closure, so the equality check holds for
    ANY chain radius. The registry also serves this function under the
    name ``dedup_clusters_logstar``.

    Pairs come straight from the banded candidate join (distinct) — the
    matched-hash scoring and presentation sort dedup_minhash_lsh layers on
    top are irrelevant to connectivity and skipped."""
    return _clusters_from_candidates(spark, sf_dir, _banded_md5_candidates)


def dedup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``dedup_clusters``: the same star-contraction
    components over the xxhash64 banded candidate graph
    (_banded_fast_candidates) — removing the md5 signature floor (~2.5 s
    of the exact twin's cost at sf0.1) from the path a 100 TB pass
    actually runs. The md5 twin stays registry-canonical for the DuckDB
    oracle (xxhash64 is Spark-specific → rows-only driver check);
    cluster-assignment agreement between the twins is pinned in
    test_extensions — identical banding geometry over the same shingle
    sets and the same components algorithm, only the hash family
    differs."""
    return _clusters_from_candidates(spark, sf_dir, _banded_fast_candidates)


def dedup_clusters_fast_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable registry form of ``dedup_clusters_fast`` — the
    clusters analogue of ``dedup_minhash_lsh_fast_checked``: xxhash64
    labels can never be replayed by DuckDB, so the registry surface is the
    EXACT twin's cluster assignment (``dedup_clusters`` — md5 banding +
    star contraction, replayed by the recursive-closure oracle) with one
    engine-decided claim column about the fast plan broadcast onto every
    row:

    - ``fast_label_agree_ok`` — the per-doc cluster-label agreement
      between the xxhash64 plan and the exact twin is ≥
      FAST_LABEL_AGREE_MIN (measured 0.986 / 0.984 / 0.8996 at
      sf0.001/0.01/0.1 vs the 0.85 pin; identical banding geometry over
      the same shingle sets means only chance band collisions under the
      closed test vocabulary can differ — the r6 NOTES saturation
      analysis).

    Per-doc agreement flags would flake on regenerated data at the
    documented ~0.13 %-per-pair banding lottery, so the claim is the
    corpus aggregate (the ``_sketch_user_stats`` precedent). The
    deployable plan (``dedup_clusters_fast``) is unchanged and is what
    bench.py measures — the exact-twin yardstick here is a test-SF-only
    bolt-on, never billed to the production twin's headline.
    """
    # `exact` feeds BOTH the agreement agg and the output spine — persist,
    # or the md5 banded pair join + contraction rounds run twice.
    exact = track_persisted(dedup_clusters(spark, sf_dir).persist())
    fast = dedup_clusters_fast(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("fast_cluster_id")
    )
    agree = (
        exact.select("doc_id", "cluster_id")
        .join(fast, "doc_id")
        .agg(
            F.avg(
                (F.col("cluster_id") == F.col("fast_cluster_id")).cast("double")
            ).alias("agree")
        )
    )
    claims = agree.select(
        (F.col("agree") >= F.lit(FAST_LABEL_AGREE_MIN))
        .cast("int")
        .alias("fast_label_agree_ok")
    )
    return (
        exact.crossJoin(F.broadcast(claims))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "is_canonical",
            "fast_label_agree_ok",
        )
        .orderBy("doc_id")
    )


def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply near-dup survivorship to MATERIALIZE the cleaned corpus — the
    step after dedup_clusters that an actual curation job runs: keep each
    cluster's canonical doc, drop the rest, and report the per-language
    acceptance audit (docs kept/dropped, token totals kept/dropped). This
    is the write-side twin of corpus_curation's read-side funnel: its
    output is what a 100 TB pass would hand to tokenization.

    Shape: the cluster labels (already a doc_id-keyed table) join the
    corpus once on doc_id, then one small groupBy(lang). Everything heavy
    is inside dedup_clusters and shared with it."""
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(_tokens(F.col("text"))).alias("n_toks")
    )
    kept = F.col("is_canonical") == 1
    return (
        docs.join(labels, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum(kept.cast("int")).cast("int").alias("n_kept"),
            F.sum((~kept).cast("int")).cast("int").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).alias("kept_tokens"),
            F.sum(F.when(~kept, F.col("n_toks")).otherwise(0)).alias("dropped_tokens"),
        )
        .orderBy("lang")
    )


def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/valid/test split: the 80/10/10 hash split
    keyed on the near-dup CLUSTER id, not the document id — near-duplicates
    always land in the same split, so no eval example leaks into training
    through a paraphrase/boilerplate twin (the leakage a doc-keyed split
    like scale.train_test_split cannot prevent; Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" §5 measure
    exactly this effect). Split membership is the same engine-exact Knuth
    high-bits bucket as every sampling operator here, applied to
    cluster_id — a pure function of content structure, stable under reruns
    and data appends that don't change the cluster's min id.

    Emits the per-doc assignment (doc_id, cluster_id, split) plus the
    cluster-integrity invariant is pytest-pinned (one split per cluster).
    One join against the cluster labels + a map-only bucket — everything
    heavy is inside (and shared with) dedup_clusters."""
    from weather_database_system_spark.operators.scale import SPLIT_PCT, _bucket

    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    b = _bucket("cluster_id")
    lo = 0
    split = F.lit(None).cast("string")
    for name, pct in SPLIT_PCT:
        split = F.when((b >= lo) & (b < lo + pct), name).otherwise(split)
        lo += pct
    return labels.select("doc_id", "cluster_id", split.alias("split")).orderBy(
        "doc_id"
    )


def _sql_split_by_cluster() -> str:
    from weather_database_system_spark.operators.scale import SPLIT_PCT, _sql_bucket

    cases, lo = [], 0
    for name, pct in SPLIT_PCT:
        cases.append(
            f"WHEN {_sql_bucket('cluster_id')} >= {lo} "
            f"AND {_sql_bucket('cluster_id')} < {lo + pct} THEN '{name}'"
        )
        lo += pct
    return f"""
        WITH clusters AS ({_sql_dedup_clusters()})
        SELECT doc_id, cluster_id,
               CASE {' '.join(cases)} END AS split
        FROM clusters
        ORDER BY doc_id
    """


PAGERANK_D = 0.85       # damping factor
PAGERANK_ITERS = 3      # fixed, unrolled in the oracle


def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup candidate graph — the link-analysis
    quality prior a curation pipeline derives from document similarity
    structure (highly-connected documents are boilerplate/template hubs;
    low-rank leaves are unique content): PAGERANK_ITERS damped power
    iterations on the symmetrized banded-candidate edge set, restricted to
    the induced subgraph (every node has degree ≥ 1, so there are no
    dangling nodes and the teleport term is the only mass source besides
    neighbors).

    Determinism across engines: each iteration's rank is floor-rounded to
    10 decimals and neighbor contributions accumulate pr/deg in DECIMAL —
    both engines iterate over bit-identical vectors, so the DuckDB oracle
    replays all PAGERANK_ITERS rounds exactly (unrolled CTEs).

    Scale shape: per iteration ONE src-keyed join (ranks are doc_id-keyed,
    edges pre-partitioned the same way) + one dst-keyed combiner-friendly
    aggregation — the standard Pregel-free PageRank; plan depth grows
    linearly in iterations (ranks referenced once per round). |induced| is
    a 1-row scalar (the bm25 corpus-stats class of driver value)."""
    pairs = (
        _banded_md5_candidates(spark, sf_dir)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    edges = track_persisted(
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .persist()
    )
    deg = track_persisted(
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count("*").alias("outdeg"))
        .persist()
    )
    n = deg.count()
    # the oracle embeds repr(1.0 - PAGERANK_D) so both engines start from
    # this exact IEEE double (DuckDB's literal subtraction is decimal-exact
    # and lands 1 ulp away otherwise)
    base = (1.0 - PAGERANK_D) / n
    # deg is static — join it into the edge table ONCE instead of re-joining
    # every power iteration (removes ITERS-1 edge-sized joins)
    edges_deg = track_persisted(
        edges.join(deg.withColumnRenamed("doc_id", "src"), "src")
        .select("src", "dst", "outdeg")
        .persist()
    )
    pr = deg.select("doc_id", F.lit(_round10(1.0 / n)).alias("pr"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges_deg.alias("e")
            .join(pr.alias("p"), F.col("e.src") == F.col("p.doc_id"))
            .select(
                F.col("e.dst").alias("doc_id"),
                (F.col("p.pr") / F.col("e.outdeg")).cast("decimal(30,15)").alias("c"),
            )
        )
        pr = contrib.groupBy("doc_id").agg(
            _fr(F.lit(base) + PAGERANK_D * F.sum("c").cast("double"), 10).alias("pr")
        )
    return (
        pr.join(deg, "doc_id")
        .select(
            "doc_id",
            F.col("outdeg").cast("int").alias("n_neighbors"),
            F.col("pr").alias("pagerank"),
        )
        .orderBy("doc_id")
    )


def _round10(x: float) -> float:
    import math

    return math.floor(x * 1e10 + 0.5) / 1e10


def _clusters_from_candidates(
    spark: SparkSession, sf_dir: str, cand_fn
) -> DataFrame:
    # Hand star contraction the CANONICAL pair set (doc_a < doc_b by the
    # candidate join condition, distinct): a symmetrized union would
    # cache 2× the rows only for the contraction to collapse them back
    # with one more full exchange (guide §2.4, r19). No persist: the
    # contraction reads the pair set exactly ONCE, into its round-0
    # localCheckpoint, so a persist would write every pair block twice
    # for a single read (measured 4.21 → 3.84 s median on
    # dedup_clusters_fast, 7-round interleaved A/B at sf0.1, r19).
    pairs = (
        cand_fn(spark, sf_dir)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _logstar_components(docs, pairs)
    w = W.partitionBy("cluster_id")
    return (
        labels.withColumn("cluster_size", F.count("*").over(w).cast("int"))
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
        .orderBy("doc_id")
    )


_SQL_DOCS_TOKS = "SELECT doc_id, string_split(text, ' ') AS toks FROM documents"

_SQL_LONG_EMB = """
    SELECT vec_id, i AS dim, CAST(emb[i] AS DOUBLE) AS val
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings)
"""

def _sql_dedup_clusters(extra: str = "") -> str:
    # `reach(doc_id, rid)` = "rid is reachable from doc_id over the pair
    # graph" — a recursive-CTE transitive closure (UNION dedups, so it
    # terminates). min(rid) per doc_id is then the exact component min
    # label: the same labels the Spark side's star contraction converges
    # to, valid for any chain radius. Closure is O(Σ|component|²) rows — fine at oracle sf.
    # `extra` appends pinned-claim columns (the checked fast twin asserts
    # its engine-decided claim held, so the oracle replays it as 1).
    return f"""
        WITH RECURSIVE docs AS ({_SQL_DOCS_TOKS}),
        sigs AS (
            SELECT doc_id, {_sql_minhash_sig(_SQL_SHINGLES)} AS sig FROM docs
        ),
        bands0 AS (
            SELECT doc_id, b AS band, sig[2*b + 1] || sig[2*b + 2] AS bsig
            FROM sigs, range(0, {N_BANDS}) AS t(b)
        ),
        -- band-bucket cap (BAND_BUCKET_CAP): identical to the engine's
        -- _cap_band_buckets pre-filter; never binds at oracle SF
        bcap AS (
            SELECT band, bsig FROM bands0
            GROUP BY 1, 2 HAVING count(*) <= {BAND_BUCKET_CAP}
        ),
        bands AS (
            SELECT bands0.doc_id, bands0.band, bands0.bsig
            FROM bands0 JOIN bcap USING (band, bsig)
        ),
        cpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                        AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cpairs
            UNION ALL
            SELECT doc_b, doc_a FROM cpairs
        ),
        reach(doc_id, rid) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.rid
            FROM edges e JOIN reach r ON r.doc_id = e.dst
        ),
        lab AS (
            SELECT doc_id, min(rid) AS cluster_id FROM reach GROUP BY 1
        )
        SELECT doc_id, cluster_id,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS INT) AS cluster_size,
               CAST(doc_id = cluster_id AS INT) AS is_canonical{extra}
        FROM lab
        ORDER BY doc_id
    """


def _sql_pagerank() -> str:
    """Unrolled PAGERANK_ITERS power iterations; each round's rank is
    _fr-rounded to 10 decimals and contributions accumulate in DECIMAL, so
    the replay is bit-for-bit (see pagerank_near_dup)."""
    # repr() of the PYTHON-computed difference: DuckDB subtracts
    # "1.0 - 0.85" as exact decimals (1 ulp off the IEEE result Spark's
    # driver embeds); emitting the evaluated double literal keeps both
    # engines on the identical teleport base.
    teleport = repr(1.0 - PAGERANK_D)
    iters = []
    for k in range(PAGERANK_ITERS):
        iters.append(f"""
        pr{k + 1} AS (
            SELECT e.dst AS doc_id,
                   {_sql_fr(
                       "(" + teleport + " / nn.n) + "
                       + str(PAGERANK_D)
                       + " * CAST(sum(CAST(p.pr / d.outdeg AS DECIMAL(30,15))) AS DOUBLE)",
                       10,
                   )} AS pr
            FROM edges e
            JOIN pr{k} p ON e.src = p.doc_id
            JOIN deg d ON e.src = d.doc_id, nn
            GROUP BY e.dst, nn.n
        )""")
    return f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sigs AS (
            SELECT doc_id, {_sql_minhash_sig(_SQL_SHINGLES)} AS sig FROM docs
        ),
        bands0 AS (
            SELECT doc_id, b AS band, sig[2*b + 1] || sig[2*b + 2] AS bsig
            FROM sigs, range(0, {N_BANDS}) AS t(b)
        ),
        -- band-bucket cap (BAND_BUCKET_CAP): identical to the engine's
        -- _cap_band_buckets pre-filter; never binds at oracle SF
        bcap AS (
            SELECT band, bsig FROM bands0
            GROUP BY 1, 2 HAVING count(*) <= {BAND_BUCKET_CAP}
        ),
        bands AS (
            SELECT bands0.doc_id, bands0.band, bands0.bsig
            FROM bands0 JOIN bcap USING (band, bsig)
        ),
        cpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                        AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cpairs
            UNION ALL
            SELECT doc_b, doc_a FROM cpairs
        ),
        deg AS (SELECT src AS doc_id, count(*) AS outdeg FROM edges GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM deg),
        pr0 AS (
            SELECT doc_id, {_sql_fr('1.0 / nn.n', 10)} AS pr FROM deg, nn
        ),{",".join(iters)}
        SELECT p.doc_id,
               CAST(d.outdeg AS INT) AS n_neighbors,
               p.pr AS pagerank
        FROM pr{PAGERANK_ITERS} p JOIN deg d ON p.doc_id = d.doc_id
        ORDER BY p.doc_id
    """


def _sql_corpus_dedup_apply() -> str:
    return f"""
        WITH clusters AS ({_sql_dedup_clusters()})
        SELECT d.lang,
               CAST(count(*) AS INT) AS n_docs,
               CAST(sum(c.is_canonical) AS INT) AS n_kept,
               CAST(sum(1 - c.is_canonical) AS INT) AS n_dropped,
               CAST(sum(CASE WHEN c.is_canonical = 1
                             THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
                   AS kept_tokens,
               CAST(sum(CASE WHEN c.is_canonical = 0
                             THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
                   AS dropped_tokens
        FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
        GROUP BY d.lang
        ORDER BY d.lang
    """


ORACLE: dict[str, str] = {
    "dedup_clusters": _sql_dedup_clusters(),
    # the same function under its log-round registry name
    "dedup_clusters_logstar": _sql_dedup_clusters(),
    # checked fast twin: exact-twin rows + the pinned label-agreement
    # claim replayed as held (see dedup_clusters_fast_checked)
    "dedup_clusters_fast": _sql_dedup_clusters(
        extra=",\n               CAST(1 AS INT) AS fast_label_agree_ok"
    ),
    "corpus_dedup_apply": _sql_corpus_dedup_apply(),
    "pagerank_near_dup": _sql_pagerank(),
    "split_by_cluster": _sql_split_by_cluster(),
    "dedup_exact": """
        SELECT md5(text) AS text_md5,
               min(doc_id) AS canonical_doc_id,
               count(*)    AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY canonical_doc_id
    """,
    "dedup_minhash_lsh": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sigs AS (
            SELECT doc_id, {_sql_minhash_sig(_SQL_SHINGLES)} AS sig FROM docs
        ),
        bands0 AS (
            SELECT doc_id, b AS band, sig[2*b + 1] || sig[2*b + 2] AS bsig
            FROM sigs, range(0, {N_BANDS}) AS t(b)
        ),
        -- band-bucket cap (BAND_BUCKET_CAP): identical to the engine's
        -- _cap_band_buckets pre-filter; never binds at oracle SF
        bcap AS (
            SELECT band, bsig FROM bands0
            GROUP BY 1, 2 HAVING count(*) <= {BAND_BUCKET_CAP}
        ),
        bands AS (
            SELECT bands0.doc_id, bands0.band, bands0.bsig
            FROM bands0 JOIN bcap USING (band, bsig)
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(DISTINCT a.band) AS n_shared_bands
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                        AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared_bands,
               CAST(list_sum(list_transform(range(1, {N_HASHES} + 1),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS INT)
                   AS matched_hashes,
               {_sql_fr("list_sum(list_transform(range(1, " + str(N_HASHES) + " + 1), i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / " + str(float(N_HASHES)), 4)}
                   AS est_jaccard
        FROM pairs
        JOIN sigs sa ON pairs.doc_a = sa.doc_id
        JOIN sigs sb ON pairs.doc_b = sb.doc_id
        ORDER BY doc_a, doc_b
    """,
    "dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
        sums AS (
            SELECT doc_id,
                   {", ".join(f"sum(CASE WHEN substring(h, {j}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}" for j in range(1, SIMHASH_BITS + 1))}
            FROM hashed GROUP BY doc_id
        ),
        sh AS (
            SELECT doc_id,
                   {" || ".join(f"(CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END)" for j in range(1, SIMHASH_BITS + 1))} AS simhash
            FROM sums
        )
        SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_bucket
        FROM sh
        ORDER BY doc_id
    """,
    "ngram_jaccard_pairs": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        -- hot-shingle cap: mirror of MAX_POSTING_LEN in the Spark plan
        scount AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            JOIN scount sc ON a.s = sc.s AND sc.c <= {MAX_POSTING_LEN}
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               sa.n + sb.n - n_common AS n_union,
               {_sql_fr("n_common * 1.0 / (sa.n + sb.n - n_common)", 4)} AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
        ORDER BY doc_a, doc_b
    """,
    # the UNFILTERED exact set-similarity join: every co-occurring-shingle
    # pair brute-forced and thresholded — matching the engine's
    # prefix-filtered plan certifies PPJoin's zero-false-negative claim
    # on the data, not just by the pigeonhole argument. J >= 1/2 is the
    # integer test 3*n_common >= |A|+|B|.
    "jaccard_prefix_pairs": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               sa.n + sb.n - n_common AS n_union,
               {_sql_fr("n_common * 1.0 / (sa.n + sb.n - n_common)", 4)} AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE 3 * n_common >= sa.n + sb.n
        ORDER BY doc_a, doc_b
    """,
    "dedup_against_index": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        dg AS (SELECT doc_id, md5(text) AS dg FROM documents),
        exact AS (
            SELECT b.doc_id, min(i.doc_id) AS exact_match
            FROM dg b JOIN dg i ON b.dg = i.dg
            WHERE b.doc_id % 2 = 1 AND i.doc_id % 2 = 0
            GROUP BY 1
        ),
        sigs AS (
            SELECT doc_id, {_sql_minhash_sig(_SQL_SHINGLES)} AS sig FROM docs
        ),
        bands0 AS (
            SELECT doc_id, b AS band, sig[2*b + 1] || sig[2*b + 2] AS bsig
            FROM sigs, range(0, {N_BANDS}) AS t(b)
        ),
        -- band-bucket cap (BAND_BUCKET_CAP): identical to the engine's
        -- _cap_band_buckets pre-filter; never binds at oracle SF
        bcap AS (
            SELECT band, bsig FROM bands0
            GROUP BY 1, 2 HAVING count(*) <= {BAND_BUCKET_CAP}
        ),
        bands AS (
            SELECT bands0.doc_id, bands0.band, bands0.bsig
            FROM bands0 JOIN bcap USING (band, bsig)
        ),
        near AS (
            SELECT b.doc_id, min(i.doc_id) AS near_match
            FROM bands b JOIN bands i ON b.band = i.band AND b.bsig = i.bsig
            WHERE b.doc_id % 2 = 1 AND i.doc_id % 2 = 0
            GROUP BY 1
        )
        SELECT d.doc_id,
               CASE WHEN exact_match IS NOT NULL THEN 'exact_dup'
                    WHEN near_match IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status,
               COALESCE(exact_match, near_match) AS matched_doc_id
        FROM documents d
        LEFT JOIN exact ON d.doc_id = exact.doc_id
        LEFT JOIN near ON d.doc_id = near.doc_id
        WHERE d.doc_id % 2 = 1
        ORDER BY d.doc_id
    """,
    "graph_clustering_coeff": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sigs AS (
            SELECT doc_id, {_sql_minhash_sig(_SQL_SHINGLES)} AS sig FROM docs
        ),
        bands0 AS (
            SELECT doc_id, b AS band, sig[2*b + 1] || sig[2*b + 2] AS bsig
            FROM sigs, range(0, {N_BANDS}) AS t(b)
        ),
        -- band-bucket cap (BAND_BUCKET_CAP): identical to the engine's
        -- _cap_band_buckets pre-filter; never binds at oracle SF
        bcap AS (
            SELECT band, bsig FROM bands0
            GROUP BY 1, 2 HAVING count(*) <= {BAND_BUCKET_CAP}
        ),
        bands AS (
            SELECT bands0.doc_id, bands0.band, bands0.bsig
            FROM bands0 JOIN bcap USING (band, bsig)
        ),
        edges AS (
            SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                        AND a.doc_id < b.doc_id
        ),
        deg AS (
            SELECT u, count(*) AS degree FROM (
                SELECT u FROM edges UNION ALL SELECT v AS u FROM edges
            ) GROUP BY 1
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        nt AS (
            SELECT u, count(*) AS n_triangles FROM (
                SELECT a AS u FROM tri
                UNION ALL SELECT b AS u FROM tri
                UNION ALL SELECT c AS u FROM tri
            ) GROUP BY 1
        )
        SELECT deg.u AS doc_id, degree,
               COALESCE(n_triangles, 0) AS n_triangles,
               {_sql_fr("CASE WHEN degree >= 2 THEN 2.0 * COALESCE(n_triangles, 0) / (degree * (degree - 1)) ELSE 0.0 END", 4)}
                   AS clustering_coeff
        FROM deg LEFT JOIN nt ON deg.u = nt.u
        ORDER BY doc_id
    """,
    "dedup_containment": f"""
        WITH docs AS ({_SQL_DOCS_TOKS}),
        sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        scount AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            JOIN scount sc ON a.s = sc.s AND sc.c <= {MAX_POSTING_LEN}
            GROUP BY 1, 2
        )
        SELECT CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS doc_inner,
               CASE WHEN sa.n <= sb.n THEN doc_b ELSE doc_a END AS doc_outer,
               n_common,
               least(sa.n, sb.n) AS n_inner,
               greatest(sa.n, sb.n) AS n_outer,
               {_sql_fr("n_common * 1.0 / least(sa.n, sb.n)", 4)} AS containment
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / least(sa.n, sb.n) >= {CONTAIN_T}
        ORDER BY doc_inner, doc_outer
    """,
    "embedding_near_dup": f"""
        WITH long AS ({_SQL_LONG_EMB}),
        norms AS (
            SELECT vec_id,
                   sqrt(CAST(sum(CAST(val * val AS DECIMAL(30,10))) AS DOUBLE)) AS nrm
            FROM long GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   CAST(sum(CAST(a.val * b.val AS DECIMAL(30,10))) AS DOUBLE) AS dot
            FROM long a
            JOIN long b ON a.dim = b.dim AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b,
               {_sql_fr("dot / (na.nrm * nb.nrm)", 6)} AS cosine
        FROM dots
        JOIN norms na ON vec_a = na.vec_id
        JOIN norms nb ON vec_b = nb.vec_id
        WHERE dot / (na.nrm * nb.nrm) >= {NEAR_DUP_COS}
        ORDER BY vec_a, vec_b
    """,
}

# Checked fast twin (dedup_minhash_lsh_fast_checked): the output spine is
# the strong-pair subset of ngram_jaccard_pairs — replay that oracle, keep
# rows whose 4-dp-rounded jaccard clears STRONG_JACCARD (the engine filters
# the identically rounded column), and assert the two engine-decided
# claims about the xxhash plan held.
ORACLE["dedup_minhash_lsh_fast"] = f"""
    SELECT doc_a, doc_b, n_common, n_union, jaccard,
           CAST(1 AS INT) AS fast_recall_ok,
           CAST(1 AS INT) AS fast_est_dev_ok
    FROM ({ORACLE["ngram_jaccard_pairs"]})
    WHERE jaccard >= {STRONG_JACCARD}
    ORDER BY doc_a, doc_b
"""

# the prebuilt-index variant answers the SAME question from the stored
# digests + band signatures; the identical in-query-form oracle proves the
# index round-trip (build -> append -> parquet -> probe) loses nothing
ORACLE["dedup_against_index_prebuilt"] = ORACLE["dedup_against_index"]
# snapshot read of the retained generation (r17): row-preserving
# compaction ⇒ the same oracle + the claim pinned TRUE
ORACLE["dedup_prebuilt_snapshot"] = (
    "SELECT *, 1 AS snapshot_equals_live FROM ("
    + ORACLE["dedup_against_index"]
    + ") dedup_snapshot_base"
)

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    # registry surface for the xxhash64 production twin: exact strong
    # pairs + pinned claims about the fast plan (DuckDB-replayable); the
    # raw dedup_minhash_lsh_fast plan is what bench.py times
    "dedup_minhash_lsh_fast": dedup_minhash_lsh_fast_checked,
    "dedup_clusters": dedup_clusters,
    # same contract for the clusters twin: exact-twin rows + pinned
    # label-agreement claim; bench times the raw dedup_clusters_fast
    "dedup_clusters_fast": dedup_clusters_fast_checked,
    # kept under its own name for the registry count and bench.py's
    # frozen list; the same star-contraction implementation
    "dedup_clusters_logstar": dedup_clusters,
    "corpus_dedup_apply": corpus_dedup_apply,
    "pagerank_near_dup": pagerank_near_dup,
    "split_by_cluster": split_by_cluster,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "jaccard_prefix_pairs": jaccard_prefix_pairs,
    "dedup_containment": dedup_containment,
    "dedup_against_index": dedup_against_index,
    "dedup_against_index_prebuilt": dedup_against_index_prebuilt,
    "dedup_prebuilt_snapshot": dedup_prebuilt_snapshot,
    "graph_clustering_coeff": graph_clustering_coeff,
    "embedding_near_dup": embedding_near_dup,
}
