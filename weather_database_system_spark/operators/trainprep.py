"""Training-data preparation operators over the ``documents`` table: the
transforms an LLM pre-training pipeline runs between curation (textan.py /
dedup.py) and the tokenizer — repetition filtering, context-window chunking,
sequence packing, PII redaction, and eval-set decontamination.

The reference stores numeric weather observations only; these extend the
§2B training-pipeline surface the same way textan.py does, and follow the
same rules: built-in column functions end-to-end (explode / window / regexp
— zero Python in the hot path), every result a pure deterministic function
of the input, every query DuckDB-oracle-checked.

Scale shapes (the part that must survive 100 TB):

- repetition: explode → (doc, gram) count with map-side combine → per-doc
  re-agg. Two doc_id-keyed shuffles, both combiner-friendly; no arrays of
  per-doc counters on the driver.
- chunking: pure per-row array math (sequence + slice) — map-only, the
  chunk explosion multiplies rows by ~n_tokens/stride, exactly the output
  size a chunker must produce.
- packing: running token total within a partition key (lang here; a shard
  key in production) → bin id by integer division. ONE window shuffle per
  key — never a global sort: packing is defined per output shard, which is
  what makes it embarrassingly parallel at 100 TB.
- PII: regexp_replace / regexp_extract_all — codegen'd scans, map-only.
- contamination: the eval set is bounded (benchmarks are small), so its
  distinct n-grams broadcast; the training side streams past in one
  map-side hash join. Never an all-pairs comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
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
from weather_database_system_spark.operators.dedup import (
    _SQL_SHINGLES,
    _grams,
    _shingles,
    _sql_grams,
    _tokens,
)
from weather_database_system_spark.operators.relational import _fr, _sql_fr
from weather_database_system_spark.operators.scale import (
    _HI_DIV,
    _ID_MOD,
    _KNUTH,
    _sql_bucket,
)
from weather_database_system_spark.operators.textan import (
    EN_STOPWORDS,
    _quality_score,
    _sql_hits,
)
from weather_database_system_spark.session import scratch_path, track_persisted
from weather_database_system_spark.sources.star import load_table


# _grams / _sql_grams moved to dedup.py (the package-wide n-gram
# definition, shared with textan's LM/PMI scorers); re-exported here for
# the existing import surface.


def repetition_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/MassiveText repetition
    rules, arXiv:2112.11446 §A1.1): fraction of 2-gram occurrences taken by
    the single most frequent 2-gram, and fraction of 3-gram occurrences
    whose 3-gram occurs more than once. Boilerplate-heavy and
    degenerate-loop documents score high and get filtered before training.

    Shape: explode each gram order → (doc, gram) counts (map-side combine)
    → per-doc ratios → join the two orders back on doc_id. Documents too
    short for an order (< n tokens) report 0.0."""
    docs = load_table(spark, sf_dir, "documents")

    def per_doc(n: int, top_alias: str, dup_alias: str) -> DataFrame:
        grams = docs.select(
            "doc_id", F.explode(_grams(_tokens(F.col("text")), n)).alias("gram")
        )
        counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
        return counts.groupBy("doc_id").agg(
            _fr(F.max("c") / F.sum("c"), 4).alias(top_alias),
            _fr(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"),
                4,
            ).alias(dup_alias),
        )

    two = per_doc(2, "top_2gram_frac", "dup_2gram_frac")
    three = per_doc(3, "top_3gram_frac", "dup_3gram_frac")
    zero = F.lit(0.0)
    return (
        docs.select("doc_id")
        .join(two, "doc_id", "left")
        .join(three, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_2gram_frac", zero).alias("top_2gram_frac"),
            F.coalesce("dup_2gram_frac", zero).alias("dup_2gram_frac"),
            F.coalesce("top_3gram_frac", zero).alias("top_3gram_frac"),
            F.coalesce("dup_3gram_frac", zero).alias("dup_3gram_frac"),
        )
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 32  # context-window size, in whitespace tokens
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into CHUNK_TOKENS-token
    windows advancing by CHUNK_STRIDE (overlap = window − stride, so no
    training example loses the context that spans a cut). Emits per chunk
    its token count and content digest — the downstream join key for
    chunk-level dedup.

    Map-only: chunk starts come from a per-row sequence, the text from
    slice(); n_chunks = 1 + ceil(max(n−W, 0)/S) computed in exact integer
    arithmetic shared with the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    # toks is materialized ONCE and n_chunks reads size(toks) from that same
    # column — one tokenizer definition, so a future change to _tokens()
    # cannot desynchronize the chunk count from the chunk slicing.
    with_toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    n_chunks = F.lit(1) + F.expr(
        f"greatest(0, size(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) "
        f"div {CHUNK_STRIDE}"
    )
    with_chunks = with_toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
    )
    chunk_toks = F.slice(
        F.col("toks"), F.col("chunk_no") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return (
        with_chunks.select(
            "doc_id",
            F.col("chunk_no").cast("int").alias("chunk_no"),
            F.size(chunk_toks).alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk_toks)).alias("chunk_digest"),
        )
        .orderBy("doc_id", "chunk_no")
    )


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-grade) cross-document dedup report: group the
    doc_chunk_windows digests by content and keep every chunk that appears
    in MORE THAN ONE document — repeated headers/footers/boilerplate
    passages that whole-document dedup can never see (the ExactSubstr
    motivation of Lee et al. 2022, at chunk granularity instead of suffix
    arrays). Downstream, these digests are the removal list a
    boilerplate-stripping pass anti-joins against.

    One digest-keyed aggregation over the chunk stream (uniform md5 keys —
    no skew), map-side combined; canonical_doc_id gives the deterministic
    exemplar, same convention as dedup_exact."""
    chunks = doc_chunk_windows(spark, sf_dir)
    return (
        chunks.groupBy("chunk_digest")
        .agg(
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
            F.count("*").cast("int").alias("n_occurrences"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "chunk_digest")
    )


PACK_BUDGET = 512  # tokens per packed training sequence
PACK_SHARDS = 4  # shard fan-out exercised by the sharded registry twin


def sequence_pack_bins(
    spark: SparkSession, sf_dir: str, n_shards: int = 0
) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id order) to
    fixed-token-budget training bins by running token total, packed WITHIN
    each partition key. A document starts in the bin its exclusive running
    total falls into; the audit reports per-bin document count, token total
    and fill ratio.

    ``n_shards=0`` packs per ``lang`` (the compact audit shape — few output
    rows, but each lang serializes through one window reducer).
    ``n_shards>0`` packs per ``(lang, shard)`` where shard is a
    deterministic high-bits multiplicative hash of doc_id (the exact
    ``stratified_sample`` recipe, scale.py) — the production key: the
    running-total window partition is bounded by corpus_size/(langs×shards),
    so packing stays embarrassingly parallel at 100 TB by turning the shard
    dial, and bin membership is still a pure engine-exact function of
    (lang, doc_id). Packing is defined per output shard, so sharding does
    not change the contract — token totals are conserved across any shard
    count (pinned by pytest) because every doc lands in exactly one
    (lang, shard) stream."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens(F.col("text")))
    keys = ["lang"]
    cols = [F.col("lang")]
    if n_shards:
        shard = F.expr(
            f"pmod((pmod(doc_id, {_ID_MOD}) * {_KNUTH}) div {_HI_DIV}, {n_shards})"
        )
        cols.append(shard.cast("int").alias("shard"))
        keys.append("shard")
    w = W.partitionBy(*keys).orderBy("doc_id")
    # `div`, not `/` + cast: double division then long-cast truncates in
    # Spark but rounds in DuckDB — integer division is exact in both.
    binned = docs.select(
        *cols,
        F.col("doc_id"),
        n.alias("n_tokens"),
    ).select(
        *keys,
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before"),
    ).select(
        *keys,
        "doc_id",
        "n_tokens",
        F.expr(f"cum_before div {PACK_BUDGET}").alias("bin_id"),
    )
    return (
        binned.groupBy(*keys, "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            _fr(F.sum("n_tokens") / F.lit(float(PACK_BUDGET)), 4).alias("fill_ratio"),
        )
        .orderBy(*keys, "bin_id")
    )


def sequence_pack_bins_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin running ``sequence_pack_bins`` at ``PACK_SHARDS`` —
    the executable form of the 100 TB claim: the window partition key is
    (lang, shard), shard a pure hash of doc_id, so the oracle replays the
    exact same sharding and the driver hash-checks it end-to-end."""
    return sequence_pack_bins(spark, sf_dir, n_shards=PACK_SHARDS)


# Deterministic PII planting: the synthetic corpus contains no PII, so every
# 3rd document gets a contact line derived from its doc_id appended IN THE
# QUERY — the redaction machinery (the actual operator under test) then has
# real matches to find, and both engines plant byte-identical text.
# Case-insensitive email class, word-bounded phone, and octet-bounded
# word-bounded IPv4 (0-255 only) — so UPPER@EXAMPLE.COM is caught and
# 999.999.999.999 / trailing-digit runs are NOT misredacted as IPs. Both
# patterns use only syntax Java regex and RE2 (DuckDB) agree on: character
# classes, bounded repetition, alternation, \b ASCII word boundaries.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
_OCTET = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_IP_RE = f"\\b{_OCTET}(\\.{_OCTET}){{3}}\\b"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email / phone / IPv4 literals with
    anchored-class regexes (codegen'd scans — redaction at 100 TB is a
    map-only pass). Emits per-doc match counts and the digest of the
    redacted text; the digest proves the replacement text, order and
    global-ness of the substitution match the oracle exactly."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
            F.lit("-4242 from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".1"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return (
        docs.select("doc_id", planted.alias("t"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0))).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0))).alias(
                "n_phones"
            ),
            F.size(F.regexp_extract_all(F.col("t"), F.lit(_IP_RE), F.lit(0))).alias(
                "n_ips"
            ),
        )
        .join(
            docs.select("doc_id", F.md5(redacted).alias("redacted_digest")),
            "doc_id",
        )
        .orderBy("doc_id")
    )


EVAL_SET_MAX_DOC = 20  # doc_id < this = stand-in benchmark/eval split
CONTAM_NGRAM = 5


def contamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (the GPT-3 §C / PaLM n-gram collision
    check): count distinct CONTAM_NGRAM-gram collisions between each
    training document and the eval set (doc_id < EVAL_SET_MAX_DOC standing
    in for a benchmark). Training docs sharing ≥1 n-gram with an eval doc
    are flagged with the match count — the removal list a decontamination
    pass feeds back into curation.

    The eval side is DISTINCT n-grams of a bounded set → broadcast; the
    training side streams through one hash join keyed on the gram. At
    100 TB this is a map-side join plus one doc_id-keyed count — no
    all-pairs stage, no skew (eval grams are near-unique)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.array_distinct(_grams(_tokens(F.col("text")), CONTAM_NGRAM))
        ).alias("gram"),
    )
    eval_grams = grams(docs.filter(F.col("doc_id") < EVAL_SET_MAX_DOC)).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    # spread the train side: the interpreted gram explode + broadcast
    # probe + count agg all pipeline on the scan's partitioning, which is
    # ONE task on the single-row-group testdata (relational.spread_fact —
    # a literal no-op at real scale; the doc_id filter stays pushed below)
    from weather_database_system_spark.operators.relational import spread_fact

    train_grams = grams(
        spread_fact(docs.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC))
    )
    hits = train_grams.join(F.broadcast(eval_grams), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
            F.min("eval_doc_id").alias("first_eval_doc"),
        )
        .orderBy("doc_id")
    )


FERT_VOCAB = 256    # closed word vocabulary: top-V by (count desc, term)
FERT_PIECE_LEN = 4  # OOV fallback: character pieces of this length
FERT_RANK_BUCKETS = 32  # per-hash-bucket prefilter width for the top-V
# rank: the global single-partition window sees at most BUCKETS×V rows
# (a constant), never the distinct vocabulary (r17)


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the table that drives tokenizer
    choice for a multilingual corpus (Rust et al. 2021, "How Good is
    Your Tokenizer?"; SentencePiece's fertility metric): subword tokens
    emitted per whitespace word, under a greedy closed-vocabulary
    segmenter — the corpus's top-FERT_VOCAB words tokenize as ONE piece,
    every out-of-vocabulary word falls back to ⌈len/FERT_PIECE_LEN⌉
    character pieces (the unk→pieces behavior every subword scheme
    shares). Languages with rarer/longer words earn higher fertility,
    which is exactly the training-cost and context-budget skew the
    metric exists to expose; oov_rate separates the vocabulary-miss
    component from the word-length component.

    Scale shape: one (doc, term) explode with lang carried; the
    vocabulary rank is TWO-LEVEL (r17, removing the last
    single-partition window over an unbounded table — the
    curriculum_pack_epochs prefix-sum idiom applied to top-V): a
    per-hash-bucket row_number prefilters each bucket to its own top
    FERT_VOCAB (any global top-V term is necessarily in its bucket's
    top-V under the same total order), and only the ≤
    FERT_RANK_BUCKETS·FERT_VOCAB survivors reach the global
    single-partition rank — a CONSTANT-bounded set, never the distinct
    vocabulary. Both levels order by the identical (count desc, term)
    total order, so the selected vocabulary — and the DuckDB oracle —
    are unchanged. The vocab joins back by broadcast; the final
    aggregate is |languages|-keyed with map-side combine. Integer piece
    counts ((len+P−1) div P) keep every intermediate engine-exact; the
    two ratios floor-round to 6 decimals over exact BIGINT sums."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(_tokens(F.col("text"))).alias("term")
    )
    counts = words.groupBy("term").agg(F.count("*").alias("c"))
    order = (F.col("c").desc(), F.col("term"))
    wb = W.partitionBy("b").orderBy(*order)
    wv = W.orderBy(*order)
    vocab = (
        counts.withColumn(
            "b", F.pmod(F.xxhash64("term"), F.lit(FERT_RANK_BUCKETS))
        )
        .withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= FERT_VOCAB)  # bounded: ≤ buckets × V rows
        .select("term", "c")
        .withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") <= FERT_VOCAB)
        .select("term")
        .withColumn("in_vocab", F.lit(True))
    )
    pieces = F.when(
        F.col("in_vocab").isNotNull(), F.lit(1).cast("long")
    ).otherwise(
        F.expr(
            f"CAST((length(term) + {FERT_PIECE_LEN - 1}) "
            f"DIV {FERT_PIECE_LEN} AS LONG)"
        )
    )
    per = (
        words.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(pieces).alias("n_subwords"),
            F.sum(
                F.when(F.col("in_vocab").isNotNull(), 0).otherwise(1)
            ).alias("n_oov"),
        )
    )
    return per.select(
        "lang",
        "n_words",
        "n_subwords",
        _fr(F.col("n_subwords") / F.col("n_words"), 6).alias("fertility"),
        _fr(F.col("n_oov") / F.col("n_words"), 6).alias("oov_rate"),
    ).orderBy("lang")


CONTAM_INDEX_ALGO = 1  # bump on any gram/layout/semantics change


# The stored eval-set fingerprint index: per-doc DISTINCT
# CONTAM_NGRAM-grams as (eval_doc_id, gram) at the generation root,
# gram-sorted so probe joins read index rows pre-clustered by their join
# key. A benchmark suite is fingerprinted once at suite ingest and new
# suites append; every arriving training batch probes the stored grams
# (the GPT-3 §C / PaLM collision check run as index bytes, never
# re-tokenizing the eval corpus). The registry slot: a build of the first
# half of the stand-in eval set, then one appended batch of the rest.
CONTAMINATION = IndexSpec(
    kind="contamination_index",
    meta={
        "algo": CONTAM_INDEX_ALGO,
        "ngram": CONTAM_NGRAM,
        "eval_max": EVAL_SET_MAX_DOC,
        "split": "build < MAX/2, append rest",
    },
    source="documents",
    tables=(RowsTable("", ("gram",), ("gram", "eval_doc_id")),),
    encode=lambda eval_docs, _state: {
        "": eval_docs.select(
            F.col("doc_id").alias("eval_doc_id"),
            F.explode(
                F.array_distinct(_grams(_tokens(F.col("text")), CONTAM_NGRAM))
            ).alias("gram"),
        )
    },
    rows=lambda spark, sf_dir: load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EVAL_SET_MAX_DOC
    ),
    batch=f"doc_id >= {EVAL_SET_MAX_DOC // 2}",
)


def contamination_query_prebuilt(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    batch: DataFrame | None = None,
) -> DataFrame:
    """QUERY-ONLY half of stored contamination screening: the arriving
    training ``batch`` (any (doc_id, text) frame — default: the pinned
    registry train split) is gram-extracted and joined against the
    STORED eval fingerprints — the eval corpus is never re-read or
    re-tokenized, so screening a crawl batch prices at
    |batch|·tokenize + |index| gram rows (eval sets are bounded →
    broadcast, the in-query form's own join shape). Duplicate-append
    safety is free by construction: every aggregate is countDistinct
    or min, so at-least-once appended index rows cannot change any
    count (pytest-pinned with a retry storm)."""
    if path is None:
        path = ensure(CONTAMINATION, spark, sf_dir)
    path = slot_live(path)
    idx = spark.read.parquet(path)
    if batch is None:
        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= EVAL_SET_MAX_DOC
        )
    train_grams = batch.select(
        "doc_id",
        F.explode(
            F.array_distinct(_grams(_tokens(F.col("text")), CONTAM_NGRAM))
        ).alias("gram"),
    )
    return (
        train_grams.join(F.broadcast(idx), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
            F.min("eval_doc_id").alias("first_eval_doc"),
        )
        .orderBy("doc_id")
    )


def contamination_against_index_prebuilt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stored-index deployment form of eval decontamination (r16,
    the SIXTH stored family — trigram, IVF, dedup, PQ, BM25, and now
    eval fingerprints share one lifecycle): the benchmark suite is
    fingerprinted ONCE through the real bulk-build + appended-suite
    lifecycle (the ``CONTAMINATION`` spec) and the query screens the
    training split against index bytes. Output identical to
    ``contamination_eval_overlap`` — same grams, same distinct/min
    aggregates — so the same DuckDB full-replay oracle proves the
    stored round-trip, the append, and the probe lose nothing.
    Reference parity: extension surface; cf. Brown et al. 2020 §C /
    Chowdhery et al. 2022 (PaLM) for the public n-gram collision
    method."""
    path = ensure(CONTAMINATION, spark, sf_dir)
    return contamination_query_prebuilt(spark, sf_dir, path)


def contamination_prebuilt_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT read of the stored eval-fingerprint index (r17 —
    snapshot reads generalized to every stored family): the training
    batch is screened against the RETAINED pre-compaction generation —
    the audit-grade shape: a decontamination report can be re-derived
    against the exact index state a training run screened with, even
    after later suites were appended and compacted. Engine-decided
    ``snapshot_equals_live`` claim pinned TRUE by the row-preserving
    compaction; same full-replay oracle + claim."""
    ensure(CONTAMINATION, spark, sf_dir)
    slot = scratch_path(CONTAMINATION.kind, sf_dir)
    snap = ensure_snapshot_state(
        slot, lambda s: compact(CONTAMINATION, spark, s)
    )
    snap_df = contamination_query_prebuilt(spark, sf_dir, snap)
    live_df = contamination_query_prebuilt(spark, sf_dir, slot_live(slot))
    on = ["doc_id", "n_shared_ngrams", "n_eval_docs_hit", "first_eval_doc"]
    claims = snapshot_equals_live_claim(snap_df, live_df, on)
    return (
        snap_df.crossJoin(F.broadcast(claims))
        .select(*on, "snapshot_equals_live")
        .orderBy("doc_id")
    )


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture audit + reweighting (The Pile's per-set epochs /
    DoReMi's domain weights, as a table): per source domain, doc and token
    counts, the natural mixture share, and the resampling weight that
    rebalances the corpus to a UNIFORM target mixture (weight > 1 ⇒
    upsample, < 1 ⇒ downsample).

    100 TB shape: ONE combiner-friendly groupBy over |domains| keys (token
    counts partially aggregate map-side); the share/weight arithmetic runs
    as a window over the |domains|-row AGGREGATE — the unpartitioned window
    is bounded by domain cardinality, never corpus-sized. All shares divide
    exact BIGINT token counts, so the doubles are engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_tokens(F.col("text")))).alias("n_tokens"),
    )
    wall = W.partitionBy()
    natural = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    target = F.lit(1.0) / F.count("*").over(wall)
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        _fr(natural, 6).alias("natural_share"),
        _fr(target, 6).alias("target_share"),
        _fr(target / natural, 4).alias("sample_weight"),
    ).orderBy("source")


VOCAB_CURVE_BUCKETS = 50  # curve resolution: bounded window state, any SF


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth diagnostic: cumulative distinct
    vocabulary vs cumulative tokens over the corpus in doc_id order —
    the curve that tells a tokenizer/dedup pipeline whether vocabulary
    is still growing (fresh content arriving) or saturating (the corpus
    is re-treading itself; more data buys fewer new types). Emitted at
    VOCAB_CURVE_BUCKETS ordered doc-id buckets.

    Shape at 100 TB: the naive form (cumulative DISTINCT over a
    corpus-ordered window) is unshardable; this one never windows the
    corpus — each term aggregates to its FIRST bucket (vocab-bounded
    min-agg), new-type counts and token sums aggregate per bucket
    (K rows), and the only window runs over the K-row bucket table.
    Bucket assignment is pure integer arithmetic from a 1-row
    (min, max) doc_id broadcast — no sort, no corpus window, map-side
    everywhere.

    Determinism: every emitted value is an exact integer (counts and
    integer-division bucket ids) — no floats anywhere, so the DuckDB
    replay is definitionally hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    d = track_persisted(
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"CAST((doc_id - mn) * {VOCAB_CURVE_BUCKETS}"
                f" DIV (mx - mn + 1) AS INT)"
            ).alias("bucket"),
            _tokens(F.col("text")).alias("toks"),
        )
        .persist()
    )
    per = d.groupBy("bucket").agg(
        F.sum(F.size("toks")).alias("toks_in_bucket")
    )
    firstb = (
        d.select("bucket", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("new_types"))
    )
    wk = W.orderBy("bucket")  # K-row window — bounded, never corpus-sized
    return (
        per.join(firstb, "bucket", "left")
        .select(
            "bucket",
            "toks_in_bucket",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        )
        .select(
            "bucket",
            F.sum("toks_in_bucket").over(wk).cast("long").alias("cum_tokens"),
            F.col("new_types").cast("long").alias("new_types"),
            F.sum("new_types").over(wk).cast("long").alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


MIX_ALPHA = 0.3  # the mT5/XLM-R exponent: q_s ∝ p_s^α (α<1 flattens)


def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (Conneau & Lample 2019 §3.1;
    mT5, Xue et al. 2021 §3.2 — the standard multilingual/multi-source
    mixing rule): tempered share q_s ∝ p_s^α with α = MIX_ALPHA < 1,
    which flattens the natural mixture — low-resource sources are
    upsampled, dominant ones damped — without going all the way to
    domain_mixture_weights' uniform target. Emits, per source: the
    natural token share, the tempered share, and the effective
    upsampling factor q/p a sampler applies.

    100 TB shape: identical to domain_mixture_weights — ONE map-side-
    combined |domains|-key aggregate; all share arithmetic runs on the
    |domains|-row result (unpartitioned windows bounded by domain
    cardinality, never corpus-sized).

    Determinism: p_s divides exact BIGINT token counts (identical
    doubles in both engines); p^α floor-rounds to 6 BEFORE the
    normalizing sum, which accumulates in DECIMAL over the rounded
    values (order-independent — a double window-sum would be
    addition-order-dependent across engines); the final shares and
    factors are rounded divisions of already-rounded values."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(_tokens(F.col("text")))).alias("n_tokens")
    )
    wall = W.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    t6 = _fr(F.pow(p, MIX_ALPHA), 6)
    tempered = per.select(
        "source", "n_tokens", _fr(p, 6).alias("natural_share"),
        t6.cast("decimal(20,6)").alias("t"),
    )
    tot = F.sum("t").over(wall).cast("double")
    q6 = _fr(F.col("t").cast("double") / tot, 6)
    return tempered.select(
        "source",
        "n_tokens",
        "natural_share",
        q6.alias("tempered_share"),
        _fr(q6 / F.col("natural_share"), 4).alias("upsample_factor"),
    ).orderBy("source")


QUALITY_P_FLOOR = 0.05  # minimum keep probability: every doc stays sampleable


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: keep each document with
    probability equal to its quality score (textan's shared
    ``_quality_score``, clamped to [QUALITY_P_FLOOR, 1] and rounded to the
    4-decimal keep_p BEFORE the membership test, so the boundary is
    engine-exact by construction), decided by the deterministic Knuth hash
    bucket — the same reproducible, engine-exact membership scheme as
    stratified_sample (no RNG: membership is a pure function of doc_id,
    stable under reruns and joinable). Kept rows carry the
    Horvitz-Thompson inverse-probability weight — 100/ceil(keep_p·100),
    the EXACT inclusion probability of the integer-bucket test (the number
    of buckets in [0, x) is ceil(x)) — so downstream token / loss
    statistics over the sample stay unbiased estimates of the corpus.

    Map-only at any scale: score, clamp, bucket, and filter are all column
    expressions in one codegen'd scan — the quality-pruning pass of a
    100 TB curation pipeline is exactly this shape."""
    docs = load_table(spark, sf_dir, "documents")
    score = _quality_score(_tokens(F.col("text")))
    p = F.least(F.lit(1.0), F.greatest(F.lit(QUALITY_P_FLOOR), score))
    keep_p = _fr(p, 4)
    b = F.expr(f"pmod((pmod(doc_id, {_ID_MOD}) * {_KNUTH}) div {_HI_DIV}, 100)")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            _fr(score, 4).alias("quality_score"),
            keep_p.alias("keep_p"),
            _fr(F.lit(100.0) / F.ceil(keep_p * 100), 6).alias("ht_weight"),
            b.alias("b"),
        )
        .filter(F.col("b") < F.col("keep_p") * 100)
        .drop("b")
        .orderBy("doc_id")
    )


RESERVOIR_K = 100        # fixed sample size
_U_BUCKETS = 1_048_576   # 2^20 — resolution of the deterministic uniform


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE weighted sampling without replacement (Efraimidis &
    Spirakis 2006, "Weighted random sampling with a reservoir" — A-ES):
    keep the K documents with the largest key u^(1/w) ⟺ largest ln(u)/w,
    where w is the quality score. The complement of
    quality_weighted_sample's Bernoulli keep: that one yields a RANDOM-
    size sample with per-doc inclusion probability; this one yields an
    EXACT-size quality-tilted subset (the "give me the best 10M docs,
    diversity-preserving" curation ask — deterministic top-k beats
    sort-by-score because low-score docs still win slots at rate ∝ w).

    No RNG: u derives from the same Knuth multiplicative hash bucket as
    the repo's other samplers (a pure integer function of doc_id →
    engine-exact), widened to 2^20 buckets and centered (+0.5, so u>0
    and ln is finite); w floor-rounds to 4 dp BEFORE keying so the
    weight is engine-exact by construction. The only float op the
    ordering rests on is ln of an identical double — a pytest pins the
    measured top-K boundary gap at ≥1e-4, ~12 orders above any libm
    ulp divergence, so the selected SET is deterministic cross-engine
    (the ann_bruteforce_pandas precedent).

    Scale shape: one map-only scan (score, hash, key are codegen'd
    column expressions) into TakeOrdered(K) — per-partition top-K heaps
    merged on the driver, NO full shuffle and no global sort; at 100 TB
    the cost is the scan. The canonical distributed-reservoir plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    w = _fr(
        F.least(F.lit(1.0), F.greatest(F.lit(QUALITY_P_FLOOR), _quality_score(toks))),
        4,
    )
    u_int = F.expr(
        f"pmod((pmod(doc_id, {_ID_MOD}) * {_KNUTH}) div {_HI_DIV}, {_U_BUCKETS})"
    )
    u = (u_int + F.lit(0.5)) / F.lit(float(_U_BUCKETS))
    keyed = docs.select(
        "doc_id",
        "lang",
        "source",
        w.alias("weight"),
        (F.log(u) / w).alias("k"),
    )
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(RESERVOIR_K)
        .select("doc_id", "lang", "source", "weight", _fr(F.col("k"), 6).alias("sample_key"))
        .orderBy("doc_id")
    )


DSIR_BUCKETS = 256       # hashed-feature space (the DSIR state bound)
DSIR_TARGET_LANG = "en"  # self-contained stand-in for the target corpus


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169 — Data
    Selection via Importance Resampling): score every document by its
    log importance weight log(p_target/p_raw) under two hashed-n-gram
    bag-of-words models — the public method behind targeted pre-training
    mixes (select web data that looks like the target domain). Features
    are unigrams ∪ bigrams hashed into DSIR_BUCKETS buckets (the paper's
    dimensionality bound: distribution state is B rows NO MATTER how
    large the vocabulary grows — the whole reason this scales to 100 TB
    where a vocabulary-keyed model would not); the target distribution
    is the DSIR_TARGET_LANG slice (a self-contained stand-in for the
    paper's separate target corpus), the raw distribution the full
    corpus; both add-one smoothed over the B buckets. keep =
    (log_weight > 0): the doc looks more target- than raw-like.

    Shape at 100 TB: ONE gram explode (corpus-sized, map-side) → bucket
    via md5-hash (JVM codegen, no Python) → (a) a B-row distribution
    aggregate carrying BOTH models in one pass (count + conditional
    count), (b) a (doc, bucket) count with map-side combine (≤B rows per
    doc). Scoring joins (doc, bucket) counts against the B-row broadcast
    log-ratio table and sums per doc — no vocabulary-sized state
    anywhere, no second corpus pass.

    Determinism: the log argument is the exact-integer ratio
    ((ct+1)·(R+B)) / ((cr+1)·(T+B)) — all products < 2^53, so both
    engines form the identical double before ln (the source_kl recipe);
    per-bucket log-ratios floor-round to 6 decimals, per-doc sums
    accumulate n·lr6 in DECIMAL (order-independent), the weight rounds
    to 4, and the keep flag compares the ROUNDED value."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    # persisted: feats feeds the distribution aggregate (twice, via tot)
    # AND the per-doc bucket counts — without the cache each consumer
    # re-runs the corpus-sized gram explode (3 scans measured); cached,
    # ONE tokenize+hash pass serves all three (caller releases via
    # release_persisted, the package persist contract)
    feats = track_persisted(
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.concat(toks, _grams(toks, 2))).alias("g"),
        )
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast(
                    "bigint"
                ),
                F.lit(DSIR_BUCKETS),
            ).alias("bucket"),
        )
        .persist()
    )
    dist = feats.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    tot = dist.agg(F.sum("cr").alias("r"), F.sum("ct").alias("t"))
    ratio = ((F.col("ct") + 1) * (F.col("r") + DSIR_BUCKETS)).cast("double") / (
        (F.col("cr") + 1) * (F.col("t") + DSIR_BUCKETS)
    )
    lr = (
        dist.crossJoin(F.broadcast(tot))
        .select("bucket", _fr(F.log(ratio), 6).alias("lr6"))
    )
    nb = feats.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    return (
        nb.join(F.broadcast(lr), "bucket")
        .select("doc_id", "n", (F.col("n") * F.col("lr6")).cast("decimal(30,10)").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("int").alias("n_feats"),
            _fr(F.sum("s").cast("double"), 4).alias("log_weight"),
        )
        .withColumn("keep", F.col("log_weight") > 0.0)
        .orderBy("doc_id")
    )


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift quantification: KL(source ‖ corpus) over unigram
    distributions — how far each data source's token distribution sits from
    the corpus mixture, in nats. The number mixture-tuning reads next to
    domain_mixture_weights' token shares (a source with high KL dominates
    its own niche; upweighting it shifts the trained distribution hardest)
    and the continuous counterpart of source_overlap_jaccard's set view.

    KL_s = Σ_t p_s(t)·ln(p_s(t)/q(t)) with p_s = c_st/n_s, q = c_t/N; the
    source support is a subset of the corpus support, so q > 0 everywhere
    p_s > 0 and the sum is finite.

    Shape at 100 TB: (source, term) counts → a term-keyed join against the
    vocabulary-bounded corpus counts → one |sources|-key agg. Corpus totals
    ride a 1-row broadcast.

    Determinism: the log argument is the exact-integer ratio
    (c_st·N)/(n_s·c_t) — all products < 2^53, so both engines form the
    identical double before ln; each term floor-rounds to 8 decimals and
    sums accumulate in DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    terms = base.select("source", F.explode(_tokens(F.col("text"))).alias("term"))
    st = terms.groupBy("source", "term").agg(F.count("*").alias("c_st"))
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    t_tot = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    n_tot = st.agg(F.sum("c_st").alias("n_corpus"))
    p = F.col("c_st") / F.col("n_s")
    ratio = (F.col("c_st") * F.col("n_corpus")).cast("double") / (
        F.col("n_s") * F.col("c_t")
    )
    term8 = _fr(p * F.log(ratio), 8)
    return (
        st.join(s_tot, "source")
        .join(t_tot, "term")
        .crossJoin(F.broadcast(n_tot))
        .select("source", "n_s", term8.cast("decimal(30,12)").alias("kterm"))
        .groupBy("source")
        .agg(
            F.first("n_s").cast("long").alias("n_tokens"),
            F.count("*").cast("int").alias("vocab_used"),
            _fr(F.sum("kterm").cast("double"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level content-overlap matrix: pairwise Jaccard similarity of
    the distinct-3-gram-shingle SETS of each data source — the
    which-domains-mirror-each-other diagnostic that decides source-level
    dedup priorities before any per-document pass (two sources with high
    shingle overlap are mirrors/scrapes of each other; dedup one against
    the other first).

    Shape at 100 TB: one (source, shingle) distinct (corpus-scan + one
    shuffle keyed by shingle), then the pair stage is an equi-join on the
    shingle whose per-key fan-out is bounded by |sources|² — sources number
    in the hundreds, so the inverted-index join is skew-free by
    construction (unlike doc-level postings, no cap needed). Exact
    integer counts end-to-end; Jaccard rounds at presentation."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sh = base.select(
        "source", F.explode(_shingles(_tokens(F.col("text")))).alias("s")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("source_a") == F.col("sa.source"))
        .join(sb, F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("int").alias("n_common"),
            (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            .cast("int")
            .alias("n_union"),
            _fr(jac, 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + token-id mapping — the tokenize step between
    curation and training: build the corpus vocabulary (id = frequency
    rank, ties by term — the word-level analog of a BPE vocab order), map
    every token occurrence to its id, and emit per document the id-sequence
    digest (order-preserving) plus token counts. The digest stands in for
    shipping the full int-array column through the compare; the sequence
    itself is what a real pipeline writes.

    Scale shape: (doc, pos, term) explode → a vocabulary-keyed count (
    bounded by |vocab|, not corpus) → ONE single-partition window to assign
    ids — bounded by the VOCABULARY (~1M rows at web scale: one in-memory
    sort, the standard vocab-build step; never a corpus-sized global sort)
    — → a term-keyed map join back (AQE broadcasts small vocabularies) →
    one doc-keyed agg. Order inside the digest comes from array_sort over
    (pos, id) structs — no assumption about collect_list order."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pos = base.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "term")
    )
    counts = pos.groupBy("term").agg(F.count("*").alias("c"))
    wv = W.orderBy(F.col("c").desc(), F.col("term"))
    vocab = counts.select("term", (F.row_number().over(wv) - 1).alias("tid"))
    ids = pos.join(vocab, "term")
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"].cast("string"),
            ),
        )
    )
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.countDistinct("tid").cast("int").alias("n_distinct_ids"),
            F.min("tid").cast("int").alias("min_id"),
            digest.alias("ids_md5"),
        )
        .orderBy("doc_id")
    )


BPE_TOP_PAIRS = 50  # merge candidates reported (one BPE iteration's view)


def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair counting — the inner statistic of byte-pair-encoding
    tokenizer training (Sennrich, Haddow & Birch, ACL 2016): for every
    adjacent character pair inside a word, its corpus occurrence count;
    the top pair is the next merge. One full iteration's candidate table,
    top-K by count.

    The engine applies the same rewrite the reference BPE implementation
    uses as its core trick: aggregate the corpus to the WORD-FREQUENCY
    table first (one corpus-sized shuffle, map-side combined, output
    bounded by |vocab| — Heaps-law sublinear in corpus size), then
    explode each distinct word's pairs weighted by its frequency. The
    naive form explodes every token OCCURRENCE into pairs — a
    corpus×word-length-sized explode feeding the pair aggregation. At
    100 TB the two differ by orders of magnitude: the vocab table is
    millions of rows where the occurrence explode is trillions, and
    every subsequent BPE iteration re-reads the small table, not the
    corpus.

    Counts are exact integers (vocab_count × pairs_per_word sums to the
    per-occurrence count by construction); pair extraction is
    character-based substring in both engines; the top-K cut rides a
    total (count DESC, pair) order.

    Oracle: the UNREWRITTEN per-occurrence explode, proving the
    vocab-factored rewrite."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("tok") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


_SQL_TOKS = "SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents"


def _sql_rep_per_doc(n: int, top_alias: str, dup_alias: str) -> str:
    return f"""
        SELECT doc_id,
               {_sql_fr('max(c) * 1.0 / sum(c)', 4)} AS {top_alias},
               {_sql_fr('sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c)', 4)}
                   AS {dup_alias}
        FROM (
            SELECT doc_id, gram, count(*) AS c
            FROM (SELECT doc_id, unnest({_sql_grams(n)}) AS gram
                  FROM ({_SQL_TOKS}))
            GROUP BY 1, 2
        )
        GROUP BY doc_id
    """


# The shared quality score in DuckDB form — operand-for-operand the same
# IEEE double sequence as textan._quality_score (exact integer ratios in,
# so the unrounded value is engine-identical; corpus_curation's oracle
# already relies on this).
_SQL_SCORE = (
    "(least(1.0, len(toks) / 200.0) * 0.5"
    f" + (1.0 - {_sql_hits(EN_STOPWORDS)} * 1.0 / len(toks)) * 0.3"
    " + least(1.0, (len(list_distinct(toks)) * 1.0 / len(toks)) * 2) * 0.2)"
)


SPAN_SEED_PCT = 5   # % of token positions that seed a corruption span
SPAN_MIN_LEN = 2    # span length ∈ [MIN, MIN + SPAN_LEN_MOD)
SPAN_LEN_MOD = 3


def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLANNING (Raffel et al. 2020 §3.1.4): pick
    ~5 % of token positions as span seeds with deterministic hash buckets
    (no RNG — the same (doc_id, position) always masks identically, the
    reproducibility property a distributed data loader needs), give each
    seed a hash-derived length in [2, 4], and resolve overlapping spans
    with a running max over seed ends — token p is masked iff any seed at
    or before p still covers it. Emits the per-doc corruption audit (masked
    token count, span count after overlap-merge, rate, an order-exact
    digest of the mask) that the actual sentinel-insertion pass consumes.

    Scale shape: posexplode → ONE doc_id-keyed window (running max + lag
    ride the same sort) → per-doc re-agg, all map-side combinable. The
    whole mask is a pure function of (doc_id, p), so the oracle replays it
    with identical integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("p", "tok")
    )
    b_seed = F.expr(
        f"pmod((pmod(doc_id * 100000 + p, {_ID_MOD}) * {_KNUTH}) div {_HI_DIV}, 100)"
    )
    b_len = F.expr(
        f"pmod((pmod(doc_id * 100000 + p + 13, {_ID_MOD}) * {_KNUTH}) div {_HI_DIV}, {SPAN_LEN_MOD})"
    )
    seeded = toks.select(
        "doc_id",
        "p",
        F.when(
            b_seed < SPAN_SEED_PCT, F.col("p") + F.lit(SPAN_MIN_LEN) + b_len
        ).alias("seed_end"),
    )
    w = W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    wl = W.partitionBy("doc_id").orderBy("p")
    marked = seeded.select(
        "doc_id",
        "p",
        (F.coalesce(F.max("seed_end").over(w), F.lit(-1)) > F.col("p")).alias(
            "masked"
        ),
    ).withColumn(
        "span_start",
        (F.col("masked") & ~F.coalesce(F.lag("masked").over(wl), F.lit(False))).cast(
            "int"
        ),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("masked").cast("int")).alias("n_masked"),
            F.sum("span_start").alias("n_spans"),
            _fr(
                F.sum(F.col("masked").cast("int")) / F.count("*"), 4
            ).alias("corruption_rate"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.when(F.col("masked"), F.col("p")))
                        ),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("mask_digest"),
        )
        .orderBy("doc_id")
    )


CURRICULUM_BUDGET = 4096  # tokens per curriculum epoch


def curriculum_pack_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-ordered curriculum packing (Bengio et al. 2009 curriculum
    learning, the sequence-length schedule): order the corpus globally by
    (n_tokens, doc_id) — short, easy sequences first — take the GLOBAL
    exclusive running token total, and cut epochs every CURRICULUM_BUDGET
    tokens. The training loader then streams epoch 0, 1, 2… in order.

    The naive plan — ``sum().over(Window.orderBy(...))`` with no partition
    key — funnels the whole corpus through ONE reducer (Spark even warns).
    This implements the scale-correct two-level distributed prefix sum
    instead:

    1. ``repartitionByRange`` on the sort key: partition i holds a
       contiguous key range wholly before partition i+1's (sampled, roughly
       equal-sized splits).
    2. partition-LOCAL running totals via a window keyed on
       ``spark_partition_id()`` — a uniform key, every reducer busy.
    3. per-partition totals (n_partitions rows, tiny) → exclusive offsets
       via one driver-scale window → broadcast back and add.

    The result is invariant to where the range boundaries fall (the prefix
    over a total order does not depend on its bucketing), so the sampled
    partitioner never leaks into values and the oracle replays a plain
    SUM OVER (ORDER BY) — global-window semantics at shuffle-parallel cost.
    The local stage is persisted so the offsets branch and the join branch
    read one materialization (also freezing partition ids)."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    scored = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens")
    )
    local = track_persisted(
        scored.repartitionByRange(n_part, F.col("n_tokens"), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "local_cum",
            F.sum("n_tokens").over(W.partitionBy("pid").orderBy("n_tokens", "doc_id")),
        )
        .persist()
    )
    offsets = (
        local.groupBy("pid")
        .agg(F.sum("n_tokens").alias("ptotal"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("ptotal").over(
                    W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("local_cum") - F.col("n_tokens") + F.col("offset")).alias(
                "cum_before"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "cum_before",
            # stays BIGINT: at the 100 TB design point the prefix sum
            # overflows int32 epochs (~8.8e12 tokens), where a non-ANSI
            # int cast would silently wrap
            F.expr(f"cum_before div {CURRICULUM_BUDGET}").alias("epoch"),
        )
        .orderBy("doc_id")
    )


# ONE SQL definition of the chunk derivation, shared by the
# doc_chunk_windows and chunk_dedup_stats oracles — the CHUNK_TOKENS /
# CHUNK_STRIDE window math must never fork between the two.
_SQL_CHUNK_SLICE = (
    f"toks[chunk_no * {CHUNK_STRIDE} + 1 : "
    f"chunk_no * {CHUNK_STRIDE} + {CHUNK_TOKENS}]"
)


def _sql_chunk_ctes() -> str:
    return f"""WITH d AS ({_SQL_TOKS}),
        n_chunks AS (
            SELECT doc_id, toks,
                   1 + greatest(0, len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                         // {CHUNK_STRIDE} AS nc
            FROM d
        ),
        chunks AS (
            SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_no FROM n_chunks
        )"""


SPAN_L = 8  # duplicated-span gram length (tokens): the ExactSubstr window


def duplicate_span_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplicate extraction — the ExactSubstr
    criterion of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499 §3.1): locate, per document,
    every MAXIMAL token span covered by length-SPAN_L grams that occur
    more than once in the corpus. Doc-level dedup (minhash family) drops
    whole near-copies; this finds the duplicated REGIONS inside otherwise
    unique docs (quoted boilerplate, templated headers) so a curation
    pass can excise spans instead of documents.

    Shape at 100 TB — deliberately NO pair stage (the paper's suffix
    array becomes an inverted gram index): positional grams explode
    map-side; the duplicated-gram set is a gram-keyed count aggregate
    (map-side combined, vocabulary-of-grams cardinality); membership is
    ONE semi-join back on the gram (AQE-broadcast when small); maximal
    spans merge per doc with a single doc_id-partitioned gaps-and-islands
    window (positions p whose running max(p + L) chain overlaps fuse —
    the sessionize_events island derivation on token offsets). A
    boilerplate gram shared by millions of docs costs one counter and
    marks positions; nothing quadratic exists to cap.

    Fully SQL-expressible → DuckDB oracle replays grams, the duplicated
    set, and the island merge identically."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.posexplode(_grams(_tokens(F.col("text")), SPAN_L)).alias("p", "g")
    )
    dup = grams.groupBy("g").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    hits = grams.join(dup.select("g"), "g", "left_semi").select("doc_id", "p")
    w = W.partitionBy("doc_id").orderBy("p")
    prev_max_end = F.max(F.col("p") + SPAN_L).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "ni",
        F.when(prev_max_end.isNull() | (F.col("p") > prev_max_end), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "span_no", F.sum("ni").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "span_no")
        .agg(
            F.min("p").cast("int").alias("start_tok"),
            (F.max("p") + SPAN_L).cast("int").alias("end_tok"),
        )
        .select(
            "doc_id",
            F.col("span_no").cast("int").alias("span_no"),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("span_len"),
        )
        .orderBy("doc_id", "span_no")
    )


ORACLE: dict[str, str] = {
    "dsir_importance_weights": f"""
        WITH d AS ({_SQL_TOKS}),
        feats AS (
            SELECT doc_id, lang,
                   CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                       % {DSIR_BUCKETS} AS bucket
            FROM (
                SELECT doc_id, lang,
                       unnest(list_concat(toks, {_sql_grams(2)})) AS g
                FROM d
            )
        ),
        dist AS (
            SELECT bucket, count(*) AS cr,
                   sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
            FROM feats GROUP BY 1
        ),
        tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM dist),
        lr AS (
            SELECT bucket,
                   {_sql_fr(
                       f"ln(CAST((ct + 1) * (r + {DSIR_BUCKETS}) AS DOUBLE)"
                       f" / ((cr + 1) * (t + {DSIR_BUCKETS})))", 6)} AS lr6
            FROM dist, tot
        ),
        nb AS (SELECT doc_id, bucket, count(*) AS n FROM feats GROUP BY 1, 2),
        scored AS (
            SELECT doc_id, n, CAST(n * lr6 AS DECIMAL(30,10)) AS s
            FROM nb JOIN lr USING (bucket)
        ),
        agg AS (
            SELECT doc_id, CAST(sum(n) AS INT) AS n_feats,
                   {_sql_fr('CAST(sum(s) AS DOUBLE)', 4)} AS log_weight
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_feats, log_weight, log_weight > 0.0 AS keep
        FROM agg
        ORDER BY doc_id
    """,
    "vocab_growth_curve": f"""
        WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
        d AS (
            SELECT CAST((doc_id - mn) * {VOCAB_CURVE_BUCKETS}
                        // (mx - mn + 1) AS INT) AS bucket,
                   string_split(text, ' ') AS toks
            FROM documents, b
        ),
        per AS (
            SELECT bucket, CAST(sum(len(toks)) AS BIGINT) AS toks_in_bucket
            FROM d GROUP BY 1
        ),
        firstb AS (
            SELECT term, min(bucket) AS bucket
            FROM (SELECT bucket, unnest(toks) AS term FROM d)
            GROUP BY term
        ),
        newt AS (SELECT bucket, count(*) AS new_types FROM firstb GROUP BY 1)
        SELECT p.bucket,
               CAST(sum(p.toks_in_bucket) OVER (ORDER BY p.bucket) AS BIGINT)
                   AS cum_tokens,
               CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
               CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.bucket)
                   AS BIGINT) AS cum_vocab
        FROM per p LEFT JOIN newt n USING (bucket)
        ORDER BY p.bucket
    """,
    "source_temperature_mix": f"""
        WITH per AS (
            SELECT source,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        shares AS (
            SELECT source, n_tokens,
                   {_sql_fr("CAST(n_tokens AS DOUBLE) / (sum(n_tokens) OVER ())", 6)}
                       AS natural_share,
                   CAST({_sql_fr(
                       f"pow(CAST(n_tokens AS DOUBLE) / (sum(n_tokens) OVER ()), {MIX_ALPHA})",
                       6)} AS DECIMAL(20,6)) AS t
            FROM per
        ),
        q AS (
            SELECT source, n_tokens, natural_share,
                   {_sql_fr("CAST(t AS DOUBLE) / CAST(sum(t) OVER () AS DOUBLE)", 6)}
                       AS tempered_share
            FROM shares
        )
        SELECT source, n_tokens, natural_share, tempered_share,
               {_sql_fr("tempered_share / natural_share", 4)} AS upsample_factor
        FROM q
        ORDER BY source
    """,
    # the UNREWRITTEN BPE pair count: explode every token OCCURRENCE into
    # its character pairs (corpus-sized) — matching the engine's
    # vocab-frequency-factored form proves the Sennrich rewrite
    "bpe_merge_pairs": f"""
        WITH d AS ({_SQL_TOKS}),
        t AS (SELECT unnest(toks) AS tok FROM d),
        p AS (
            SELECT unnest(list_transform(range(1, length(tok)),
                                         i -> substr(tok, i, 2))) AS pair
            FROM t WHERE length(tok) >= 2
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS pair_count
        FROM p
        GROUP BY pair
        ORDER BY pair_count DESC, pair
        LIMIT {BPE_TOP_PAIRS}
    """,
    "duplicate_span_extraction": f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        gl AS (SELECT doc_id, {_sql_grams(SPAN_L)} AS g FROM d),
        grams AS (
            SELECT doc_id, unnest(g) AS g,
                   unnest(generate_series(0, len(g) - 1)) AS p
            FROM gl
        ),
        dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        hits AS (
            SELECT doc_id, p FROM grams WHERE g IN (SELECT g FROM dup)
        ),
        marked AS (
            SELECT doc_id, p,
                   CASE WHEN max(p + {SPAN_L}) OVER w IS NULL
                             OR p > max(p + {SPAN_L}) OVER w
                        THEN 1 ELSE 0 END AS ni
            FROM hits
            WINDOW w AS (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        islands AS (
            SELECT doc_id, p,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS UNBOUNDED PRECEDING) AS span_no
            FROM marked
        )
        SELECT doc_id,
               CAST(span_no AS INT) AS span_no,
               CAST(min(p) AS INT) AS start_tok,
               CAST(max(p) + {SPAN_L} AS INT) AS end_tok,
               CAST(max(p) + {SPAN_L} - min(p) AS INT) AS span_len
        FROM islands
        GROUP BY 1, 2
        ORDER BY doc_id, span_no
    """,
    "span_corruption_masks": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS p
            FROM documents
        ),
        seeded AS (
            SELECT doc_id, p,
                   CASE WHEN (((doc_id * 100000 + p) % {_ID_MOD}) * {_KNUTH}
                              // {_HI_DIV}) % 100 < {SPAN_SEED_PCT}
                        THEN p + {SPAN_MIN_LEN}
                             + (((doc_id * 100000 + p + 13) % {_ID_MOD})
                                * {_KNUTH} // {_HI_DIV}) % {SPAN_LEN_MOD}
                   END AS seed_end
            FROM toks
        ),
        marked AS (
            SELECT doc_id, p,
                   COALESCE(max(seed_end) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                       > p AS masked
            FROM seeded
        ),
        spans AS (
            SELECT doc_id, p, masked,
                   CAST(masked AND NOT COALESCE(
                       lag(masked) OVER (PARTITION BY doc_id ORDER BY p),
                       FALSE) AS INT) AS span_start
            FROM marked
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked,
               CAST(sum(span_start) AS BIGINT) AS n_spans,
               {_sql_fr('sum(CASE WHEN masked THEN 1 ELSE 0 END) * 1.0 / count(*)', 4)}
                   AS corruption_rate,
               md5(COALESCE(list_aggr(list_sort(list(p) FILTER (masked)),
                   'string_agg', ','), '')) AS mask_digest
        FROM spans
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "curriculum_pack_epochs": f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY n_tokens, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(cum_before AS BIGINT) AS cum_before,  -- HUGEINT otherwise
               CAST(cum_before // {CURRICULUM_BUDGET} AS BIGINT) AS epoch
        FROM c
        ORDER BY doc_id
    """,
    "source_kl_divergence": f"""
        WITH terms AS (
            SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        st AS (SELECT source, term, count(*) AS c_st FROM terms GROUP BY 1, 2),
        s_tot AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        t_tot AS (SELECT term, sum(c_st) AS c_t FROM st GROUP BY 1),
        n_tot AS (SELECT sum(c_st) AS n_corpus FROM st),
        kterms AS (
            SELECT st.source, s_tot.n_s,
                   CAST({_sql_fr(
                       "(c_st * 1.0 / n_s) * ln(CAST(c_st * n_corpus AS DOUBLE) / (n_s * c_t))",
                       8)} AS DECIMAL(30,12)) AS kterm
            FROM st
            JOIN s_tot USING (source)
            JOIN t_tot USING (term), n_tot
        )
        SELECT source,
               CAST(min(n_s) AS BIGINT) AS n_tokens,
               CAST(count(*) AS INT) AS vocab_used,
               {_sql_fr("CAST(sum(kterm) AS DOUBLE)", 6)} AS kl_nats
        FROM kterms
        GROUP BY source
        ORDER BY source
    """,
    "source_overlap_jaccard": f"""
        WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        sh AS (
            SELECT DISTINCT source, s
            FROM (SELECT source, unnest({_SQL_SHINGLES}) AS s FROM d)
        ),
        sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               CAST(n_common AS INT) AS n_common,
               CAST(sa.n + sb.n - n_common AS INT) AS n_union,
               {_sql_fr('n_common * 1.0 / (sa.n + sb.n - n_common)', 6)} AS jaccard
        FROM inter
        JOIN sizes sa ON source_a = sa.source
        JOIN sizes sb ON source_b = sb.source
        ORDER BY source_a, source_b
    """,
    "tokenize_to_ids": f"""
        WITH d AS ({_SQL_TOKS}),
        posd AS (
            SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM d
        ),
        pos AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM posd),
        counts AS (SELECT term, count(*) AS c FROM pos GROUP BY 1),
        vocab AS (
            SELECT term,
                   row_number() OVER (ORDER BY c DESC, term) - 1 AS tid
            FROM counts
        ),
        ids AS (SELECT p.doc_id, p.pos, v.tid FROM pos p JOIN vocab v USING (term))
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               CAST(count(DISTINCT tid) AS INT) AS n_distinct_ids,
               CAST(min(tid) AS INT) AS min_id,
               md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        FROM ids
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "domain_mixture_weights": f"""
        WITH per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        )
        SELECT source, n_docs, n_tokens,
               {_sql_fr('n_tokens * 1.0 / (sum(n_tokens) OVER ())', 6)} AS natural_share,
               {_sql_fr('1.0 / (count(*) OVER ())', 6)} AS target_share,
               {_sql_fr('(1.0 / (count(*) OVER ())) / (n_tokens * 1.0 / (sum(n_tokens) OVER ()))', 4)}
                   AS sample_weight
        FROM per ORDER BY source
    """,
    "quality_weighted_sample": f"""
        WITH d AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
                   FROM documents),
        scored AS (
            SELECT doc_id, lang, source,
                   {_SQL_SCORE} AS score,
                   {_sql_bucket('doc_id')} AS b
            FROM d
        ),
        sel AS (
            SELECT doc_id, lang, source, b,
                   {_sql_fr('score', 4)} AS quality_score,
                   {_sql_fr(f'least(1.0, greatest({QUALITY_P_FLOOR}, score))', 4)} AS keep_p
            FROM scored
        )
        SELECT doc_id, lang, source, quality_score, keep_p,
               {_sql_fr('100.0 / ceil(keep_p * 100)', 6)} AS ht_weight
        FROM sel
        WHERE b < keep_p * 100
        ORDER BY doc_id
    """,
    # A-ES fixed-size weighted reservoir: the oracle replays the exact
    # integer hash → uniform, the 4-dp-rounded weight, and the ln(u)/w key,
    # then takes the same top-K with the same total tie order. The ln
    # inputs are engine-exact doubles; the measured top-K boundary gap
    # (pinned ≥1e-4 in pytest) dwarfs any libm ulp divergence.
    "weighted_reservoir_sample": f"""
        WITH d AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
                   FROM documents),
        keyed AS (
            SELECT doc_id, lang, source,
                   {_sql_fr(f'least(1.0, greatest({QUALITY_P_FLOOR}, {_SQL_SCORE}))', 4)}
                       AS weight,
                   ((((doc_id % {_ID_MOD}) * {_KNUTH}) // {_HI_DIV}) % {_U_BUCKETS}
                    + 0.5) / {float(_U_BUCKETS)} AS u
            FROM d
        ),
        ranked AS (
            SELECT doc_id, lang, source, weight, ln(u) / weight AS k
            FROM keyed
            ORDER BY k DESC, doc_id
            LIMIT {RESERVOIR_K}
        )
        SELECT doc_id, lang, source, weight, {_sql_fr('k', 6)} AS sample_key
        FROM ranked
        ORDER BY doc_id
    """,
    "repetition_ngram_stats": f"""
        WITH two AS ({_sql_rep_per_doc(2, 'top_2gram_frac', 'dup_2gram_frac')}),
        three AS ({_sql_rep_per_doc(3, 'top_3gram_frac', 'dup_3gram_frac')})
        SELECT d.doc_id,
               coalesce(two.top_2gram_frac, 0.0) AS top_2gram_frac,
               coalesce(two.dup_2gram_frac, 0.0) AS dup_2gram_frac,
               coalesce(three.top_3gram_frac, 0.0) AS top_3gram_frac,
               coalesce(three.dup_3gram_frac, 0.0) AS dup_3gram_frac
        FROM documents d
        LEFT JOIN two USING (doc_id)
        LEFT JOIN three USING (doc_id)
        ORDER BY d.doc_id
    """,
    "chunk_dedup_stats": f"""
        {_sql_chunk_ctes()},
        digests AS (
            SELECT doc_id,
                   md5(array_to_string({_SQL_CHUNK_SLICE}, ' ')) AS chunk_digest
            FROM chunks
        )
        SELECT chunk_digest,
               CAST(count(DISTINCT doc_id) AS INT) AS n_docs,
               CAST(count(*) AS INT) AS n_occurrences,
               min(doc_id) AS canonical_doc_id
        FROM digests
        GROUP BY chunk_digest
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, chunk_digest
    """,
    "doc_chunk_windows": f"""
        {_sql_chunk_ctes()}
        SELECT doc_id,
               CAST(chunk_no AS INT) AS chunk_no,
               CAST(len({_SQL_CHUNK_SLICE}) AS INT) AS n_chunk_tokens,
               md5(array_to_string({_SQL_CHUNK_SLICE}, ' ')) AS chunk_digest
        FROM chunks
        ORDER BY doc_id, chunk_no
    """,
    "sequence_pack_bins": f"""
        WITH d AS (
            SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        binned AS (
            SELECT lang, doc_id, n_tokens,
                   CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                         - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
            FROM d
        )
        SELECT lang, bin_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               {_sql_fr(f'sum(n_tokens) * 1.0 / {PACK_BUDGET}', 4)} AS fill_ratio
        FROM binned
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "sequence_pack_bins_sharded": f"""
        WITH d AS (
            SELECT lang,
                   CAST((((doc_id % {_ID_MOD}) * {_KNUTH}) // {_HI_DIV})
                        % {PACK_SHARDS} AS INT) AS shard,
                   doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        binned AS (
            SELECT lang, shard, doc_id, n_tokens,
                   CAST((sum(n_tokens) OVER (PARTITION BY lang, shard
                                             ORDER BY doc_id)
                         - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
            FROM d
        )
        SELECT lang, shard, bin_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               {_sql_fr(f'sum(n_tokens) * 1.0 / {PACK_BUDGET}', 4)} AS fill_ratio
        FROM binned
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "pii_redaction": f"""
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com or 555-'
                             || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                             || '-4242 from 10.0.'
                             || CAST(doc_id % 256 AS VARCHAR) || '.1'
                        ELSE text END AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS INT) AS n_ips,
               md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                           '{_PHONE_RE}', '<PHONE>', 'g'),
                       '{_IP_RE}', '<IP>', 'g')) AS redacted_digest
        FROM planted
        ORDER BY doc_id
    """,
    "contamination_eval_overlap": f"""
        WITH d AS ({_SQL_TOKS}),
        grams AS (
            SELECT doc_id, unnest(list_distinct({_sql_grams(CONTAM_NGRAM)})) AS gram
            FROM d
        ),
        eval_grams AS (
            SELECT doc_id AS eval_doc_id, gram FROM grams
            WHERE doc_id < {EVAL_SET_MAX_DOC}
        ),
        train_grams AS (
            SELECT doc_id, gram FROM grams WHERE doc_id >= {EVAL_SET_MAX_DOC}
        )
        SELECT t.doc_id,
               count(DISTINCT t.gram) AS n_shared_ngrams,
               count(DISTINCT e.eval_doc_id) AS n_eval_docs_hit,
               min(e.eval_doc_id) AS first_eval_doc
        FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
}

# the stored-index form must answer identically to the in-query form;
# replaying the full-tokenize SQL against it proves the eval-fingerprint
# round-trip (build → append → probe) loses nothing
ORACLE["contamination_against_index_prebuilt"] = ORACLE[
    "contamination_eval_overlap"
]
# snapshot read of the retained generation (r17): row-preserving
# compaction ⇒ the same oracle + the claim pinned TRUE
ORACLE["contamination_prebuilt_snapshot"] = (
    "SELECT *, 1 AS snapshot_equals_live FROM ("
    + ORACLE["contamination_eval_overlap"]
    + ") contam_snapshot_base"
)

ORACLE["tokenizer_fertility"] = f"""
    WITH d AS ({_SQL_TOKS}),
    w AS (SELECT lang, unnest(toks) AS term FROM d),
    counts AS (SELECT term, count(*) AS c FROM w GROUP BY term),
    vocab AS (
        SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
            FROM counts
        ) WHERE r <= {FERT_VOCAB}
    ),
    per AS (
        SELECT w.lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1
                        ELSE (length(w.term) + {FERT_PIECE_LEN - 1})
                             // {FERT_PIECE_LEN} END) AS BIGINT)
                   AS n_subwords,
               CAST(sum(CASE WHEN v.term IS NOT NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_oov
        FROM w LEFT JOIN vocab v ON w.term = v.term
        GROUP BY w.lang
    )
    SELECT lang, n_words, n_subwords,
           {_sql_fr('CAST(n_subwords AS DOUBLE) / n_words', 6)} AS fertility,
           {_sql_fr('CAST(n_oov AS DOUBLE) / n_words', 6)} AS oov_rate
    FROM per ORDER BY lang
"""

QUERIES = {
    "dsir_importance_weights": dsir_importance_weights,
    "source_temperature_mix": source_temperature_mix,
    "vocab_growth_curve": vocab_growth_curve,
    "span_corruption_masks": span_corruption_masks,
    "curriculum_pack_epochs": curriculum_pack_epochs,
    "tokenize_to_ids": tokenize_to_ids,
    "bpe_merge_pairs": bpe_merge_pairs,
    "source_overlap_jaccard": source_overlap_jaccard,
    "source_kl_divergence": source_kl_divergence,
    "domain_mixture_weights": domain_mixture_weights,
    "quality_weighted_sample": quality_weighted_sample,
    "weighted_reservoir_sample": weighted_reservoir_sample,
    "repetition_ngram_stats": repetition_ngram_stats,
    "doc_chunk_windows": doc_chunk_windows,
    "chunk_dedup_stats": chunk_dedup_stats,
    "sequence_pack_bins": sequence_pack_bins,
    "sequence_pack_bins_sharded": sequence_pack_bins_sharded,
    "pii_redaction": pii_redaction,
    "contamination_eval_overlap": contamination_eval_overlap,
    "contamination_against_index_prebuilt": contamination_against_index_prebuilt,
    "contamination_prebuilt_snapshot": contamination_prebuilt_snapshot,
    "tokenizer_fertility": tokenizer_fertility,
    "duplicate_span_extraction": duplicate_span_extraction,
}
