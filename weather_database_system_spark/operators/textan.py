"""Text-analysis operators over the ``documents`` table.

BASELINE.json extension surface (absent from the reference, which stores only
numeric observations): language-ID, quality scoring, token counting, and
document fingerprinting — the per-document metrics a training-data pipeline
computes before filtering/dedup at 100 TB.

Everything is built-in column functions (split / regexp / md5 / transform) —
whole-stage-codegen'd, zero Python in the hot path. Each metric is a pure
function of the text, so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_database_system_spark.indexstore import (
    IndexSpec,
    RowsTable,
    append,
    build,
    compact,
    ensure,
    ensure_index,
    ensure_snapshot_state,
    read_index_marker,
    resolve_generation,
    slot_live,
    snapshot_equals_live_claim,
    snapshot_generation,
    source_signature,
)
from weather_database_system_spark.operators.relational import DEC, _fr, _sql_fr
from weather_database_system_spark.operators.dedup import (
    MAX_POSTING_LEN,
    _SQL_SHINGLES,
    _capped_postings,
    _grams,
    _shingles,
    _sql_grams,
    _tokens,
)
from weather_database_system_spark.session import scratch_path, track_persisted
from weather_database_system_spark.sources.star import load_table

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Deterministic tiebreak order: first list wins ties.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "y", "de", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "和"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]
WORD_RE = "[a-z0-9]+"


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _quality_score(toks: Column) -> Column:
    """The length/stopword/diversity quality score — ONE definition shared
    by text_quality, corpus_curation, and trainprep.quality_weighted_sample
    (same tokenizer-desync rationale as trainprep's single `_tokens`:
    duplicated formulas drift). Pure double arithmetic over exact integer
    ratios, so the value is engine-identical without rounding — the
    corpus_curation oracle compares it unrounded."""
    n = F.size(toks)
    stop_ratio = _hits(toks, EN_STOPWORDS) / n
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    return (
        F.least(F.lit(1.0), n / F.lit(200.0)) * 0.5
        + (F.lit(1.0) - stop_ratio) * 0.3
        + F.least(F.lit(1.0), distinct_ratio * 2) * 0.2
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, regex word tokens
    (BPE-ish pre-tokenizer pass), and mean token length."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, v: acc + v
    )
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), F.lit(0))).alias("n_word_tokens"),
        F.length("text").alias("n_chars_observed"),
        _fr(sum_len / n, 4).alias("avg_token_len"),
    ).orderBy("doc_id")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/diversity ratios folded into a score,
    then a 3-state classification ladder — the same threshold-ladder shape as
    the reference's cache freshness classifier (backend/routes/monthly.js:36-42)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = _hits(toks, EN_STOPWORDS) / n
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    score = _quality_score(toks)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        _fr(stop_ratio, 4).alias("stopword_ratio"),
        _fr(distinct_ratio, 4).alias("distinct_ratio"),
        _fr(score, 4).alias("quality_score"),
        F.when(score >= 0.6, "high")
        .when(score >= 0.4, "medium")
        .otherwise("low")
        .alias("quality_class"),
    ).orderBy("doc_id")


def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword hits per language, argmax with a
    deterministic tiebreak (list order). Output keeps the per-language scores
    so the labeled ``lang`` column can be compared downstream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    scores = {lang: _hits(toks, words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(scores[lang] >= best, lang).otherwise(pred)
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_STOPWORDS],
        pred.alias("lang_pred"),
    ).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content digest, min-shingle fingerprint
    (winnowing-style: the lexicographic min of shingle hashes — stable under
    small edits), and a prefix fingerprint over the first 8 tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    sh = _shingles(toks)
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_full"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("fp_min_shingle"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 8))).alias("fp_prefix8"),
    ).orderBy("doc_id")


WINNOW_K = 4  # k-gram length (tokens) for winnowing fingerprints
WINNOW_W = 4  # winnowing window (hashes); guarantees any match of
              # length >= WINNOW_K + WINNOW_W - 1 shares a fingerprint


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS local fingerprinting scheme): hash every WINNOW_K-token gram,
    slide a WINNOW_W-hash window over the hash sequence and select each
    window's minimum — the guarantee is that any shared substring of at
    least K+W−1 tokens contributes at least one shared fingerprint, so the
    distinct selected set supports PARTIAL-overlap detection (plagiarism,
    quoting, template reuse) that whole-document digests miss. Documents
    shorter than one window select the minimum of what they have; documents
    with fewer than K tokens have no fingerprints.

    Emits the per-doc summary (k-gram count, distinct fingerprint count,
    the minimum fingerprint, and the digest of the sorted fingerprint set —
    the join key for corpus-level overlap mining). Map-only: per-row array
    ops, no shuffle until the presentation sort; at 100 TB the explode of
    (doc, fingerprint) for pairwise mining is the ngram_jaccard inverted-
    index shape, fed by exactly this column."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    kgram_hashes = F.transform(
        F.sequence(F.lit(0), F.size(toks) - WINNOW_K),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, WINNOW_K), " ")),
    )
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    h = F.when(F.size(toks) >= WINNOW_K, kgram_hashes).otherwise(empty)
    base = docs.select("doc_id", h.alias("h"))
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.lit(0), F.size("h") - WINNOW_W)),
        lambda i: F.array_min(F.slice(F.col("h"), i + 1, WINNOW_W)),
    )
    fps = F.when(F.size("h") >= 1, F.array_sort(F.array_distinct(mins))).otherwise(
        empty
    )
    return (
        base.select("doc_id", F.size("h").alias("n_kgrams"), fps.alias("fps"))
        .select(
            "doc_id",
            "n_kgrams",
            F.size("fps").alias("n_fingerprints"),
            # try_element_at: a <WINNOW_K-token doc has an EMPTY fps array,
            # and under ANSI mode plain element_at would throw instead of
            # yielding the NULL the DuckDB oracle's fps[1] produces
            F.try_element_at("fps", F.lit(1)).alias("fp_min"),
            F.md5(F.array_join("fps", ",")).alias("fp_set_md5"),
        )
        .orderBy("doc_id")
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by
    tf·ln((N+1)/(df+1)).

    Shape at 100 TB: explode → (doc, term) count with map-side combine →
    term-keyed document-frequency agg (bounded by vocabulary, not corpus) →
    a term-keyed join AQE broadcasts when the vocabulary is small — then a
    per-doc window top-k, ONE shuffle on doc_id. No Python anywhere.

    Determinism: idf is floor-rounded to 6 decimals FIRST, so the ranking
    key tf·idf6 is a product of bit-identical doubles in both engines; ties
    break by term. N is the corpus size, riding the lazy plan as a 1-row
    broadcast (no separate eager count action)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    totals = docs.agg(F.count("*").cast("double").alias("n_docs"))
    idf6 = _fr(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)
    scored = tf.join(df_, "term").crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "term",
        "tf",
        F.col("df").cast("int").alias("df"),
        (F.col("tf") * idf6).alias("score"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", _fr(F.col("score"), 6).alias("tfidf"))
        .orderBy("doc_id", "rank")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "stream")
BM25_TOP_K = 20


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Lucene form) — the full-text-
    search scoring surface next to tfidf_top_terms' keyword extraction:
    score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df + ½)/(df + ½)).
    ``terms`` is the caller's query (default: the registry's pinned
    ``BM25_QUERY``, keeping the DuckDB oracle hermetic); it is the
    in-query twin of ``bm25_query_prebuilt(terms=...)`` and the
    equality of the two on arbitrary terms is pytest-pinned.

    Shape at 100 TB: the term filter lands right after the explode, so the
    posting stream is |query|-sparse from the first stage; tf is a
    map-side-combining (doc, term) count; df is a |query|-row aggregate
    joined back by broadcast; the corpus stats (N, avgdl) are one bounded
    1-row aggregate (the same parquet-footer-class action tfidf's
    docs.count() uses); the final top-k is TakeOrdered, never a global
    sort, and rank is a window over the already-bounded k rows.

    Determinism: idf and each term score floor-round to 6 decimals, and the
    per-doc sum accumulates in DECIMAL — float addition order never touches
    the ranking key (ties break by doc_id)."""
    terms_t = tuple(terms) if terms is not None else BM25_QUERY
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.size("toks").alias("dl"), "toks"
    )
    # corpus stats (N, avgdl) ride the lazy plan as a 1-row broadcast —
    # previously an eager collect that cost a SEPARATE full tokenize pass
    # over the corpus before the main job (same class as the
    # tfidf_cosine_pairs/unigram n_docs fix; the values are identical
    # doubles either way)
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    posting = base.select("doc_id", "dl", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*terms_t)
    )
    tf = posting.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    return _bm25_rank(tf, stats)


def _bm25_rank(tf: DataFrame, stats: DataFrame) -> DataFrame:
    """Shared BM25 scoring tail over a (doc_id, term, tf, dl) posting
    frame (already query-sparse) plus a 1-row (n_docs, avgdl) stats
    frame — factored so the in-query and stored-index forms score with
    the IDENTICAL expression tree and stay bit-identical under the same
    oracle. df is a |query|-row aggregate of the posting frame; the
    final top-k is TakeOrdered, never a global sort."""
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf6 = _fr(
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    tscore6 = _fr(idf6 * (F.col("tf") * (BM25_K1 + 1.0)) / denom, 6)
    per_doc = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", tscore6.cast(DEC).alias("ts"))
        .groupBy("doc_id")
        .agg(_fr(F.sum("ts").cast("double"), 6).alias("bm25"))
    )
    from pyspark.sql import Window as W

    top = per_doc.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOP_K)
    w = W.orderBy(F.col("bm25").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "bm25"
    ).orderBy("rank")


BM25_INDEX_ALGO = 1  # bump on any posting-layout/semantics change
BM25_APPEND_MOD = 4  # doc_id % MOD == MOD-1 arrives as the ingest batch


def _bm25_index_rows(docs: DataFrame, _state) -> dict[str, DataFrame]:
    """Both BM25 index tables from ONE tokenize pass (single-tokenizer
    contract, persisted because both tables read it): ``doclens`` (doc_id,
    dl — one row per doc INCLUDING zero-match docs, because N and avgdl
    are corpus statistics, not match statistics) and ``postings`` (term,
    doc_id, tf, dl — Lucene postings with the doc-length norm
    denormalized onto the row)."""
    base = track_persisted(
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.size("toks").alias("dl"), "toks")
        .persist()
    )
    return {
        "doclens": base.select("doc_id", "dl"),
        "postings": base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl")),
    }


# The Lucene-style BM25 index: full-vocabulary postings (the index cannot
# know future queries) term-sorted so a query's ``term IN (...)`` prunes to
# the few files holding those lists, plus the doc-length table. Every
# GLOBAL score input (N, avgdl, df) is aggregated at query time from
# index bytes, never stored, so an append ≡ a rebuild EXACTLY
# (pytest-pinned). The registry slot: a build of doc_id % 4 != 3, then
# one appended batch of the rest.
BM25 = IndexSpec(
    kind="bm25_index",
    meta={"algo": BM25_INDEX_ALGO, "append_mod": BM25_APPEND_MOD},
    source="documents",
    tables=(
        RowsTable("doclens", ("doc_id",), ("doc_id",)),
        RowsTable("postings", ("term",), ("term", "doc_id")),
    ),
    encode=_bm25_index_rows,
    rows=lambda spark, sf_dir: load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ),
    batch=f"pmod(doc_id, {BM25_APPEND_MOD}) = {BM25_APPEND_MOD - 1}",
)


def bm25_query_prebuilt(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    terms: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """QUERY-ONLY half of stored-BM25 search: posting lists for the
    query terms arrive via a parquet ``In(term, ...)`` PushedFilter
    against the term-sorted postings files; N and avgdl are a 1-row
    aggregate of the doclens table; df a |query|-row aggregate of the
    pruned postings. NOTHING reads the corpus — zero documents scans,
    no tokenize/explode anywhere in the plan (plan-pinned), the
    strongest index-priced shape of the five stored families: query
    cost is Σ|posting list(query term)| + |index docs| doclens rows.
    Duplicate-append safety: postings dedup on (doc_id, term) and
    doclens on doc_id BEFORE any statistic — a duplicated posting row
    would otherwise inflate df and a duplicated doclen row N/avgdl,
    shifting every score (pytest-pinned retry storm).

    ``terms`` is the CALLER's query (r16, VERDICT r15 task #1 — the
    first thing a real user does with a search index is ask their own
    question); the registry wrapper binds the pinned ``BM25_QUERY`` so
    its DuckDB oracle stays hermetic. Any term set rides the same
    pushed ``In`` filter — query cost scales with the chosen terms'
    posting lists, never the index."""
    terms = tuple(terms) if terms is not None else BM25_QUERY
    path = slot_live(path if path is not None else scratch_path(BM25.kind, sf_dir))
    tf = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term").isin(*terms))
        .dropDuplicates(["doc_id", "term"])
        .select("doc_id", "term", "tf", "dl")
    )
    stats = (
        spark.read.parquet(f"{path}/doclens")
        .dropDuplicates(["doc_id"])
        .agg(F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    return _bm25_rank(tf, stats)


def bm25_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index deployment form of BM25 ranked retrieval (r15,
    the FIFTH stored-index family after trigram postings, IVF, dedup,
    and PQ — and the proof the lifecycle machinery is a reusable
    abstraction, not four hand-builds): the inverted index is built once
    through the real bulk-build + appended-ingest-batch lifecycle
    (the ``BM25`` spec) and the query reads ONLY index bytes. Output is
    bit-identical to ``bm25_search`` — same tokenizer, same tf/df/stats
    values, same shared scoring tail (_bm25_rank) — so the same DuckDB
    oracle (full-corpus tokenize + score replay) proves the stored
    round-trip, the append, and the query-time statistics derivation
    lose nothing, end to end. Reference parity: extension surface (the
    reference has no ranked retrieval); cf. Robertson & Zaragoza 2009 /
    Apache Lucene for the public algorithm and index shape."""
    path = ensure(BM25, spark, sf_dir)
    return bm25_query_prebuilt(spark, sf_dir, path)


def bm25_prebuilt_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT read of the stored BM25 index (r16, VERDICT r15 task #7
    — the grace-generation time travel ``indexstore.snapshot_generation``
    supports, surfaced as a registry query): generations are immutable
    once superseded, so querying the retained NON-LIVE generation
    answers the index state as of the previous promote — Iceberg-style
    time travel bounded by the one-generation retention window. The
    two-generation state is created once through the REAL maintenance
    path: ensure-build, then a row-preserving compaction whose promote
    retains the pre-compaction generation as the snapshot (gated on the
    snapshot's absence, so repeat calls and sweeps reuse the state).
    Because compaction preserves rows, the snapshot's answer equals the
    live answer — pinned by the engine-decided claim
    ``snapshot_equals_live`` (anti-joined both ways, the salted-join
    claim idiom), so the same in-query DuckDB oracle with the claim
    pinned TRUE proves end-to-end that the retained generation is a
    faithful, readable snapshot. A post-snapshot APPEND diverges live
    from snapshot without touching the snapshot's bytes
    (pytest-pinned)."""
    ensure(BM25, spark, sf_dir)
    slot = scratch_path(BM25.kind, sf_dir)
    snap = ensure_snapshot_state(slot, lambda s: compact(BM25, spark, s))
    snap_df = bm25_query_prebuilt(spark, sf_dir, snap)
    live_df = bm25_query_prebuilt(spark, sf_dir, slot_live(slot))
    on = ["rank", "doc_id", "bm25"]
    claims = snapshot_equals_live_claim(snap_df, live_df, on)
    return (
        snap_df.crossJoin(F.broadcast(claims))
        .select("rank", "doc_id", "bm25", "snapshot_equals_live")
        .orderBy("rank")
    )


def _ensure_bm25_diverged_state(
    spark: SparkSession, sf_dir: str, _retry: bool = True
) -> tuple[str, str]:
    """(snapshot generation, live generation) of the DEDICATED
    diverged-snapshot slot (r18, VERDICT r17 task #1): unlike the
    snapshot==live entries, this slot's live generation is appended
    AFTER the snapshot-minting compaction, so snapshot and live answer
    DIFFERENT corpora. Dedicated slot so the main ``bm25_index`` slot's
    entries keep their full-corpus answers.

    Manufactured once through the real lifecycle, every step gated so
    repeat calls at any SF reuse the state deterministically:

    1. ensure-build of the BASE subset (doc_id % MOD != MOD-1) — gated
       by the marker meta (a chained post-append marker never equals the
       build meta, so only a source/algo change rebuilds);
    2. ONE row-preserving compaction retains the pre-compaction
       generation as the snapshot (``ensure_snapshot_state``, meta-gated);
    3. ONE ``append`` ingest of the held-out batch diverges
       LIVE — gated on the live marker's append count (0 → append;
       a crash mid-append re-appends, which the query path's
       doc_id/term dedup makes harmless — the documented at-least-once
       property).

    A final invariant check (snap: base meta, 0 appends; live: base
    meta, 1 append) catches externally-mutated slots and rebuilds from
    scratch once rather than serving an undiverged state."""
    import shutil

    slot = scratch_path("bm25_diverged", sf_dir)
    meta = {
        "kind": "bm25_diverged",
        "algo": BM25_INDEX_ALGO,
        "append_mod": BM25_APPEND_MOD,
        "source": source_signature(sf_dir, "documents"),
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_batch = F.pmod("doc_id", F.lit(BM25_APPEND_MOD)) == BM25_APPEND_MOD - 1

    live = resolve_generation(slot)
    base, n_app = read_index_marker(live) if live is not None else (None, 0)
    if base != meta or n_app > 1:
        ensure_index(
            slot, meta,
            lambda gen: build(BM25, docs.filter(~is_batch), gen),
        )
    ensure_snapshot_state(slot, lambda s: compact(BM25, spark, s))
    live = slot_live(slot)
    if read_index_marker(live)[1] == 0:
        append(BM25, docs.filter(is_batch), slot)

    snap, live = snapshot_generation(slot), slot_live(slot)
    sb, sn = read_index_marker(snap) if snap is not None else (None, -1)
    lb, ln = read_index_marker(live)
    if not (sb == meta and sn == 0 and lb == meta and ln == 1):
        if not _retry:
            raise RuntimeError(
                f"bm25 diverged-snapshot slot {slot!r} did not converge: "
                f"snap=({sb is not None}, {sn}) live=({lb is not None}, {ln})"
            )
        shutil.rmtree(slot, ignore_errors=True)
        return _ensure_bm25_diverged_state(spark, sf_dir, _retry=False)
    return snap, live


def bm25_prebuilt_diverged_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERGED snapshot read of a stored BM25 index (r18, VERDICT r17
    task #1 — the first time ACTUAL time travel, snapshot ≠ live, is
    under the oracle gate; every prior snapshot entry pinned
    snapshot==live on a freshly-compacted slot): the slot is compacted
    (minting the snapshot) and THEN an ingest batch is appended, so the
    retained generation answers the index as of the promote while live
    answers the full corpus. The entry returns the SNAPSHOT's ranked
    list plus two engine-decided divergence counts — ``n_only_live`` /
    ``n_only_snap``, the both-ways anti-join of the two ranked lists
    over (rank, doc_id, bm25) — which the DuckDB oracle REPLAYS exactly
    from the known delta (BM25 over doc_id % MOD != MOD-1 vs BM25 over
    the full corpus), not pins: the counts are nonzero because the
    append shifts N/avgdl/df and hence every score. bm25 is safe in the
    anti-join key: scores accumulate in DECIMAL and floor-round to 6
    decimals, bit-identical across engines (the same property the
    snapshot==live entries rely on).

    Shape at 100 TB: state manufacture is build-once (marker-gated);
    the two ranked lists are index-priced posting reads (pushed term
    filters, no corpus scan); the anti-joins touch 2×BM25_TOP_K rows
    and the claim broadcasts 1 row. Reference parity: extension surface
    (the reference has no index versioning); cf. Iceberg snapshot reads
    for the public shape."""
    snap, live = _ensure_bm25_diverged_state(spark, sf_dir)
    snap_df = bm25_query_prebuilt(spark, sf_dir, snap)
    live_df = bm25_query_prebuilt(spark, sf_dir, live)
    on = ["rank", "doc_id", "bm25"]
    a_ls = live_df.join(snap_df, on, "left_anti").agg(
        F.count("*").cast("int").alias("n_only_live")
    )
    a_sl = snap_df.join(live_df, on, "left_anti").agg(
        F.count("*").cast("int").alias("n_only_snap")
    )
    claims = a_ls.crossJoin(F.broadcast(a_sl))
    return (
        snap_df.crossJoin(F.broadcast(claims))
        .select("rank", "doc_id", "bm25", "n_only_live", "n_only_snap")
        .orderBy("rank")
    )


SURPRISAL_KEEP_MAX = 8.0  # mean-surprisal bar for the keep flag (nats)


def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filtering with a corpus-trained unigram LM —
    the self-contained analog of CCNet's KenLM perplexity gate
    (arXiv:1911.00359 §4.3): score each document by the mean surprisal
    −ln p(token) of its tokens under the corpus's own unigram distribution,
    and flag low-surprisal (natural, in-distribution) documents as keepers.
    Degenerate/rare-token documents score high and get filtered; the LM is
    the corpus itself, so no external model file is needed.

    Shape at 100 TB: explode → (doc, term) tf with map-side combine → a
    vocabulary-keyed term-count aggregate (bounded by |vocab|, not corpus)
    → one term-keyed join back (AQE broadcasts small vocabularies, skew-
    splits hot tokens) → one doc-keyed agg. Corpus total-token count is a
    1-row aggregate (the bm25 corpus-stats class of driver value).

    Determinism: per-term surprisal floor-rounds to 6 decimals FIRST (the
    tfidf_top_terms idf6 recipe), the per-doc sum accumulates tf·surprisal6
    in DECIMAL (order-independent), and the keep flag compares the ROUNDED
    mean to the bar — so both engines decide every flag identically."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    tc = terms.groupBy("term").agg(F.count("*").alias("c"))
    # corpus total rides along as a 1-row broadcast DERIVED FROM the vocab
    # counts (Σc == token total) — no separate terms.count() action, which
    # was a full extra scan of the exploded token stream
    total = tc.agg(F.sum("c").cast("double").alias("total"))
    surp6 = _fr(-F.log(F.col("c").cast("double") / F.col("total")), 6)
    scored = (
        tf.join(tc, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tf",
            (F.col("tf") * surp6).cast(DEC).alias("s"),
        )
    )
    mean4 = _fr(F.sum("s").cast("double") / F.sum("tf"), 4)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            mean4.alias("mean_surprisal"),
        )
        .withColumn(
            "keep_lowppl",
            (F.col("mean_surprisal") <= SURPRISAL_KEEP_MAX).cast("int"),
        )
        .orderBy("doc_id")
    )


def bigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM quality gate — the sharper sibling of
    unigram_logprob_quality: score each document by the mean conditional
    surprisal −ln P(w_i | w_{i−1}) under the corpus's own add-one-smoothed
    bigram model, P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V). Word-salad documents
    whose unigrams look normal but whose transitions are improbable score
    high — the signal a unigram gate cannot see.

    Shape at 100 TB: one bigram explode → (w1,w2)-keyed counts (bounded by
    the bigram vocabulary) → a bigram-keyed join back + one doc agg; the
    unigram context counts ride the same join keyed by w1. V and nothing
    else crosses the driver (1-row scalar).

    Determinism: per-bigram surprisal floor-rounds to 6 decimals, per-doc
    sums accumulate in DECIMAL, the mean rounds to 4 — the
    unigram_logprob_quality recipe exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    bg = docs.select("doc_id", F.explode(_grams(toks, 2)).alias("bg"))
    bgc = bg.groupBy("bg").agg(F.count("*").alias("c2"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    # context count c(w1·) = occurrences of w1 as a bigram PREFIX; V from
    # the same prefix vocabulary — both pure functions of the bigram table
    ctx = bgc.select(w1.alias("w1"), "c2").groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    # |V| as a lazy 1-row broadcast instead of an eager ctx.count() action
    # (which re-ran the whole bigram aggregation before the main query)
    vocab = ctx.agg(F.count(F.lit(1)).cast("double").alias("v"))
    tf2 = bg.groupBy("doc_id", "bg").agg(F.count("*").alias("n"))
    stats = (
        bgc.select("bg", "c2")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    surp6 = _fr(
        -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 6
    )
    scored = tf2.join(stats, "bg").select(
        "doc_id", "n", (F.col("n") * surp6).cast(DEC).alias("s")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n").cast("int").alias("n_bigrams"),
            _fr(F.sum("s").cast("double") / F.sum("n"), 4).alias(
                "mean_bigram_surprisal"
            ),
        )
        .orderBy("doc_id")
    )


TFIDF_COS_MIN = 0.9    # near-dup cosine bar over full-vocabulary tf-idf vectors
                       # (candidate-cosine p50 at smoke sf is ~0.69 — the small
                       # synthetic vocabulary compresses cosines upward, so the
                       # near-dup bar sits in the top percentile, not at 0.5)
TFIDF_MIN_SHARED_SHINGLES = 2  # blocking: candidates share >= 2 capped shingles


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine near-dup pairs — the lexical twin of
    embedding_near_dup_lsh: documents are tf·idf vectors over the FULL
    vocabulary, but candidate pairs come only from the shared-3-gram
    inverted index with ngram_jaccard_pairs' posting-length cap, requiring
    ≥ TFIDF_MIN_SHARED_SHINGLES co-occurrences — the standard blocking
    shape: a shingle names a candidate pair only if its posting list is
    within the cap, so per-shingle pair work is bounded at cap²/2 and there
    is no all-pairs stage; the exact full-vocabulary cosine then re-ranks
    only the candidates. (Blocking on raw terms fails on small-vocabulary
    corpora — the synthetic corpus has ~31 distinct tokens, so every term
    posting is corpus-sized; 3-gram shingle space grows combinatorially and
    is the same unit the minhash family blocks on.) Precision is exact;
    recall is bounded by blocking — a pair sharing fewer capped shingles is
    unseen, the same contract as LSH bucketing.

    Determinism: idf floor-rounds to 6 decimals first; every pairwise
    product and squared norm accumulates in DECIMAL (order-independent);
    the threshold compares the unrounded engine-identical cosine."""
    docs = load_table(spark, sf_dir, "documents")
    # One task per split otherwise (small corpus = one parquet split): the
    # token and shingle explodes are the CPU-bound stages, spread them — the
    # same no-op-at-100TB repartition ngram_jaccard_pairs uses. Persisted:
    # the term explode and the shingle explode both read it — one scan +
    # one repartition exchange instead of two of each (r6 verdict #4).
    base = track_persisted(
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .persist()
    )
    terms = base.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus size rides along as a 1-row broadcast inside the lazy plan —
    # no eager docs.count() driver action, which cost a separate full
    # corpus scan before the main job (the unigram_logprob_quality fix
    # pattern; a count-star subtree touches only parquet footers)
    totals = docs.agg(F.count("*").cast("double").alias("n_docs"))
    idf6 = _fr(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)
    w = track_persisted(
        tf.join(df_, "term")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "term", (F.col("tf") * idf6).alias("w"))
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(DEC)).cast("double")).alias("nrm")
    )
    # persist the exploded shingle stream: _capped_postings reads it twice
    # (count pre-pass + the capped join probe), and the interpreted
    # 3-gram transform is the query's single heaviest stage (profiled
    # 17.5 s + 6.2 s of executor time for the two evaluations at sf0.1) —
    # the identical persist ngram_jaccard_pairs already carries, same
    # 100 TB shape (MEMORY_AND_DISK spills rather than OOMs, and the
    # (doc, shingle) stream is what both passes must touch anyway).
    sh = track_persisted(
        base.select(
            "doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s")
        ).persist()
    )
    # cap precedes the collect — see dedup._capped_postings
    postings = _capped_postings(sh, MAX_POSTING_LEN)
    cand = (
        postings
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nsh"))
        .filter(F.col("nsh") >= TFIDF_MIN_SHARED_SHINGLES)
        .select("doc_a", "doc_b")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.term") == F.col("b.term")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("a.w") * F.col("b.w")).cast(DEC)).cast("double").alias("dot"),
            F.count("*").cast("int").alias("n_shared_terms"),
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(cos >= TFIDF_COS_MIN)
        .select("doc_a", "doc_b", "n_shared_terms", _fr(cos, 6).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated-corpus funnel, composed from this module's gates in ONE
    pass: raw → quality (score ≥ 0.4) → language agreement (drop only on
    POSITIVE disagreement: the stopword lang-ID names a different language;
    zero stopword evidence abstains rather than rejects) → exact dedup
    (doc is its content-digest group's canonical). Emits per-language
    survivor counts at each stage — the acceptance report every
    training-data curation job ships.

    One scan + one md5-partitioned window (the dedup gate) + one bounded
    agg; all three gates are column predicates over the same projection, so
    composing them costs nothing extra at 100 TB — that's the point of
    engine-native curation vs chained jobs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    score = _quality_score(toks)
    scores = {lang: _hits(toks, words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(scores[lang] >= best, lang).otherwise(pred)

    from pyspark.sql import Window as W

    canonical_id = F.min("doc_id").over(W.partitionBy(F.md5(F.col("text"))))
    staged = docs.select(
        "lang",
        (score >= 0.4).alias("pass_quality"),
        ((best == 0) | (pred == F.col("lang"))).alias("pass_lang"),
        (F.col("doc_id") == canonical_id).alias("pass_dedup"),
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("int")  # noqa: E731
    return (
        staged.groupBy("lang")
        .agg(
            F.count("*").alias("n_raw"),
            one_if(F.col("pass_quality")).alias("n_quality"),
            one_if(F.col("pass_quality") & F.col("pass_lang")).alias("n_quality_lang"),
            one_if(
                F.col("pass_quality") & F.col("pass_lang") & F.col("pass_dedup")
            ).alias("n_final"),
        )
        .orderBy("lang")
    )


def _sql_hits(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> t IN ({inlist})))"


PMI_MIN_COUNT = 5  # collocation support floor (Church & Hanks use 5 too)
PMI_TOP_K = 50


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990): PMI(w₁,w₂) = ln[ P(w₁w₂) / (P(w₁)P(w₂)) ] with bigram
    probabilities from adjacent-pair counts and unigram probabilities from
    token counts — the classic association score that surfaces multiword
    units ("new york") over frequent-but-independent pairs. Support floor
    c₁₂ ≥ PMI_MIN_COUNT kills the low-count PMI explosion; top-K by
    (rounded PMI, bigram) is fully deterministic.

    Shape at 100 TB: two explode→count aggregations (both bounded by
    vocabulary, map-side combined), two vocabulary-keyed joins, TakeOrdered
    top-K. The corpus totals are 1-row scalars (the bm25 corpus-stats
    pattern). All-integer count ratios evaluate in identical IEEE doubles
    cross-engine, so the ln and the ranking replay exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    uni = docs.select(F.explode(toks).alias("tok"))
    uc = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    bg = docs.select(F.explode(_grams(toks, 2)).alias("bigram"))
    bgall = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    # corpus totals as a lazy 1-row broadcast (Σcu = token total, Σc12 =
    # bigram total — derived from the count tables, no extra corpus scans
    # and no eager count() actions)
    totals = uc.agg(F.sum("cu").cast("double").alias("nu")).crossJoin(
        bgall.agg(F.sum("c12").cast("double").alias("nb"))
    )
    bgc = (
        bgall.filter(F.col("c12") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bigram"), " ").getItem(1))
    )
    joined = (
        bgc.join(
            uc.select(F.col("tok").alias("w1"), F.col("cu").alias("c1")), "w1"
        )
        .join(uc.select(F.col("tok").alias("w2"), F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("c12") / F.col("nb"))
        / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
    )
    return (
        joined.select("bigram", "c12", "c1", "c2", _fr(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(PMI_TOP_K)
    )


HH_D = 3          # count-min depth (independent hash rows)
HH_W = 256        # count-min width (buckets per row)
HH_TOP = 50       # heavy hitters reported
# Pinned overshoot bound: (est − exact) · HH_W ≤ HH_BOUND_MULT · N. The
# classic CM guarantee is ε = e/W with prob 1 − e^−d per key; the pin uses
# an integer multiplier with measured headroom (max observed overshoot
# 1.60/1.67/1.68 · N/W at sf0.001/0.01/0.1 — stable across 100× growth,
# as expected: per-row collision mass concentrates at N/W and the min
# over d rows caps the tail) so the claim is decidable in exact integer
# space with ~1.8× headroom.
HH_BOUND_MULT = 3


# Shared CMS plumbing for the batch sketch and its streaming twin (r12
# ADVICE #2): the hash layout lives in exactly one place, so the two
# operators — and the foreachBatch pytest that replays the same layout —
# can never drift apart.

def _cms_buckets(grams: DataFrame) -> DataFrame:
    """Add the d count-min bucket columns b0..b{HH_D−1} (xxhash64 of a
    per-row salted gram, mod HH_W) to a gram frame; every other column
    passes through untouched."""
    return grams.select(
        "*",
        *[
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"{j}|"), F.col("g"))), F.lit(HH_W)
            ).alias(f"b{j}")
            for j in range(HH_D)
        ],
    )


def _cms_jb(bucketed: DataFrame, *extra: str) -> DataFrame:
    """Explode a bucketed gram frame to (…extra, j, b) rows — one per
    (gram occurrence, hash row): the counter build's input."""
    return bucketed.select(
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.col(f"b{j}").alias("b"))
                    for j in range(HH_D)
                ]
            )
        ).alias("jb"),
    ).select(*extra, "jb.j", "jb.b")


def _cms_estimate(candidates: DataFrame, counters: DataFrame):
    """Join the d W-sized counter slices (broadcast) onto candidate rows
    keyed by their b0..b{HH_D−1} columns. Returns (scored_df, est_col)
    with est = min_j counter_j[b_j] — the count-min read."""
    scored = candidates
    for j in range(HH_D):
        cj = counters.filter(F.col("j") == j).select(
            F.col("b").alias(f"cb{j}"), F.col("c").alias(f"c{j}")
        )
        scored = scored.join(F.broadcast(cj), F.col(f"b{j}") == F.col(f"cb{j}"))
    return scored, F.least(*[F.col(f"c{j}") for j in range(HH_D)])


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (Cormode & Muthukrishnan 2005)
    over document bigrams — the frequency-sketch member of the mergeable-
    summary family (HLL = distinct, bloom = membership, KLL/approx-quantile
    = rank, CM = frequency). At 100 TB the exact n-gram count table is a
    key-cardinality-sized shuffle; the CM plan's state is d·W counters
    PER TASK (map-side combined), additive across partitions / days /
    sources — the rollup-compatible way to track frequent n-grams,
    domains, or URLs in a streaming curation pipeline.

    Plan (vocab-factored since r13 — the bpe_merge_pairs rewrite family):
    gram occurrences aggregate to the (g, weight) VOCABULARY table first
    (map-side combined; Heaps-law-bounded rows), so the d-way hash
    compute, the ×d struct explode, and the persisted cache all price at
    DISTINCT grams, not corpus occurrences. Measured in the realistic
    Zipf-vocabulary rehearsal regime at the 32× point: 58.5 → 47.9 s
    (1.22×), 8×→32× exponent 1.0 → 0.89; the fixed-28-word regime is
    unchanged at 16× (the tiny vocabulary made the old explode trivial)
    and pays ~0.7 s extra job latency at 1×. Output is bit-identical,
    since the counter build sums the carried
    weights: Σ_g∈bucket w(g) ≡ per-occurrence counting. The counter
    groupBy key space stays d·W = 768, so the final shuffle moves
    bounded state regardless of corpus size; the d W-sized counter
    slices broadcast back onto the candidate keys; est = min_j
    counter[j][b_j]. N rides as ONE 1-row broadcast (Σ of row 0's
    counters — no extra fact pass). The exact per-key counts (the
    weights themselves) are the TEST-SF yardstick
    (the approx_distinct_users_scale pattern): the sketch never needs
    them, the claims they ground do.

    Determinism: the spine is the exact top-HH_TOP bigrams (integer
    counts, total tie order — replayable in DuckDB); the xxhash64-based
    estimates are engine-specific, so they surface ONLY through two
    pinned engine-decided claims the oracle asserts held: cm_overest_ok
    (CM never undercounts — the no-false-negative guarantee) and
    cm_bound_ok ((est−n)·W ≤ MULT·N, decided in exact integer space)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(_grams(_tokens(F.col("text")), 2)).alias("g"))
    # vocab-factored: occurrences collapse to (g, weight) BEFORE the d-way
    # hashing and the ×d explode, so those stages run per distinct gram
    weights = grams.groupBy("g").agg(F.count("*").alias("w"))
    # persisted: BOTH the counter build and the exact yardstick read the
    # bucketed vocabulary — without it the tokenize→explode→weigh→3×xxhash
    # pipeline runs twice (a full extra corpus pass, caught in the r11
    # self-review); the cache is vocab-sized now, not occurrence-sized
    bucketed = track_persisted(_cms_buckets(weights).persist())
    jb = _cms_jb(bucketed, "w")
    # persisted: read d times for the broadcast slices + once for N
    counters = track_persisted(
        jb.groupBy("j", "b").agg(F.sum("w").alias("c")).persist()
    )
    total = counters.filter(F.col("j") == 0).agg(F.sum("c").alias("n_total"))
    # the vocabulary weights ARE the exact per-gram counts — the
    # yardstick needs no second gram-keyed aggregate
    scored, est = _cms_estimate(
        bucketed.withColumnRenamed("w", "n_exact"), counters
    )
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            F.col("g").alias("bigram"),
            "n_exact",
            (est >= F.col("n_exact")).alias("cm_overest_ok"),
            (
                (est - F.col("n_exact")) * HH_W
                <= F.lit(HH_BOUND_MULT) * F.col("n_total")
            ).alias("cm_bound_ok"),
        )
        .orderBy(F.col("n_exact").desc(), "bigram")
        .limit(HH_TOP)
    )


HH_STREAM_BATCHES = 4  # simulated micro-batches in the streaming twin


def heavy_hitters_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING count-min ingest
    (tests/test_streaming.py::test_streaming_cms_counters_merge_to_batch_sketch
    drives the same flow through readStream → foreachBatch): documents
    split into deterministic micro-batches (doc_id mod K — the stream's
    maxFilesPerTrigger analog), per-batch counter PARTIALS built
    independently, blind-appended (union) and merged by sum at read time
    — the mergeable-summary property that lets a 100 TB ingest append
    d·W-row partials per batch with no read-modify-write of the
    accumulated index, and lets day/source partials roll up by addition.

    The heavy-hitter estimates then come from the MERGED table exactly as
    heavy_hitters_cms derives them from its single-pass counters, so the
    pinned claims certify the merged sketch end-to-end:
    merge_additive_ok (zero (j,b) cells differ between merged partials
    and the single-pass counters — bit-for-bit, integer space; decided by
    an anti-join on the 768-key counter tables, never a fact-sized pass),
    cm_overest_ok and cm_bound_ok (as in the batch operator). The exact
    top-HH_TOP spine is the TEST-SF yardstick (the
    approx_distinct_users_scale pattern) — production reads estimates off
    the merged counter table alone.

    Scale shape: partial state is HH_STREAM_BATCHES·d·W ≤ 3072 keyed rows
    regardless of corpus size; the merge shuffle moves ≤ d·W = 768.
    Vocab-factored like the batch twin since r13 (grams collapse to
    (batch, g, weight) before hashing/exploding) — Zipf-regime 32× point
    56.4 → 50.1 s, 8×→32× exponent 0.94 → 0.80, output bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.pmod(F.col("doc_id"), F.lit(HH_STREAM_BATCHES)).alias("batch"),
        F.explode(_grams(_tokens(F.col("text")), 2)).alias("g"),
    )
    # vocab-factored per micro-batch (the heavy_hitters_cms r13 rewrite):
    # occurrences collapse to (batch, g, weight) before hashing/exploding
    weights = grams.groupBy("batch", "g").agg(F.count("*").alias("w"))
    bucketed = track_persisted(_cms_buckets(weights).persist())
    jb = _cms_jb(bucketed, "batch", "w")
    # per-micro-batch partials (what each foreachBatch appends) ...
    partials = jb.groupBy("batch", "j", "b").agg(F.sum("w").alias("c"))
    # ... blind-appended and merged by SUM at read time
    merged = track_persisted(
        partials.groupBy("j", "b").agg(F.sum("c").alias("c")).persist()
    )
    # single-pass counters (what the batch operator builds) — the
    # additivity yardstick; both tables are ≤ d·W rows
    single = jb.groupBy("j", "b").agg(F.sum("w").alias("c"))
    mismatches = merged.join(single, ["j", "b", "c"], "anti").union(
        single.join(merged, ["j", "b", "c"], "anti")
    )
    additive = mismatches.agg(
        (F.count("*") == 0).alias("merge_additive_ok")
    )
    total = merged.filter(F.col("j") == 0).agg(F.sum("c").alias("n_total"))
    exact = bucketed.groupBy("g", *[f"b{j}" for j in range(HH_D)]).agg(
        F.sum("w").alias("n_exact")
    )
    scored, est = _cms_estimate(exact, merged)
    return (
        scored.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(additive))
        .select(
            F.col("g").alias("bigram"),
            "n_exact",
            (est >= F.col("n_exact")).alias("cm_overest_ok"),
            (
                (est - F.col("n_exact")) * HH_W
                <= F.lit(HH_BOUND_MULT) * F.col("n_total")
            ).alias("cm_bound_ok"),
            "merge_additive_ok",
        )
        .orderBy(F.col("n_exact").desc(), "bigram")
        .limit(HH_TOP)
    )


TRIGRAM_NEEDLE = "spark join"  # 10 chars → 8 trigrams; ~5 % of docs match


def trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search accelerated by a trigram posting index — the
    pg_trgm / code-search pattern that turns a full-scan ``LIKE
    '%needle%'`` into a posting-list intersection. A doc containing the
    needle necessarily contains every one of the needle's trigrams, so
    the intersection of the needle's posting lists is a provable
    SUPERSET of the true matches; the final ``contains`` verify touches
    only those candidates, making the result exact (the oracle replays
    the plain LIKE over the whole table — a hash match proves zero
    false positives AND zero false negatives end-to-end).

    Needle contract: the engine side (instr/contains/replace) is always
    LITERAL; the DuckDB oracle's LIKE pattern would diverge for needles
    containing the wildcards % or _, so registry needles must avoid
    them (TRIGRAM_NEEDLE does; the hypothesis property pins the engine
    against a pure-Python literal scan independently of LIKE).

    Plan: distinct per-doc trigrams explode once, the 8-literal IN
    filter prunes the postings stream in the same codegen stage (no
    posting survives that isn't a needle trigram), and the candidate
    gate is count(distinct-by-construction) == |needle trigrams|. At
    100 TB the postings are a PRE-BUILT bucketed index (doc→trigram
    written once at ingest, the dedup_against_index shape) and the scan
    side of this query disappears — queries price at
    Σ |posting list(needle trigram)| + |candidates| verify reads,
    not corpus bytes. Occurrence count via length arithmetic
    (replace-and-measure), engine-exact integers."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return _trigram_search(docs, TRIGRAM_NEEDLE)


def _needle_tris(needle: str) -> list[str]:
    """Validate the needle contract and return its sorted distinct
    trigrams. Self-enforcing (ADVICE r13 #4): the engine side is literal
    while the DuckDB oracle interpolates the needle into a LIKE pattern
    (plus strpos/replace inside single quotes), so a needle containing
    LIKE wildcards or a quote would silently desynchronize engine and
    oracle. Fail loudly here instead."""
    if len(needle) < 3:
        raise ValueError("trigram search needs a needle of >= 3 chars")
    if any(ch in needle for ch in ("%", "_", "'")):
        raise ValueError(
            "trigram needle must not contain %, _ or ' — the oracle "
            "interpolates it verbatim into a LIKE pattern and string "
            "literals (engine side is literal; they would diverge)"
        )
    return sorted({needle[i : i + 3] for i in range(len(needle) - 2)})


def _tri_arr() -> Column:
    """All character trigrams of ``text`` as an array column (with
    positional duplicates; empty for texts shorter than 3 chars)."""
    return F.when(
        F.length("text") >= 3,
        F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))


def _verify_contains(docs: DataFrame, cand: DataFrame, needle: str) -> DataFrame:
    """Shared verify+project tail: join the candidate superset back to
    the docs, keep true ``contains`` matches, emit first position and
    occurrence count via length arithmetic (engine-exact integers)."""
    return (
        docs.join(cand, "doc_id")
        .filter(F.instr("text", needle) > 0)
        .select(
            "doc_id",
            "lang",
            F.instr("text", needle).cast("int").alias("first_pos"),
            (
                (F.length("text") - F.length(F.replace(F.col("text"), F.lit(needle))))
                / F.lit(len(needle))
            )
            .cast("int")
            .alias("n_occurrences"),
        )
        .orderBy("doc_id")
    )


def _trigram_search(docs: DataFrame, needle: str) -> DataFrame:
    """Library body of ``trigram_index_search`` over any (doc_id, lang,
    text) frame; ``needle`` must be ≥3 chars. Hypothesis-pinned against
    a pure-Python substring scan in test_properties."""
    tris = _needle_tris(needle)
    # per-doc DISTINCT needle-trigram postings: array_intersect against
    # the needle's literal trigram set dedups AND prunes INSIDE the same
    # codegen stage, so the explode emits ≤ |needle trigrams| rows per
    # doc instead of one per text position (measured 1.16× at the Zipf
    # 32× point, 31.9 → 27.6 s; the residual cost is the trigram
    # transform itself — corpus-linear by nature, and exactly the part a
    # pre-built posting index removes from the query path — see
    # trigram_search_prebuilt for that deployment form)
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_intersect(_tri_arr(), F.array(*[F.lit(x) for x in tris]))
        ).alias("tri"),
    )
    cand = (
        postings.groupBy("doc_id")
        .agg(F.count("*").alias("n_tris"))
        .filter(F.col("n_tris") == len(tris))
        .select("doc_id")
    )
    return _verify_contains(docs, cand, needle)


TRIGRAM_INDEX_ALGO = 1  # bump on any posting-layout/semantics change

# The pg_trgm-style posting index: distinct (doc_id, tri) postings for
# EVERY trigram of every doc (the index cannot know future needles),
# stored at the generation root, range-partitioned and sorted by ``tri``
# so each file covers a tight trigram range and an ``IN (needle
# trigrams)`` probe prunes to the few files holding those lists.
TRIGRAM = IndexSpec(
    kind="trigram_postings",
    meta={"algo": TRIGRAM_INDEX_ALGO},
    source="documents",
    tables=(RowsTable("", ("tri",), ("tri", "doc_id")),),
    encode=lambda docs, _state: {
        "": docs.select(
            "doc_id", F.explode(F.array_distinct(_tri_arr())).alias("tri")
        )
    },
    rows=lambda spark, sf_dir: load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ),
)


def trigram_search_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB deployment form of trigram substring search that the
    fused ``trigram_index_search`` docstring promises: the posting index
    is BUILT ONCE (here: written to scratch parquet, the stand-in for
    the ingest-time index build) and the QUERY reads only posting lists
    plus candidate docs. The returned plan — pinned in
    tests/test_plans.py — scans ``documents`` exactly ONCE (the final
    contains-verify); the trigram transform/explode over the corpus is
    absent from the query path, replaced by a parquet scan of the index
    whose ``tri IN (...)`` predicate is a PushedFilter against the
    range-partitioned, tri-sorted posting files. Query cost is therefore
    Σ|posting list(needle trigram)| + |candidates| verify reads, not
    corpus bytes — the pg_trgm economics. Same provable-superset
    semantics as the fused form: every true match contains all needle
    trigrams, so the all-distinct-trigrams-present gate never drops a
    match and the contains-verify makes the result exact (the DuckDB
    oracle replays the unindexed full-scan LIKE; the hash match proves
    exactness end-to-end). The build runs at most once per (source,
    config) — the ``TRIGRAM`` slot's marker makes repeated calls
    (and the cold fresh-session read, pytest-pinned) reuse the stored
    files instead of rewriting them under a still-lazy sibling plan
    (ADVICE r14 #2). Reference parity: extension surface (the reference
    has no text search); cf. pg_trgm (PostgreSQL contrib) for the
    public algorithm."""
    path = ensure(TRIGRAM, spark, sf_dir)
    return trigram_query_prebuilt(spark, sf_dir, path)


def trigram_query_prebuilt(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    needle: str | None = None,
) -> DataFrame:
    """QUERY-ONLY half of the prebuilt search: reads the stored posting
    lists at ``path`` (default: the sf_dir slot) plus candidate docs —
    never builds, so a fresh session holding nothing but the index files
    answers it (pytest-pinned cold read). The candidate gate counts
    DISTINCT trigrams per doc: stored postings may legitimately carry
    duplicates after at-least-once streaming appends (a retried
    micro-batch blind-appends its batch twice), and a count(*) gate
    would push a true match's count past the equality and silently DROP
    it (ADVICE r14 #1). countDistinct over ≤ |needle trigrams| values
    per doc is the same cost class (partial aggregation on (doc_id,
    tri) pairs already pruned by the IN filter).

    ``needle`` is the CALLER's substring query (r16, VERDICT r15 task
    #1); the registry wrapper binds the pinned ``TRIGRAM_NEEDLE`` so
    its unindexed-LIKE DuckDB oracle stays hermetic. Any needle (≥3
    chars — shorter has no trigram to probe, exactly pg_trgm's
    contract) rides the same pushed ``In(tri, ...)`` probe + contains
    verify."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    needle = needle if needle is not None else TRIGRAM_NEEDLE
    path = slot_live(
        path if path is not None else scratch_path(TRIGRAM.kind, sf_dir)
    )
    postings = spark.read.parquet(path)
    tris = _needle_tris(needle)
    cand = (
        postings.filter(F.col("tri").isin(tris))
        .groupBy("doc_id")
        .agg(F.countDistinct("tri").alias("n_tris"))
        .filter(F.col("n_tris") == len(tris))
        .select("doc_id")
    )
    return _verify_contains(docs, cand, needle)


def trigram_prebuilt_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT read of the stored trigram posting index (r17 —
    snapshot reads generalized from the bm25/IVF pair to EVERY stored
    family via indexstore.ensure_snapshot_state): the grace generation
    answers the pinned search as of the previous promote, with the
    engine-decided ``snapshot_equals_live`` claim pinned TRUE by the
    row-preserving compaction; same unindexed-LIKE oracle + claim."""
    ensure(TRIGRAM, spark, sf_dir)
    slot = scratch_path(TRIGRAM.kind, sf_dir)
    snap = ensure_snapshot_state(slot, lambda s: compact(TRIGRAM, spark, s))
    snap_df = trigram_query_prebuilt(spark, sf_dir, snap)
    live_df = trigram_query_prebuilt(spark, sf_dir, slot_live(slot))
    on = ["doc_id", "lang", "first_pos", "n_occurrences"]
    claims = snapshot_equals_live_claim(snap_df, live_df, on)
    return (
        snap_df.crossJoin(F.broadcast(claims))
        .select(*on, "snapshot_equals_live")
        .orderBy("doc_id")
    )


_SQL_TOKS = "SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents"

ORACLE: dict[str, str] = {
    # the UNINDEXED form: a full-table LIKE scan — matching it proves the
    # trigram posting intersection + contains verify is exact end-to-end
    "trigram_index_search": f"""
        SELECT doc_id, lang,
               CAST(strpos(text, '{TRIGRAM_NEEDLE}') AS INT) AS first_pos,
               CAST((length(text) - length(replace(text, '{TRIGRAM_NEEDLE}', '')))
                    / {len(TRIGRAM_NEEDLE)} AS INT) AS n_occurrences
        FROM documents
        WHERE text LIKE '%{TRIGRAM_NEEDLE}%'
        ORDER BY doc_id
    """,
    # the prebuilt-index variant answers the SAME question from stored
    # posting lists; the identical unindexed-LIKE oracle proves the index
    # round-trip (build → parquet → IN-probe → verify) loses nothing
    "trigram_search_prebuilt": f"""
        SELECT doc_id, lang,
               CAST(strpos(text, '{TRIGRAM_NEEDLE}') AS INT) AS first_pos,
               CAST((length(text) - length(replace(text, '{TRIGRAM_NEEDLE}', '')))
                    / {len(TRIGRAM_NEEDLE)} AS INT) AS n_occurrences
        FROM documents
        WHERE text LIKE '%{TRIGRAM_NEEDLE}%'
        ORDER BY doc_id
    """,
    # exact top-K bigram counts are the replayable spine; the two CM
    # claims are engine-decided and pinned TRUE (overestimate-only +
    # integer-space overshoot bound)
    "heavy_hitters_cms": f"""
        WITH d AS ({_SQL_TOKS}),
        g AS (SELECT unnest({_sql_grams(2)}) AS bigram FROM d)
        SELECT bigram, count(*) AS n_exact,
               TRUE AS cm_overest_ok, TRUE AS cm_bound_ok
        FROM g
        GROUP BY bigram
        ORDER BY n_exact DESC, bigram
        LIMIT {HH_TOP}
    """,
    # the streaming twin's spine is the SAME exact top-K (the micro-batch
    # split cannot change totals); all three claims engine-decided,
    # pinned TRUE — merge_additive_ok is the mergeable-summary invariant
    "heavy_hitters_cms_stream": f"""
        WITH d AS ({_SQL_TOKS}),
        g AS (SELECT unnest({_sql_grams(2)}) AS bigram FROM d)
        SELECT bigram, count(*) AS n_exact,
               TRUE AS cm_overest_ok, TRUE AS cm_bound_ok,
               TRUE AS merge_additive_ok
        FROM g
        GROUP BY bigram
        ORDER BY n_exact DESC, bigram
        LIMIT {HH_TOP}
    """,
    "pmi_collocations": f"""
        WITH d AS ({_SQL_TOKS}),
        uni AS (SELECT unnest(toks) AS tok FROM d),
        uc AS (SELECT tok, count(*) AS cu FROM uni GROUP BY 1),
        bgs AS (
            SELECT unnest({_sql_grams(2)}) AS bigram FROM d
        ),
        bgc AS (
            SELECT bigram, count(*) AS c12 FROM bgs
            GROUP BY 1 HAVING count(*) >= {PMI_MIN_COUNT}
        ),
        tot AS (
            SELECT (SELECT count(*) FROM uni) AS nu,
                   (SELECT count(*) FROM bgs) AS nb
        )
        SELECT bigram, c12, u1.cu AS c1, u2.cu AS c2,
               {_sql_fr("ln((c12 / CAST(nb AS DOUBLE)) / ((u1.cu / CAST(nu AS DOUBLE)) * (u2.cu / CAST(nu AS DOUBLE))))", 6)}
                   AS pmi
        FROM bgc, tot
        JOIN uc u1 ON string_split(bigram, ' ')[1] = u1.tok
        JOIN uc u2 ON string_split(bigram, ' ')[2] = u2.tok
        ORDER BY pmi DESC, bigram
        LIMIT {PMI_TOP_K}
    """,
    "corpus_curation": f"""
        WITH d AS ({_SQL_TOKS}),
        m AS (
            SELECT doc_id, lang, text,
                   len(toks) AS n,
                   {_sql_hits(EN_STOPWORDS)} * 1.0 / len(toks) AS stop_ratio,
                   len(list_distinct(toks)) * 1.0 / len(toks)  AS distinct_ratio,
                   {", ".join(f"CAST({_sql_hits(words)} AS INT) AS score_{lang}" for lang, words in LANG_STOPWORDS.items())}
            FROM d
        ),
        staged AS (
            SELECT lang,
                   (least(1.0, n / 200.0) * 0.5
                      + (1.0 - stop_ratio) * 0.3
                      + least(1.0, distinct_ratio * 2) * 0.2) >= 0.4 AS pass_quality,
                   (greatest({", ".join('score_' + l for l in LANG_STOPWORDS)}) = 0
                    OR (CASE {" ".join(f"WHEN score_{lang} >= greatest({', '.join('score_' + l for l in LANG_STOPWORDS)}) THEN '{lang}'" for lang in LANG_STOPWORDS)}
                        END) = lang) AS pass_lang,
                   doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS pass_dedup
            FROM m
        )
        SELECT lang,
               count(*) AS n_raw,
               CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS INT) AS n_quality,
               CAST(sum(CASE WHEN pass_quality AND pass_lang THEN 1 ELSE 0 END) AS INT) AS n_quality_lang,
               CAST(sum(CASE WHEN pass_quality AND pass_lang AND pass_dedup THEN 1 ELSE 0 END) AS INT) AS n_final
        FROM staged
        GROUP BY lang
        ORDER BY lang
    """,
    "tfidf_top_terms": f"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        ),
        df AS (
            SELECT term, CAST(count(*) AS INT) AS df FROM tf GROUP BY 1
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   tf.tf * ({_sql_fr("ln(((SELECT count(*) FROM documents) + 1.0) / (df.df + 1.0))", 6)}) AS score
            FROM tf JOIN df ON tf.term = df.term
        ),
        ranked AS (
            SELECT doc_id, term, tf, df, score,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term) AS INT) AS rank
            FROM scored
        )
        SELECT doc_id, rank, term, tf, df,
               {_sql_fr('score', 6)} AS tfidf
        FROM ranked WHERE rank <= {TFIDF_TOP_K}
        ORDER BY doc_id, rank
    """,
    "bm25_search": f"""
        WITH d AS ({_SQL_TOKS}),
        stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM d),
        terms AS (
            SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
            FROM terms
            WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT t.doc_id,
                   CAST({_sql_fr(
                       _sql_fr(f"ln(1.0 + (s.n - df + 0.5) / (df + 0.5))", 6)
                       + f" * (t.tf * ({BM25_K1} + 1.0))"
                       + f" / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))",
                       6,
                   )} AS DECIMAL(30,10)) AS ts
            FROM tf t JOIN df USING (term), stats s
        ),
        agg AS (
            SELECT doc_id, {_sql_fr('CAST(sum(ts) AS DOUBLE)', 6)} AS bm25
            FROM scored GROUP BY doc_id
        )
        SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank,
               doc_id, bm25
        FROM agg
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP_K}
        -- bm25_prebuilt reuses this SQL verbatim: the stored-index form is
        -- bit-identical to bm25_search by construction (shared tokenizer,
        -- query-time stats from index bytes, shared scoring tail), so the
        -- unindexed full-corpus replay proves the round-trip loses nothing
    """,
    "text_token_stats": f"""
        WITH d AS ({_SQL_TOKS})
        SELECT doc_id,
               CAST(len(toks) AS INT)                                       AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT)                        AS n_distinct_tokens,
               CAST(len(regexp_extract_all(text, '{WORD_RE}')) AS INT)      AS n_word_tokens,
               CAST(length(text) AS INT)                                    AS n_chars_observed,
               {_sql_fr("list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)", 4)} AS avg_token_len
        FROM d
        ORDER BY doc_id
    """,
    "text_quality": f"""
        WITH d AS ({_SQL_TOKS}),
        m AS (
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   {_sql_hits(EN_STOPWORDS)} * 1.0 / len(toks) AS stop_ratio,
                   len(list_distinct(toks)) * 1.0 / len(toks)  AS distinct_ratio
            FROM d
        ),
        s AS (
            SELECT *,
                   least(1.0, n_tokens / 200.0) * 0.5
                     + (1.0 - stop_ratio) * 0.3
                     + least(1.0, distinct_ratio * 2) * 0.2 AS score
            FROM m
        )
        SELECT doc_id, n_tokens,
               {_sql_fr('stop_ratio', 4)}     AS stopword_ratio,
               {_sql_fr('distinct_ratio', 4)} AS distinct_ratio,
               {_sql_fr('score', 4)}          AS quality_score,
               CASE WHEN score >= 0.6 THEN 'high'
                    WHEN score >= 0.4 THEN 'medium'
                    ELSE 'low' END            AS quality_class
        FROM s
        ORDER BY doc_id
    """,
    "lang_id_stopword": f"""
        WITH d AS ({_SQL_TOKS}),
        s AS (
            SELECT doc_id, lang,
                   {", ".join(f"CAST({_sql_hits(words)} AS INT) AS score_{lang}" for lang, words in LANG_STOPWORDS.items())}
            FROM d
        )
        SELECT doc_id, lang,
               {", ".join(f"score_{lang}" for lang in LANG_STOPWORDS)},
               CASE {" ".join(f"WHEN score_{lang} >= greatest({', '.join('score_' + l for l in LANG_STOPWORDS)}) THEN '{lang}'" for lang in LANG_STOPWORDS)}
               END AS lang_pred
        FROM s
        ORDER BY doc_id
    """,
    "doc_fingerprint": f"""
        WITH d AS ({_SQL_TOKS})
        SELECT doc_id,
               md5(text) AS fp_full,
               list_min(list_transform(
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
                   s -> md5(s))) AS fp_min_shingle,
               md5(array_to_string(toks[1:8], ' ')) AS fp_prefix8
        FROM d
        ORDER BY doc_id
    """,
    "winnow_fingerprints": f"""
        WITH d AS ({_SQL_TOKS}),
        h AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {WINNOW_K}
                   THEN list_transform(range(1, len(toks) - {WINNOW_K} + 2),
                        i -> md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')))
                   ELSE [] END AS h
            FROM d
        ),
        fp AS (
            SELECT doc_id, len(h) AS n_kgrams,
                   CASE WHEN len(h) >= 1
                   THEN list_sort(list_distinct(
                        list_transform(range(1, greatest(1, len(h) - {WINNOW_W} + 1) + 1),
                                       i -> list_min(h[i:i+{WINNOW_W - 1}]))))
                   ELSE [] END AS fps
            FROM h
        )
        SELECT doc_id,
               CAST(n_kgrams AS INT) AS n_kgrams,
               CAST(len(fps) AS INT) AS n_fingerprints,
               fps[1] AS fp_min,
               md5(array_to_string(fps, ',')) AS fp_set_md5
        FROM fp
        ORDER BY doc_id
    """,
    "bigram_surprisal_quality": f"""
        WITH d AS ({_SQL_TOKS}),
        bg AS (
            SELECT doc_id, unnest({_sql_grams(2)}) AS bg FROM d
        ),
        bgc AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        ctx AS (
            SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1
            FROM bgc GROUP BY 1
        ),
        v AS (SELECT count(*) AS v FROM ctx),
        tf2 AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
        stats AS (
            SELECT bgc.bg, bgc.c2, ctx.c1
            FROM bgc JOIN ctx ON string_split(bgc.bg, ' ')[1] = ctx.w1
        ),
        scored AS (
            SELECT t.doc_id, t.n,
                   CAST(t.n * ({_sql_fr("-ln((c2 + 1.0) / (c1 + CAST(v AS DOUBLE)))", 6)}) AS DECIMAL(30,10)) AS s
            FROM tf2 t JOIN stats USING (bg), v
        )
        SELECT doc_id,
               CAST(sum(n) AS INT) AS n_bigrams,
               {_sql_fr("CAST(sum(s) AS DOUBLE) / sum(n)", 4)} AS mean_bigram_surprisal
        FROM scored
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "unigram_logprob_quality": f"""
        WITH d AS ({_SQL_TOKS}),
        terms AS (SELECT doc_id, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        tc AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM terms),
        scored AS (
            SELECT t.doc_id, t.tf,
                   CAST(t.tf * ({_sql_fr("-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))", 6)}) AS DECIMAL(30,10)) AS s
            FROM tf t JOIN tc USING (term), tot
        ),
        agg AS (
            SELECT doc_id,
                   CAST(sum(tf) AS INT) AS n_tokens,
                   {_sql_fr("CAST(sum(s) AS DOUBLE) / sum(tf)", 4)} AS mean_surprisal
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, mean_surprisal,
               CAST(mean_surprisal <= {SURPRISAL_KEEP_MAX} AS INT) AS keep_lowppl
        FROM agg
        ORDER BY doc_id
    """,
    "tfidf_cosine_pairs": f"""
        WITH d AS ({_SQL_TOKS}),
        terms AS (SELECT doc_id, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        w AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * ({_sql_fr("ln(((SELECT count(*) FROM documents) + 1.0) / (df.df + 1.0))", 6)}) AS w
            FROM tf JOIN df ON tf.term = df.term
        ),
        norms AS (
            SELECT doc_id,
                   sqrt(CAST(sum(CAST(w * w AS DECIMAL(30,10))) AS DOUBLE)) AS nrm
            FROM w GROUP BY 1
        ),
        sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ),
        scount AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            JOIN scount sc ON a.s = sc.s AND sc.c <= {MAX_POSTING_LEN}
            GROUP BY 1, 2
            HAVING count(*) >= {TFIDF_MIN_SHARED_SHINGLES}
        ),
        dots AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(sum(CAST(a.w * b.w AS DECIMAL(30,10))) AS DOUBLE) AS dot,
                   CAST(count(*) AS INT) AS n_shared_terms
            FROM cand c
            JOIN w a ON a.doc_id = c.doc_a
            JOIN w b ON b.doc_id = c.doc_b AND a.term = b.term
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared_terms,
               {_sql_fr("dot / (na.nrm * nb.nrm)", 6)} AS cosine
        FROM dots
        JOIN norms na ON doc_a = na.doc_id
        JOIN norms nb ON doc_b = nb.doc_id
        WHERE dot / (na.nrm * nb.nrm) >= {TFIDF_COS_MIN}
        ORDER BY doc_a, doc_b
    """,
}

# the stored-index form must answer bit-identically to the in-query form;
# replaying the UNINDEXED SQL against it proves the round-trip is loss-free
ORACLE["bm25_prebuilt"] = ORACLE["bm25_search"]
# the snapshot read answers from the RETAINED pre-compaction generation;
# compaction is row-preserving, so the same in-query oracle replays it and
# the engine-decided snapshot==live claim is pinned TRUE (salted-join idiom)
ORACLE["bm25_prebuilt_snapshot"] = (
    "SELECT *, 1 AS snapshot_equals_live FROM ("
    + ORACLE["bm25_search"]
    + ") bm25_snapshot_base"
)
# same generalization for the trigram family (r17): snapshot read of the
# retained generation, row-preserving compaction ⇒ claim pinned TRUE
ORACLE["trigram_prebuilt_snapshot"] = (
    "SELECT *, 1 AS snapshot_equals_live FROM ("
    + ORACLE["trigram_search_prebuilt"]
    + ") trigram_snapshot_base"
)


def _sql_bm25_ranked(where: str = "TRUE") -> str:
    """BM25 ranked list over the corpus subset ``WHERE <where>`` — the
    parameterized twin of the bm25_search oracle (that literal is left
    byte-identical on purpose: regenerating it through this helper would
    change three green entries' oracle text and re-queue them; unify
    when the bm25 family is next touched). The diverged-snapshot oracle
    instantiates it twice — the snapshot's subset corpus and the full
    live corpus — so the divergence counts REPLAY from first principles
    rather than pinning literals."""
    return f"""
        SELECT * FROM (
        WITH d AS (SELECT * FROM ({_SQL_TOKS}) WHERE {where}),
        stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM d),
        terms AS (
            SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
            FROM terms
            WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT t.doc_id,
                   CAST({_sql_fr(
                       _sql_fr("ln(1.0 + (s.n - df + 0.5) / (df + 0.5))", 6)
                       + f" * (t.tf * ({BM25_K1} + 1.0))"
                       + f" / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))",
                       6,
                   )} AS DECIMAL(30,10)) AS ts
            FROM tf t JOIN df USING (term), stats s
        ),
        agg AS (
            SELECT doc_id, {_sql_fr('CAST(sum(ts) AS DOUBLE)', 6)} AS bm25
            FROM scored GROUP BY doc_id
        )
        SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank,
               doc_id, bm25
        FROM agg
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP_K}
        ) ranked_subset
    """


# DIVERGED snapshot (r18): the snapshot is BM25 over the base subset
# (doc_id % MOD != MOD-1 — the corpus as of the snapshot-minting
# compaction), live is BM25 over the full corpus (post-append). Both
# ranked lists replay from first principles and the divergence counts
# are their both-ways anti-join — computed, never pinned.
ORACLE["bm25_prebuilt_diverged_snapshot"] = f"""
    WITH snapq AS ({_sql_bm25_ranked(
        f"(doc_id % {BM25_APPEND_MOD}) != {BM25_APPEND_MOD - 1}"
    )}),
    liveq AS ({_sql_bm25_ranked()}),
    only_live AS (
        SELECT count(*) AS n FROM liveq l
        WHERE NOT EXISTS (
            SELECT 1 FROM snapq s
            WHERE s.rank = l.rank AND s.doc_id = l.doc_id
              AND s.bm25 = l.bm25
        )
    ),
    only_snap AS (
        SELECT count(*) AS n FROM snapq s
        WHERE NOT EXISTS (
            SELECT 1 FROM liveq l
            WHERE l.rank = s.rank AND l.doc_id = s.doc_id
              AND l.bm25 = s.bm25
        )
    )
    SELECT s.rank, s.doc_id, s.bm25,
           CAST(ol.n AS INT) AS n_only_live,
           CAST(os.n AS INT) AS n_only_snap
    FROM snapq s, only_live ol, only_snap os
    ORDER BY s.rank
"""

QUERIES = {
    "trigram_index_search": trigram_index_search,
    "trigram_search_prebuilt": trigram_search_prebuilt,
    "trigram_prebuilt_snapshot": trigram_prebuilt_snapshot,
    "heavy_hitters_cms": heavy_hitters_cms,
    "heavy_hitters_cms_stream": heavy_hitters_cms_stream,
    "pmi_collocations": pmi_collocations,
    "corpus_curation": corpus_curation,
    "unigram_logprob_quality": unigram_logprob_quality,
    "bigram_surprisal_quality": bigram_surprisal_quality,
    "tfidf_cosine_pairs": tfidf_cosine_pairs,
    "tfidf_top_terms": tfidf_top_terms,
    "bm25_search": bm25_search,
    "bm25_prebuilt": bm25_prebuilt,
    "bm25_prebuilt_snapshot": bm25_prebuilt_snapshot,
    "bm25_prebuilt_diverged_snapshot": bm25_prebuilt_diverged_snapshot,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "lang_id_stopword": lang_id_stopword,
    "doc_fingerprint": doc_fingerprint,
    "winnow_fingerprints": winnow_fingerprints,
}
