"""Parameterized stored-index query halves (r16, VERDICT r15 task #1).

The registry forms pin needles/terms/query-sets so their DuckDB oracles
stay hermetic — but a real user's first interaction with a search index
is asking their OWN query. These tests pin the library contract: each
family's query-only half takes the caller's query as an argument, an
ARBITRARY non-pinned query answered from the STORED index matches the
in-query form (or an independent dense replay) on the same corpus, and
the no-argument default stays bit-identical to the pinned registry form
(so every CORRECTNESS oracle is untouched).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_prebuilt_answers_arbitrary_terms(spark):
    """An arbitrary term set answered from the stored BM25 index must
    rank exactly like the in-query twin over the same corpus — posting
    round-trip, query-time N/avgdl/df derivation, and scoring tail all
    parameterize over the caller's terms, not just the pinned
    BM25_QUERY."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.textan import (
        BM25,
        BM25_QUERY,
        bm25_query_prebuilt,
        bm25_search,
    )

    idx = ensure(BM25, spark, SF_SMOKE)

    for terms in (("filter", "merge", "vector"), ("scan",)):
        assert tuple(terms) != BM25_QUERY  # genuinely non-pinned
        stored = _rows(bm25_query_prebuilt(spark, SF_SMOKE, idx, terms=terms))
        inquery = _rows(bm25_search(spark, SF_SMOKE, terms=terms))
        assert len(stored) > 0
        assert stored == inquery

    # the no-arg default IS the pinned registry form — oracle untouched
    assert _rows(bm25_query_prebuilt(spark, SF_SMOKE, idx)) == _rows(
        bm25_query_prebuilt(spark, SF_SMOKE, idx, terms=BM25_QUERY)
    )


def test_trigram_prebuilt_answers_arbitrary_needle(spark):
    """An arbitrary substring needle probed against the stored trigram
    postings must match the in-query posting-intersection search
    (_trigram_search) over the same corpus; the needle contract
    (>=3 chars, no LIKE wildcards) still fails loudly."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.textan import (
        TRIGRAM,
        TRIGRAM_NEEDLE,
        _trigram_search,
        trigram_query_prebuilt,
    )
    from weather_database_system_spark.sources.star import load_table

    idx = ensure(TRIGRAM, spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "text"
    )

    for needle in ("table scan", "agg"):
        assert needle != TRIGRAM_NEEDLE
        stored = _rows(
            trigram_query_prebuilt(spark, SF_SMOKE, idx, needle=needle)
        )
        inquery = _rows(_trigram_search(docs, needle))
        assert len(stored) > 0
        assert stored == inquery

    with pytest.raises(ValueError, match=">= 3 chars"):
        trigram_query_prebuilt(spark, SF_SMOKE, idx, needle="ab")
    with pytest.raises(ValueError, match="wildcard|%"):
        trigram_query_prebuilt(spark, SF_SMOKE, idx, needle="100%")

    assert _rows(trigram_query_prebuilt(spark, SF_SMOKE, idx)) == _rows(
        trigram_query_prebuilt(spark, SF_SMOKE, idx, needle=TRIGRAM_NEEDLE)
    )


def _perturbed_queries(spark, sf_dir, n=5, id_base=1_000_000):
    """Deterministic OUT-OF-CORPUS query vectors: corpus embeddings from
    outside the pinned query range, perturbed per-dimension, under fresh
    query_ids — no row of the indexed corpus equals any of them."""
    from weather_database_system_spark.operators.similarity import N_QUERIES
    from weather_database_system_spark.sources.star import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + n)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    data = []
    for j, r in enumerate(sorted(rows, key=lambda r: r.vec_id)):
        emb = [float(v) + 0.001 * ((i % 7) - 3) for i, v in enumerate(r.embedding)]
        data.append((id_base + j, emb))
    return spark.createDataFrame(data, "query_id long, emb array<double>")


def test_ivf_prebuilt_answers_arbitrary_query_vectors(spark):
    """Out-of-corpus query vectors routed through the STORED IVF index
    must match a dense numpy replay of the same contract: best_cell =
    argmin (d2, cell) over the stored centroids, neighbors = cosine
    top-3 among the stored assignments of that cell (ties by
    neighbor_id). The queries exist nowhere in the index — routing and
    norms must come from the caller's vectors alone."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.similarity import (
        IVF,
        ann_ivf_query_prebuilt,
        read_ivf_centroids,
    )
    from weather_database_system_spark.sources.star import load_table

    idx = ensure(IVF, spark, SF_SMOKE)
    qdf = _perturbed_queries(spark, SF_SMOKE)
    got = ann_ivf_query_prebuilt(
        spark, SF_SMOKE, idx, queries_df=qdf
    ).collect()
    assert len(got) > 0

    cents = {c: np.array(v) for c, v in read_ivf_centroids(spark, idx)}
    assigned = {}
    for r in spark.read.parquet(f"{idx}/assignments").collect():
        assigned.setdefault(int(r.cell), set()).add(int(r.vec_id))
    X = {
        r.vec_id: np.array([float(v) for v in r.embedding])
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    expect = {}
    for q in qdf.collect():
        qv = np.array(q.emb)
        best = min((((qv - c) ** 2).sum(), cell) for cell, c in cents.items())[1]
        scored = sorted(
            (
                -(qv @ X[i]) / (np.linalg.norm(qv) * np.linalg.norm(X[i])),
                i,
            )
            for i in assigned.get(best, ())
        )
        expect[q.query_id] = (best, [i for _, i in scored[:3]])

    got_by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        cell, nbrs = got_by_q.setdefault(r.query_id, (r.best_cell, []))
        assert r.best_cell == cell
        nbrs.append(r.neighbor_id)
    assert {q: (c, n) for q, (c, n) in got_by_q.items()} == expect

    # multi-probe over caller vectors: top-NPROBE cells by (d2, cell),
    # candidates from their union, same cosine top-3 — replayed densely
    from weather_database_system_spark.operators.similarity import NPROBE

    got_n = ann_ivf_query_prebuilt(
        spark, SF_SMOKE, idx, nprobe=NPROBE, queries_df=qdf
    ).collect()
    expect_n = {}
    for q in qdf.collect():
        qv = np.array(q.emb)
        ranked = sorted((((qv - c) ** 2).sum(), cell) for cell, c in cents.items())
        cand = set().union(
            *(assigned.get(cell, set()) for _, cell in ranked[:NPROBE])
        )
        scored = sorted(
            (
                -(qv @ X[i]) / (np.linalg.norm(qv) * np.linalg.norm(X[i])),
                i,
            )
            for i in cand
        )
        expect_n[q.query_id] = [i for _, i in scored[:3]]
    got_n_by_q = {}
    for r in sorted(got_n, key=lambda r: (r.query_id, r.rank)):
        got_n_by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got_n_by_q == expect_n


def test_pq_prebuilt_answers_arbitrary_query_vectors(spark):
    """Out-of-corpus query vectors ADC-scored against the STORED PQ
    codes must match a dense numpy replay using the stored codebooks
    and codes — the asymmetric-distance table comes from the raw caller
    vector, which is exactly PQ's out-of-corpus contract (Jégou et al.
    2011 §III)."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.similarity import (
        PQ,
        PQ_M,
        PQ_SUBDIM,
        PQ_TOPK,
        ann_pq_query_prebuilt,
        read_pq_books,
    )

    idx = ensure(PQ, spark, SF_SMOKE)
    qdf = _perturbed_queries(spark, SF_SMOKE)
    got = ann_pq_query_prebuilt(spark, SF_SMOKE, idx, queries_df=qdf).collect()
    assert len(got) > 0

    books = read_pq_books(spark, idx)
    bmap = [{code: np.array(vals) for code, vals in books[m]} for m in range(PQ_M)]
    codes = {}
    for r in (
        spark.read.parquet(f"{idx}/codes")
        .dropDuplicates(["vec_id", "m"])
        .collect()
    ):
        codes.setdefault(int(r.vec_id), {})[int(r.m)] = int(r.code)

    expect = {}
    for q in qdf.collect():
        qv = np.array(q.emb)
        dists = sorted(
            (
                sum(
                    ((qv[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] - bmap[m][cm[m]]) ** 2).sum()
                    for m in range(PQ_M)
                ),
                i,
            )
            for i, cm in codes.items()
        )
        expect[q.query_id] = [i for _, i in dists[:PQ_TOPK]]

    got_by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        got_by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got_by_q == expect


def test_ivfpq_prebuilt_answers_arbitrary_query_vectors(spark):
    """Out-of-corpus query vectors through the STORED IVF+PQ index (r17)
    must match a dense numpy replay of the composition's contract:
    best_cell = argmin (d2, cell) over the stored centroids, neighbors =
    ADC top-PQ_TOPK among ONLY that cell's stored codes (ties by
    vec_id) — routing AND the asymmetric distance table both derive
    from the raw caller vector, so vectors that exist nowhere in the
    index are the normal case. The default (no queries_df) stays
    bit-identical to the pinned registry form."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.similarity import (
        IVFPQ,
        PQ_M,
        PQ_SUBDIM,
        PQ_TOPK,
        ann_ivfpq_query_prebuilt,
        read_ivf_centroids,
    )

    idx = ensure(IVFPQ, spark, SF_SMOKE)
    qdf = _perturbed_queries(spark, SF_SMOKE)
    got = ann_ivfpq_query_prebuilt(
        spark, SF_SMOKE, idx, queries_df=qdf
    ).collect()
    assert len(got) > 0

    cents = {c: np.array(v) for c, v in read_ivf_centroids(spark, idx)}
    books = {}
    for r in spark.read.parquet(f"{idx}/codebooks").collect():
        books[(int(r.m), int(r.code))] = np.array([float(v) for v in r.vals])
    cell_of, codes = {}, {}
    for r in (
        spark.read.parquet(f"{idx}/codes")
        .dropDuplicates(["vec_id", "m"])
        .collect()
    ):
        cell_of[int(r.vec_id)] = int(r.cell)
        codes.setdefault(int(r.vec_id), {})[int(r.m)] = int(r.code)

    expect = {}
    for q in qdf.collect():
        qv = np.array(q.emb)
        best = min((((qv - c) ** 2).sum(), cell) for cell, c in cents.items())[1]
        adc = sorted(
            (
                sum(
                    (
                        (
                            qv[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                            - books[(m, codes[v][m])]
                        )
                        ** 2
                    ).sum()
                    for m in range(PQ_M)
                ),
                v,
            )
            for v, c in cell_of.items()
            if c == best
        )
        expect[q.query_id] = [v for _, v in adc[:PQ_TOPK]]

    got_by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        got_by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got_by_q == expect

    # default == pinned registry form, bit-identical
    assert _rows(ann_ivfpq_query_prebuilt(spark, SF_SMOKE, idx)) == _rows(
        ann_ivfpq_query_prebuilt(spark, SF_SMOKE, idx, queries_df=None)
    )


def test_dedup_prebuilt_answers_arbitrary_batch(spark):
    """An arbitrary caller batch probed against the stored dedup index:
    an exact copy of an indexed doc verdicts exact_dup with the right
    canonical; novel garbage verdicts unique; and a batch doc_id that
    COLLIDES with an index doc_id cannot cross-contaminate the probe
    sides (the explicit origin tag through the band union). The default
    batch stays bit-identical to the pinned registry form."""
    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.dedup import (
        DEDUP,
        dedup_against_index_prebuilt,
    )
    from weather_database_system_spark.sources.star import load_table

    idx = ensure(DEDUP, spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    # the index side is the even half (build %4==0 + append %4==2)
    src = {r.doc_id: r.text for r in docs.filter("doc_id % 2 = 0").limit(3).collect()}
    some_id, some_text = sorted(src.items())[0]
    # the corpus carries planted duplicates — the canonical match is the
    # SMALLEST indexed doc_id sharing the text, not necessarily some_id
    canonical = (
        docs.filter("doc_id % 2 = 0")
        .filter(F.col("text") == some_text)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )

    batch = spark.createDataFrame(
        [
            (900_001, some_text),  # exact copy of an indexed doc
            (int(some_id), "zqxjkv bnmwp unique gibberish payload"),  # id collision
            (900_002, "another novel never-indexed text body entirely"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.status, r.matched_doc_id)
        for r in dedup_against_index_prebuilt(
            spark, SF_SMOKE, idx, batch=batch
        ).collect()
    }
    assert got[900_001] == ("exact_dup", canonical)
    assert got[900_002][0] == "unique" and got[900_002][1] is None
    # the colliding id must NOT match itself through the index side
    assert got[int(some_id)][0] == "unique"

    # default batch == pinned registry form (odd half), bit-identical
    odd = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).select("doc_id", "text")
    assert _rows(dedup_against_index_prebuilt(spark, SF_SMOKE, idx)) == _rows(
        dedup_against_index_prebuilt(spark, SF_SMOKE, idx, batch=odd)
    )


def test_ivf_sqrt_cell_sizing(spark, tmp_path):
    """K ∝ √N IVF cell sizing (r16, VERDICT r15 task #2 — the FAISS
    nlist rule): ivf_cell_count floors at the pinned constant and grows
    as round(coef·√N); a build with k_cells=None (the deployment
    default) trains √N centroids from the candidate count and the
    prebuilt query answers over the finer geometry; the registry path
    (ensure_ivf_index default) keeps exactly K_CELLS so its DuckDB
    Lloyd replay is untouched."""
    from weather_database_system_spark.indexstore import build, ensure
    from weather_database_system_spark.operators.similarity import (
        IVF,
        IVF_K_MIN,
        K_CELLS,
        N_QUERIES,
        ann_ivf_query_prebuilt,
        index_candidates,
        ivf_cell_count,
        read_ivf_centroids,
    )
    from weather_database_system_spark.sources.star import load_table

    assert ivf_cell_count(0) == IVF_K_MIN
    assert ivf_cell_count(K_CELLS**2) == K_CELLS  # boundary: √(K²) = K
    assert ivf_cell_count(100) == max(IVF_K_MIN, 10)
    assert ivf_cell_count(1_000_000) == 1000

    path = str(tmp_path / "ivf_sqrt")
    cand = index_candidates(spark, SF_SMOKE)
    build(IVF, cand, path, state=IVF.train(cand, k_cells=None))  # √N sizing
    n_cand = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") >= N_QUERIES)
        .count()
    )
    cents = read_ivf_centroids(spark, path)
    # Lloyd may drop cells that lose all members, never add any
    assert K_CELLS < len(cents) <= ivf_cell_count(n_cand)

    got = ann_ivf_query_prebuilt(spark, SF_SMOKE, path).collect()
    assert len(got) > 0  # the finer geometry answers end-to-end

    # the registry slot still trains the PINNED K (oracle untouched)
    reg = read_ivf_centroids(spark, ensure(IVF, spark, SF_SMOKE))
    assert len(reg) <= K_CELLS
