"""Cold-session index read probe (r14 VERDICT task #4).

Proves no in-session state is load-bearing for the prebuilt-index query
paths: session A builds the trigram posting index and the IVF index into a
fresh scratch dir and answers the registry searches; session A is STOPPED;
a brand-new session B answers the same searches through the QUERY-ONLY
halves (trigram_query_prebuilt / ann_ivf_query_prebuilt — no build, no
train), reading nothing but the stored index files plus the source tables
the verify/gather steps point into. Exit 0 iff all results match and are
non-empty.

Run by tests/test_extensions.py::test_cold_session_index_reads in a
subprocess (a stopped SparkContext poisons the shared pytest fixture, so
the two-session dance needs its own process).

Usage: python tests/cold_session_probe.py <sf_dir> <scratch_dir>
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    sf_dir, scratch = sys.argv[1], sys.argv[2]
    os.environ["WDSS_SCRATCH_DIR"] = scratch  # hermetic index slot
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    def fresh_session():
        return (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )

    from weather_database_system_spark.indexstore import ensure
    from weather_database_system_spark.operators.dedup import (
        DEDUP,
        dedup_against_index_prebuilt,
    )
    from weather_database_system_spark.operators.similarity import (
        IVF,
        IVFPQ,
        IVFPQ_RES,
        NPROBE,
        PQ,
        ann_ivf_query_prebuilt,
        ann_ivfpq_query_prebuilt,
        ann_ivfpq_residual_query_prebuilt,
        ann_pq_query_prebuilt,
    )
    from weather_database_system_spark.operators.textan import (
        BM25,
        TRIGRAM,
        bm25_query_prebuilt,
        trigram_query_prebuilt,
    )
    from weather_database_system_spark.operators.trainprep import (
        CONTAMINATION,
        contamination_query_prebuilt,
    )

    def answers(spark, tri_path, ivf_path, ddp_path, pq_path, bm_path, ct_path,
                ipq_path, ipr_path):
        return {
            "tri": [tuple(r) for r in trigram_query_prebuilt(spark, sf_dir, tri_path).collect()],
            "ivf1": [tuple(r) for r in ann_ivf_query_prebuilt(spark, sf_dir, ivf_path, 1).collect()],
            "ivfN": [tuple(r) for r in ann_ivf_query_prebuilt(spark, sf_dir, ivf_path, NPROBE).collect()],
            "ddp": [tuple(r) for r in dedup_against_index_prebuilt(spark, sf_dir, ddp_path).collect()],
            "pq": [tuple(r) for r in ann_pq_query_prebuilt(spark, sf_dir, pq_path).collect()],
            "bm25": [tuple(r) for r in bm25_query_prebuilt(spark, sf_dir, bm_path).collect()],
            # the r17 composition, both encodings: a cold session routes
            # and ADC-scores from nothing but centroid/codebook/code bytes
            "ivfpq": [tuple(r) for r in ann_ivfpq_query_prebuilt(spark, sf_dir, ipq_path).collect()],
            "ivfpq_res": [tuple(r) for r in ann_ivfpq_residual_query_prebuilt(spark, sf_dir, ipr_path).collect()],
            # the deployment story for the r16 parameterization: a cold
            # session answers the USER's OWN (non-pinned) query from
            # nothing but the stored index bytes
            "tri_user": [tuple(r) for r in trigram_query_prebuilt(
                spark, sf_dir, tri_path, needle="window").collect()],
            "bm25_user": [tuple(r) for r in bm25_query_prebuilt(
                spark, sf_dir, bm_path, terms=("scan", "merge")).collect()],
            "contam": [tuple(r) for r in contamination_query_prebuilt(
                spark, sf_dir, ct_path).collect()],
        }

    # --- session A: build + answer -------------------------------------
    spark = fresh_session()
    spark.sparkContext.setLogLevel("ERROR")
    tri_path = ensure(TRIGRAM, spark, sf_dir)
    ivf_path = ensure(IVF, spark, sf_dir)
    ddp_path = ensure(DEDUP, spark, sf_dir)
    pq_path = ensure(PQ, spark, sf_dir)
    bm_path = ensure(BM25, spark, sf_dir)
    ct_path = ensure(CONTAMINATION, spark, sf_dir)
    ipq_path = ensure(IVFPQ, spark, sf_dir)
    ipr_path = ensure(IVFPQ_RES, spark, sf_dir)
    warm = answers(spark, tri_path, ivf_path, ddp_path, pq_path, bm_path,
                   ct_path, ipq_path, ipr_path)
    spark.stop()

    # --- session B: cold, query-only ------------------------------------
    spark = fresh_session()
    spark.sparkContext.setLogLevel("ERROR")
    cold = answers(spark, tri_path, ivf_path, ddp_path, pq_path, bm_path,
                   ct_path, ipq_path, ipr_path)
    spark.stop()

    ok = True
    for k in warm:
        if not warm[k]:
            print(f"{k}: EMPTY warm result", flush=True)
            ok = False
        elif warm[k] != cold[k]:
            print(f"{k}: cold read diverged ({len(warm[k])} vs {len(cold[k])} rows)", flush=True)
            ok = False
        else:
            print(f"{k}: cold == warm ({len(warm[k])} rows)", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
