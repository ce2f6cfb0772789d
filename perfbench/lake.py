"""``lake_queries``: a fixed cross-section of the frozen headline queries
over the star-schema test data, each written to the ``noop`` sink.

The names come from ``bench.HEADLINE`` (bench.py is the 55-query contract
and stays as it is); the production twins replace the registry's checked
wrappers exactly as bench.py does. A cold pass of all 55 takes about a
minute on 4 cores, more than one run can spend, so a run times the
LAKE_QUERIES subset: every module behind the 55, with the build-heavy dedup
and similarity queries and a spread of small relational ones (22 queries,
so that the tail percentile has ten queries beyond it and sits above the
median). After four fixed openers the seed permutes the order. One
operation is one query, timed from the call that builds the DataFrame to
the end of the noop write; ``release_persisted()`` runs after each.
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import checks, gen
from perfbench.common import Tally, WORK, now, op_metrics, start_spark, stop_spark

PKG = "weather_database_system_spark."

# The small queries were picked so that the median query time falls among
# evenly spaced values: with a gap between two groups of queries at the
# median, the median jumped between the groups from run to run.
LAKE_QUERIES = (
    # operators.relational: the small queries the geomean protects
    "pricing_summary",
    "join_star_revenue",
    "window_topk_per_group",
    "topk_global",
    "shipping_priority",
    "disjunctive_brand_revenue",
    # operators.dedup: the driver-side build heavyweight
    "dedup_minhash_lsh_fast",
    "dedup_clusters_fast",
    # operators.similarity: trained codebooks built on the driver
    "ann_brute_force",
    "ann_product_quantization",
    # one or two from each remaining module
    "text_quality",  # operators.textan
    "corpus_curation",
    "domain_mixture_weights",  # operators.trainprep
    "png_decode_features",  # operators.multimodal
    "asof_attribution",  # operators.temporal
    "cohort_retention",  # operators.behavioral
    "multi_band_counts",
    "embedding_gram_matrix",  # operators.featurize
    "stratified_sample",  # operators.scale
    "feed_station_rollup",  # pipeline.ingest
    "rollup_cascade_day",  # pipeline.rollup
    "stream_session_window",  # streaming.windows
)

# Every pass opens with these cheap queries in this order; the seed permutes
# the rest. Whatever runs first after the warm-up runs 50-100 % slower than
# later in a pass; with a seeded opener that penalty landed on different
# queries each run and moved the median and tail by up to 20 %.
OPENERS = ("topk_global", "multi_band_counts", "domain_mixture_weights", "stratified_sample")

# bench.py times these production twins instead of the registry's
# *_checked wrappers; the registry oracle describes the wrappers, so the
# twins get the non-empty check.
TWINS = ("dedup_clusters_fast", "dedup_minhash_lsh_fast", "ann_product_quantization")

MODULES = (
    "operators.relational",
    "operators.dedup",
    "operators.similarity",
    "operators.textan",
    "operators.trainprep",
    "operators.multimodal",
    "operators.temporal",
    "operators.behavioral",
    "operators.featurize",
    "operators.scale",
    "pipeline.ingest",
    "pipeline.rollup",
    "streaming.windows",
)


def _registry():
    import __spark_entry__ as em
    from weather_database_system_spark.operators.dedup import (
        dedup_clusters_fast,
        dedup_minhash_lsh_fast,
    )
    from weather_database_system_spark.operators.similarity import (
        ann_product_quantization,
    )

    queries = dict(em.queries())
    queries["dedup_minhash_lsh_fast"] = dedup_minhash_lsh_fast
    queries["dedup_clusters_fast"] = dedup_clusters_fast
    queries["ann_product_quantization"] = ann_product_quantization
    return queries, em.oracle_sql()


def _data_signature(sf_dir: str) -> str:
    parts = []
    for name in sorted(os.listdir(sf_dir)):
        st = os.stat(os.path.join(sf_dir, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def oracle_expectations(names, oracle: dict, sf_dir: str) -> dict:
    """Oracle record per query (None where no oracle applies). DuckDB
    results are cached in the work dir, keyed by the SQL text and the test
    data's file identities, so only the first run in a checkout pays for
    them."""
    import duckdb

    from tests.oracle import register_duck_views

    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    sig = _data_signature(sf_dir)
    out, con = {}, None
    for name in names:
        if name in TWINS or name not in oracle:
            out[name] = None
            continue
        key = hashlib.sha256(f"{name}\n{oracle[name]}\n{sig}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            con = duckdb.connect()
            register_duck_views(con, sf_dir)
        out[name] = checks.expected_from(con.execute(oracle[name]).df())
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out[name], fh)
    if con is not None:
        con.close()
    return out


def _warm_up(spark, queries, sf_dir: str) -> None:
    """bench.py's warm-up: JVM/codegen on the flagship query, the Python
    worker pool, and the Python DataSource path."""
    from weather_database_system_spark.session import release_persisted

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(queries["pricing_summary"](spark, sf_dir))
    noop(spark.range(2).mapInPandas(lambda it: it, "id long"))
    noop(queries["feed_daily_rollup"](spark, sf_dir))
    release_persisted()


def _patch_load_table(patches) -> None:
    """Trace every ``load_table`` reference in the loaded engine modules."""
    import sys

    from weather_database_system_spark.sources import star

    orig = star.load_table
    for n, m in list(sys.modules.items()):
        if n.startswith(PKG) and getattr(m, "load_table", None) is orig:
            patches.patch(m, "load_table", "sources.star.load_table")


def _execute(spark, fn, name: str, mod: str, sf_dir: str, patches=None):
    """Build and noop-write one query; returns (DataFrame, build_s, exec_s).
    With ``patches``, the call is traced."""
    if patches is None:
        t0 = now()
        df = fn(spark, sf_dir)
        t1 = now()
        df.write.format("noop").mode("overwrite").save()
        return df, t1 - t0, now() - t1
    tracer = patches.tracer
    patches.on = True
    try:
        with tracer.span("lake.query", request=name, jobs=False):
            t0 = now()
            with tracer.span(f"{mod}.build"):
                df = fn(spark, sf_dir)
            t1 = now()
            with tracer.span(f"{mod}.exec"):
                df.write.format("noop").mode("overwrite").save()
            return df, t1 - t0, now() - t1
    finally:
        patches.on = False


def _pass(spark, queries, order, sf_dir, expected, tally, patches=None) -> dict:
    """One pass over ``order``; each untraced execution is checked. With
    ``patches`` every query also runs traced, untraced and traced
    alternating which goes first so that neither side is always the warmer
    one."""
    from weather_database_system_spark.session import release_persisted

    out = {"untraced": {}, "traced": {}, "released": 0, "check_s": 0.0}
    for i, name in enumerate(order):
        fn = queries[name]
        mod = fn.__module__.removeprefix(PKG)
        sides = [None] if patches is None else ([None, patches] if i % 2 == 0 else [patches, None])
        for tr in sides:
            key = "untraced" if tr is None else "traced"
            try:
                df, build_s, exec_s = _execute(spark, fn, name, mod, sf_dir, tr)
                if tr is None:
                    c0 = now()
                    try:
                        ok, why = checks.lake_check(df.toPandas(), expected[name])
                    except Exception as exc:  # noqa: BLE001
                        ok, why = False, f"check raised {type(exc).__name__}: {exc}"
                    tally.record(ok, f"{name}: {why}"[:300])
                    out["check_s"] += now() - c0
                out[key][name] = {"module": mod, "build_s": build_s, "exec_s": exec_s}
            except Exception as exc:  # noqa: BLE001 — a failing query is a data point
                tally.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
            released = release_persisted()
            if tr is not None:
                out["released"] += released
    return out


def _layer_metrics(tracer, sc, session_start_s: float, released: int) -> dict:
    from perfbench.trace import SpanIndex, shuffle_bytes_by_job

    ix = SpanIndex(tracer.spans)
    shuffle = shuffle_bytes_by_job(sc)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "session.persisted_released": (float(released), "count"),
        "sources.star.load_table_s": (ix.total_s("sources.star.load_table"), "s"),
        "sources.star.load_table_jobs": (ix.jobs("sources.star.load_table"), "count"),
    }
    for mod in MODULES:
        jobs = set()
        for phase in ("build", "exec"):
            name = f"{mod}.{phase}"
            m[f"{name}_s"] = (ix.total_s(name), "s")
            m[f"{name}_jobs"] = (ix.jobs(name), "count")
            jobs.update(j for s in ix.named(name) for j in ix.incl[s["id"]])
        m[f"{mod}.shuffle_bytes"] = (float(sum(shuffle.get(j, 0) for j in jobs)), "bytes")
    return m


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    import bench

    from perfbench.trace import Patches, Tracer

    sf_dir = bench.SF_DIR
    missing = [q for q in LAKE_QUERIES if q not in bench.HEADLINE]
    if missing:
        raise RuntimeError(f"not in bench.HEADLINE: {missing}")
    g0 = now()
    order = list(OPENERS) + gen.query_order(seed, [q for q in LAKE_QUERIES if q not in OPENERS])
    gen_s = now() - g0

    s0 = now()
    spark = start_spark("perfbench-lake", ui=trace)
    session_start_s = now() - s0
    result: dict = {}
    try:
        queries, oracle = _registry()
        _warm_up(spark, queries, sf_dir)
        setup_s = now() - t_start - gen_s
        expected = oracle_expectations(order, oracle, sf_dir)

        tally = Tally()
        patches = None
        if trace:
            patches = Patches(Tracer(spark.sparkContext))
            _patch_load_table(patches)
        try:
            p = _pass(spark, queries, order, sf_dir, expected, tally, patches)
        finally:
            if patches is not None:
                patches.undo()
        result |= {"setup_s": setup_s, "gen_s": gen_s, "tally": tally, **p}
        if trace:
            tracer = patches.tracer
            result["layers"] = _layer_metrics(
                tracer, spark.sparkContext, session_start_s, p["released"]
            )
            tracer.dump(os.path.join(WORK, "spans_lake_queries.jsonl"))
    finally:
        t_stop = now()
        stop_spark(spark)
        result["stop_s"] = now() - t_stop
    return result


def ops_ms(p: dict) -> list[float]:
    return [(q["build_s"] + q["exec_s"]) * 1000.0 for q in p.values()]


def summarize(res: dict) -> tuple[dict, dict]:
    """(end-to-end metrics of the untraced pass, detail dict)."""
    ops = ops_ms(res["untraced"])
    e2e = op_metrics(res["setup_s"], ops)
    q = res["untraced"]
    detail = {
        "lake_total_s": sum(ops) / 1000.0,
        "lake_geomean_s": e2e["op_geomean_ms"] / 1000.0,
        "build_s": sum(v["build_s"] for v in q.values()),
        "exec_s": sum(v["exec_s"] for v in q.values()),
        "queries": len(q),
        "per_query_s": {k: round(v["build_s"] + v["exec_s"], 4) for k, v in q.items()},
    }
    return e2e, detail
