#!/usr/bin/env python
"""Capture .explain("formatted") for registry queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]
       (no query args = the full 55-query bench HEADLINE set)

Writes plans/<tag>/<query>_<suffix>.txt ("before"/"after" via
WDSS_PLAN_SUFFIX, default "before"). Also emits a one-line summary per
query: #Exchange, join strategies, BatchEvalPython/ArrowEvalPython nodes,
so plan regressions can be diffed at a glance.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SUFFIX = os.environ.get("WDSS_PLAN_SUFFIX", "before")


def main() -> None:
    import bench
    from weather_database_system_spark.session import (
        get_spark,
        release_persisted,
    )

    tag = sys.argv[1] if len(sys.argv) > 1 else "r18"
    names = sys.argv[2:] or list(bench.HEADLINE)

    spark = get_spark(
        app_name="wdss-plans",
        cpus=bench.CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = bench.production_queries()

    here = os.path.dirname(os.path.abspath(__file__))
    outdir = os.path.join(here, "..", "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        fn = queries[name]
        try:
            df = fn(spark, bench.SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # iterative ops may need their build first
            plan = f"EXPLAIN FAILED: {exc}"
        finally:
            release_persisted()
        path = os.path.join(outdir, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(
            set(
                re.findall(
                    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                    plan,
                )
            )
        )
        py = sorted(
            set(
                re.findall(
                    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                    r"MapInArrow|FlatMapGroupsInPandas)\b",
                    plan,
                )
            )
        )
        print(
            f"{name}: Exchange={n_ex} joins={','.join(joins) or '-'} "
            f"python={','.join(py) or '-'}",
            flush=True,
        )


if __name__ == "__main__":
    main()
