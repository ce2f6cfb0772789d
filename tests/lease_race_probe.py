"""Cross-process append-vs-compaction race probe (r16, the end-to-end
form of VERDICT r15 task #4's done-criterion).

Two REAL Spark processes hammer one manifest-managed BM25 slot
concurrently — an APPENDER ingesting batches of new documents and a
COMPACTOR running row-preserving compactions in a loop. The per-slot
writer lease must serialize every append against every compaction's
read-then-promote window, so at the end the live generation contains
EVERY appended document: without the lease, an append landing between a
compactor's scan and its promote would be left behind in the superseded
generation and silently vanish from the live view.

Run by tests/test_extensions.py::test_lease_race_across_processes; each
role needs its own JVM (the race is only real across processes).

Usage: python tests/lease_race_probe.py <slot> <role> <n_ops> <id_base>
  role = appender | compactor
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    slot, role, n_ops, id_base = (
        sys.argv[1],
        sys.argv[2],
        int(sys.argv[3]),
        int(sys.argv[4]),
    )
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from weather_database_system_spark.indexstore import append, compact
    from weather_database_system_spark.operators.textan import BM25

    if role == "appender":
        for i in range(n_ops):
            batch = spark.createDataFrame(
                [
                    (id_base + i * 10 + j, f"hash join stream batch {i} doc {j}")
                    for j in range(10)
                ],
                "doc_id long, text string",
            )
            append(BM25, batch, slot)  # slot path: re-resolves live
    elif role == "compactor":
        for _ in range(n_ops):
            compact(BM25, spark, slot)
            time.sleep(0.2)
    else:
        raise SystemExit(f"unknown role {role!r}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
