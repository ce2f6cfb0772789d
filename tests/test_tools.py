"""The one tool harness: bench.py owns the production-twin registry every
timing tool runs, and tools/verify_replay.py is the one oracle-replay
tool."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
import bench
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TWINS = ("dedup_minhash_lsh_fast", "dedup_clusters_fast", "ann_product_quantization")


def test_production_queries_swap_exactly_the_three_checked_surfaces():
    """The registry's keys, with the three *_checked surfaces replaced by
    their raw production functions and every other entry untouched; every
    name bench.py times is a key."""
    from weather_database_system_spark.operators import dedup, similarity

    registry = em.queries()
    prod = bench.production_queries()
    assert set(prod) == set(registry)
    assert prod["dedup_minhash_lsh_fast"] is dedup.dedup_minhash_lsh_fast
    assert prod["dedup_clusters_fast"] is dedup.dedup_clusters_fast
    assert prod["ann_product_quantization"] is similarity.ann_product_quantization
    for name in TWINS:
        assert prod[name] is not registry[name], name
    assert {n: prod[n] for n in prod if n not in TWINS} == {
        n: registry[n] for n in registry if n not in TWINS
    }
    assert set(bench.HEADLINE) <= set(prod)
    assert set(bench.QUICK) <= set(prod)


def test_verify_replay_reports_ok_and_fails_unknown_names():
    """One replay run in its own process (the tool's vanilla session would
    otherwise reconfigure the shared test session): both real names pass
    the oracle compare, the unknown name is a failure, and the exit code
    says so."""
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "verify_replay.py"),
            "--sf",
            SF_SMOKE,
            "pricing_summary",
            "topk_global",
            "no_such_query",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert res.returncode == 1, res.stdout + res.stderr
    lines = res.stdout.splitlines()
    assert any(line.startswith("pricing_summary: OK (") for line in lines), res.stdout
    assert any(line.startswith("topk_global: OK (") for line in lines), res.stdout
    assert any(line.startswith("no_such_query: ERROR") for line in lines), res.stdout
    assert lines[-1] == "FAILURES: ['no_such_query']", res.stdout


def test_scale_rehearsal_refuses_names_without_a_slice(tmp_path):
    """--queries names in neither HEAVY nor FACT_QUERIES have no slice
    table to run on: the tool names them and exits 2 before generating
    any data (no m1 slice) or starting Spark."""
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "scale_rehearsal.py"),
            "--queries",
            "dedup_clusters_fast,topk_global",
            "--scratch",
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )
    assert res.returncode == 2, res.stdout + res.stderr
    assert "topk_global" in res.stderr
    assert "dedup_clusters_fast" not in res.stderr
    assert not (tmp_path / "m1").exists()


def test_package_imports_in_tools_and_tests_resolve():
    """Every ``from weather_database_system_spark[.<mod>] import name`` in
    tools/*.py and tests/*.py — including the imports inside function
    bodies, which most tools only run from main() — names something that
    exists on its module (an attribute or a submodule), so a moved or
    deleted name fails here instead of when someone next runs the tool."""
    import ast
    import glob
    import importlib

    missing = []
    paths = sorted(
        glob.glob(os.path.join(REPO, "tools", "*.py"))
        + glob.glob(os.path.join(REPO, "tests", "*.py"))
    )
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.split(".")[0] == "weather_database_system_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    rel = os.path.relpath(path, REPO)
                    missing.append(f"{rel}:{node.lineno} {node.module}.{alias.name}")
    assert not missing, missing
