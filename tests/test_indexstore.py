"""The stored-index lifecycle as one mechanism: every family is an
IndexSpec, and the generic build / append / compact run each of them the
same way. Also pins that a snapshot read never touches the writer lease."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from tests.conftest import SF_SMOKE
from weather_database_system_spark.indexstore import (
    INDEX_FENCE,
    INDEX_MANIFEST,
    append,
    build,
    claim_new_generation,
    compact,
    ensure_index,
    ensure_snapshot_state,
    promote_generation,
    read_index_marker,
    slot_live,
    slot_writer_lease,
    write_index_marker,
)
from weather_database_system_spark.operators.dedup import DEDUP
from weather_database_system_spark.operators.similarity import (
    IVF,
    IVFPQ,
    IVFPQ_RES,
    PQ,
)
from weather_database_system_spark.operators.textan import BM25, TRIGRAM
from weather_database_system_spark.operators.trainprep import CONTAMINATION

SPECS = [DEDUP, BM25, TRIGRAM, CONTAMINATION, IVF, PQ, IVFPQ, IVFPQ_RES]


def _rows(spark, gen: str, table: str) -> list[tuple]:
    path = f"{gen}/{table}" if table else gen
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("spec", SPECS, ids=[s.kind for s in SPECS])
def test_generic_lifecycle_build_append_compact(spark, tmp_path, spec):
    """Each spec through the one generic lifecycle on a manifest-managed
    slot: build the base rows (training on them), append a batch, then
    compact. Compaction must keep every rows table's multiset of rows,
    copy the trained-state dirs byte for byte, and carry the live
    marker's base meta and append count over to the new generation."""
    rows = spec.rows(spark, SF_SMOKE)
    key = "vec_id" if spec.source == "embeddings" else "doc_id"
    batch = spec.batch or f"pmod({key}, 3) = 1"
    meta = {"kind": spec.kind, "test": "generic-lifecycle"}
    slot = str(tmp_path / spec.kind)

    built = ensure_index(
        slot, meta, lambda gen: build(spec, rows.filter(f"NOT ({batch})"), gen)
    )
    n_base = {t.name: len(_rows(spark, built, t.name)) for t in spec.tables}
    append(spec, rows.filter(batch), slot)
    live = slot_live(slot)
    assert live == built and read_index_marker(live) == (meta, 1)
    tables = {t.name: _rows(spark, live, t.name) for t in spec.tables}
    assert all(len(tables[n]) > n_base[n] > 0 for n in tables)  # append landed
    state = {d.name: _tree_bytes(f"{live}/{d.name}") for d in spec.state}

    new = compact(spec, spark, slot)
    assert new != live and slot_live(slot) == new
    for name, before in tables.items():
        assert _rows(spark, new, name) == before, name
    for name, before in state.items():
        assert _tree_bytes(f"{new}/{name}") == before, name
    assert read_index_marker(new) == (meta, 1)


def test_snapshot_read_never_waits_on_the_writer_lease(tmp_path, monkeypatch):
    """The serving-side snapshot read (require=True) of a slot with a
    current snapshot is a pure read: while another thread holds the
    slot's writer lease (an in-flight append or compaction) it returns
    the snapshot at once, and it neither draws a fence nor writes lease
    state — the fence file is byte-unchanged."""
    slot = str(tmp_path / "slot")
    meta = {"kind": "t", "algo": 1}
    g1 = os.path.join(slot, "gen-0001")
    os.makedirs(g1)
    write_index_marker(g1, meta)
    with open(os.path.join(slot, INDEX_MANIFEST), "w", encoding="utf-8") as fh:
        json.dump({"generation": "gen-0001"}, fh)
    g2 = claim_new_generation(slot)
    write_index_marker(g2, meta)
    promote_generation(slot, g2)  # g1 is retained: the current snapshot

    monkeypatch.setenv("WDSS_LEASE_WAIT_S", "1")
    held, release = threading.Event(), threading.Event()

    def holder() -> None:
        with slot_writer_lease(slot, "in-flight-append"):
            held.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert held.wait(10)
        with open(os.path.join(slot, INDEX_FENCE), "rb") as fh:
            fence_before = fh.read()
        t0 = time.monotonic()
        snap = ensure_snapshot_state(
            slot, lambda s: pytest.fail("a snapshot hit must not compact"),
            require=True,
        )
        elapsed = time.monotonic() - t0
        with open(os.path.join(slot, INDEX_FENCE), "rb") as fh:
            fence_after = fh.read()
    finally:
        release.set()
        t.join(10)
    assert snap == g1
    assert elapsed < 1.0
    assert fence_after == fence_before
