"""Output checks. All of them run outside the timed regions; every failed
check counts as a failed operation.

- ``lake_queries``: the query's rows against the DuckDB oracle SQL from
  ``__spark_entry__.oracle_sql()``, both canonicalized with
  ``tests/oracle.py``; a non-empty row count where no oracle applies.
- ``pipeline_load`` and ``serve_mixed``: ``monthly_agg`` rows against a
  pure-Python aggregate of the generated payloads.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from decimal import Decimal

REL_TOL = 1e-9


# --- lake_queries -------------------------------------------------------------

def expected_from(pdf) -> dict:
    """The oracle-side record a query result is checked against: sorted
    column names, row count and a digest of the canonical rows."""
    from tests.oracle import canonicalize

    rows = canonicalize(pdf)
    digest = hashlib.sha256(json.dumps(rows).encode("utf-8")).hexdigest()
    return {"columns": sorted(pdf.columns), "rows": len(pdf), "digest": digest}


def lake_check(pdf, expected: dict | None) -> tuple[bool, str]:
    """Check one query result. ``expected`` is the oracle record from
    ``expected_from``, or None when no oracle applies to the function
    (then the result only has to be non-empty)."""
    if expected is None:
        return (len(pdf) > 0, "" if len(pdf) > 0 else "empty result")
    got = expected_from(pdf)
    if got["columns"] != expected["columns"]:
        return False, f"columns {got['columns']} != {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return False, f"rows {got['rows']} != {expected['rows']}"
    if got["digest"] != expected["digest"]:
        return False, "values differ from the oracle"
    return True, ""


# --- monthly aggregate replay ----------------------------------------------------

def _dec(v: float) -> Decimal:
    # Spark casts a double to decimal through its shortest repr.
    return Decimal(repr(float(v)))


def expected_monthly(payloads: dict[str, list[dict]]) -> dict[tuple[str, str], dict]:
    """Replay ``monthly_agg`` from the generated payloads: per (city,
    month) the exact decimal temperature mean over non-null hours, the
    rain total with nulls filled by 0 (the ingest fill policy) and the
    hour count. Keys are (city, 'yyyy-MM-01')."""
    acc: dict[tuple[str, str], list] = {}
    for city, plist in payloads.items():
        for p in plist:
            h = p["hourly"]
            for i, ts in enumerate(h["time"]):
                key = (city, ts[:7] + "-01")
                a = acc.setdefault(key, [Decimal(0), 0, Decimal(0), 0])
                t = h["temperature_2m"][i]
                if t is not None:
                    a[0] += _dec(t)
                    a[1] += 1
                r = h["precipitation"][i]
                if r is not None:
                    a[2] += _dec(r)
                a[3] += 1
    return {
        k: {
            "city": k[0],
            "month": k[1],
            "avg_temp_c": float(a[0]) / a[1] if a[1] else None,
            "total_rain_mm": float(a[2]),
            "rows_loaded": a[3],
        }
        for k, a in acc.items()
    }


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= REL_TOL * max(1.0, abs(float(b)))


def rows_match(got: list[dict], want: list[dict], fields=("avg_temp_c", "total_rain_mm")) -> tuple[bool, str]:
    """Compare monthly rows of one city (or many) keyed by (city, month):
    same keys, float fields within REL_TOL, every other listed key equal."""
    g = {(r["city"], r["month"]): r for r in got}
    w = {(r["city"], r["month"]): r for r in want}
    if len(g) != len(got):
        return False, "duplicate (city, month) rows"
    if g.keys() != w.keys():
        missing = sorted(w.keys() - g.keys())[:3]
        extra = sorted(g.keys() - w.keys())[:3]
        return False, f"keys differ: missing {missing} extra {extra}"
    for k, wr in w.items():
        gr = g[k]
        for f in fields:
            if not _close(gr.get(f), wr.get(f)):
                return False, f"{k} {f}: {gr.get(f)} != {wr.get(f)}"
        for f in ("rows_loaded", "warehouse_load_time"):
            if f in wr and f in gr and gr[f] != wr[f]:
                return False, f"{k} {f}: {gr[f]} != {wr[f]}"
    return True, ""


def load_time_str(t: dt.datetime) -> str:
    return t.isoformat(sep=" ", timespec="seconds")


# --- serve_mixed ------------------------------------------------------------------

def check_envelope(status: int, body: bytes | None, state: str, want: list[dict]) -> tuple[bool, str, str]:
    """Check one ``GET /api/monthly`` response for a city whose snapshot
    was ``state`` ('fresh', 'expired', 'missing') when it was sent.
    Returns (ok, reason, outcome) where outcome is the envelope's
    cache_status ('hit', 'miss', 'expired'), 'error' for an error envelope,
    or 'invalid' when there is no envelope."""
    if status != 200:
        return False, f"HTTP {status}", "invalid"
    try:
        env = json.loads(body)
    except (TypeError, ValueError):
        return False, "body is not JSON", "invalid"
    if "error" in env:
        return False, f"error envelope: {env.get('error')}", "error"
    outcome = env.get("cache_status", "?")
    want_outcome = {"fresh": "hit", "expired": "expired", "missing": "miss"}[state]
    if state != "fresh" and outcome != want_outcome:
        return False, f"cache_status {outcome} for a {state} snapshot", outcome
    data = env.get("data")
    if not isinstance(data, list) or env.get("count") != len(want):
        return False, f"count {env.get('count')} != {len(want)}", outcome
    months = [r.get("month") for r in data]
    if months != sorted(months):
        return False, "rows not ordered by month", outcome
    ok, why = rows_match(data, want)
    return ok, why, outcome


def check_sync(status: int, body: bytes | None, n_months: int) -> tuple[bool, str]:
    if status != 200:
        return False, f"HTTP {status}"
    try:
        env = json.loads(body)
    except (TypeError, ValueError):
        return False, "body is not JSON"
    if not env.get("success") or env.get("rows_cached") != n_months:
        return False, f"sync envelope {env}"
    return True, ""
