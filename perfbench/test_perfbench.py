"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen, serve  # noqa: E402
from perfbench.common import Tally, op_metrics, quantile, tail_level  # noqa: E402
from perfbench.trace import Tracer, inclusive_jobs, self_times  # noqa: E402


# --- generators are deterministic per seed ------------------------------------

def test_payloads_and_shards_are_deterministic_per_seed(tmp_path):
    c1, c2 = gen.cities(7, 3), gen.cities(7, 3)
    assert c1 == c2 and gen.cities(8, 3) != c1
    assert gen.payload(7, c1[0], "2024-01-01", 3) == gen.payload(7, c2[0], "2024-01-01", 3)
    assert gen.payload(7, c1[0], "2024-01-01", 3) != gen.payload(8, c1[0], "2024-01-01", 3)

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_shards(str(a), 7, c1[0], "2024-01-01", 40, 30)
    gen.write_shards(str(b), 7, c1[0], "2024-01-01", 40, 30)
    names = sorted(os.listdir(a))
    lat, lon = c1[0]["latitude"], c1[0]["longitude"]
    assert names == [
        f"{lat}_{lon}_2024-01-01_2024-01-30.json",
        f"{lat}_{lon}_2024-01-31_2024-02-09.json",
    ]
    for n in names:
        assert (a / n).read_bytes() == (b / n).read_bytes()
    hours = sum(len(json.loads((a / n).read_text())["hourly"]["time"]) for n in names)
    assert hours == 40 * 24


def test_payload_null_rate_is_about_two_percent():
    p = gen.payload(3, gen.cities(3, 1)[0], "2024-01-01", 60)
    vals = [v for k in gen.HOURLY_VARS for v in p["hourly"][k]]
    frac = sum(v is None for v in vals) / len(vals)
    assert 0.01 < frac < 0.03


def test_query_order_mix_and_schedule_are_deterministic_per_seed():
    names = [f"q{i}" for i in range(20)]
    assert gen.query_order(5, names) == gen.query_order(5, names)
    assert gen.query_order(5, names) != gen.query_order(6, names)
    assert sorted(gen.query_order(5, names)) == sorted(names)

    cities = [f"City{i:02d}" for i in range(16)]
    m1, m2 = gen.city_mix(5, cities, 1.0, 2, 2), gen.city_mix(5, cities, 1.0, 2, 2)
    assert m1 == m2 and gen.city_mix(6, cities, 1.0, 2, 2)["ranked"] != m1["ranked"]
    assert sorted(m1["state"].values()).count("fresh") == 12
    s1 = gen.schedule(5, m1, 40.0, 10.0, 1.0)
    assert s1 == gen.schedule(5, m1, 40.0, 10.0, 1.0)
    assert s1 != gen.schedule(6, m1, 40.0, 10.0, 1.0)
    gets = [e for e in s1 if e["kind"] == "get"]
    syncs = [e for e in s1 if e["kind"] == "sync"]
    assert len(gets) == 400 and len(syncs) == 9
    assert all(m1["state"][e["city"]] == "fresh" for e in syncs)
    assert all(0 <= e["due"] <= 10.0 for e in s1)
    # the fallback share is fixed by rank, whatever the seed
    share = [
        sum(m["state"][e["city"]] != "fresh" for e in gen.schedule(s, m, 40.0, 10.0, 1.0) if e["kind"] == "get")
        for s, m in ((5, m1), (6, gen.city_mix(6, cities, 1.0, 2, 2)))
    ]
    assert share[0] == share[1]


# --- the percentile rule -------------------------------------------------------------

@pytest.mark.parametrize("n,level", [(1000, 0.99), (100, 0.9), (40, 0.75), (20, 0.5), (5, 0.5)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, level):
    assert tail_level(n) == pytest.approx(level)
    xs = list(range(n))
    if n >= 20:
        assert sum(x > quantile(xs, tail_level(n)) for x in xs) >= 10


def test_op_metrics():
    m = op_metrics(2.5, [10.0, 1000.0, 100.0])
    assert m["setup_s"] == 2.5
    assert m["work_s"] == pytest.approx(1.11)
    assert m["op_p50_ms"] == 100.0
    assert m["op_geomean_ms"] == pytest.approx(100.0)


# --- self time ---------------------------------------------------------------------

def _span(i, parent, a, b, jobs=()):
    return {"id": i, "parent": parent, "start": a, "end": b, "jobs": list(jobs), "name": f"s{i}"}


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        _span(1, None, 0.0, 10.0, [1]),
        _span(2, 1, 1.0, 3.0, [2, 3]),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: counted once
        _span(4, 1, 8.0, 12.0),  # runs past the parent: clipped at 10
        _span(5, 2, 1.5, 2.5, [4]),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    incl = inclusive_jobs(spans)
    assert sorted(incl[1]) == [1, 2, 3, 4] and sorted(incl[2]) == [2, 3, 4]


def test_self_time_leaves_out_the_childs_tracing_bookkeeping():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 3.0) | {"outer_start": 1.5, "outer_end": 4.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 2.5)
    assert st[2] == pytest.approx(1.0)


class _FakeSc:
    """Records the job-group calls a span makes."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):  # noqa: N802 — SparkContext API
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):  # noqa: N802
        self.calls.append(("prop", key, value))

    def statusTracker(self):  # noqa: N802
        return self

    def getJobIdsForGroup(self, group):  # noqa: N802
        self.calls.append(("read", group))
        return []


def test_spans_without_jobs_make_no_spark_calls_and_restore_the_enclosing_group():
    sc = _FakeSc()
    tracer = Tracer(sc)
    with tracer.span("outer") as a:
        with tracer.span("request", jobs=False) as b:
            with tracer.span("inner") as c:
                pass
            with tracer.span("snapshot", jobs=False):
                pass
    assert b["group"] is None and b["jobs"] == []
    assert sc.calls == [
        ("group", a["group"]),
        ("group", c["group"]),
        ("read", c["group"]),
        ("group", a["group"]),  # back to the nearest span that has a group
        ("read", a["group"]),
        ("prop", "spark.jobGroup.id", None),
        ("prop", "spark.job.description", None),
    ]
    for s in tracer.spans:
        assert s["outer_start"] <= s["start"] <= s["end"] <= s["outer_end"]
    assert c["parent"] == b["id"] and b["parent"] == a["id"]


# --- the open-loop backlog -------------------------------------------------------------

def test_backlog_tells_a_growing_queue_from_a_steady_one():
    steady = [{"due": i * 0.1, "latency_ms": 50.0} for i in range(30)]
    b = serve.backlog(steady)
    assert b["inflight_first"] == b["inflight_last"] == 1
    assert b["drain_ms"] == pytest.approx(50.0)
    # each request waits 60 ms longer than the one before: service is
    # slower than arrivals
    growing = [{"due": i * 0.1, "latency_ms": 50.0 + 60.0 * i} for i in range(30)]
    g = serve.backlog(growing)
    assert g["inflight_last"] > 3 * g["inflight_first"]
    assert g["drain_ms"] == pytest.approx(50.0 + 60.0 * 29)


# --- failure counting ------------------------------------------------------------------

WANT = [
    {"city": "A", "month": "2024-01-01", "avg_temp_c": 1.5, "total_rain_mm": 2.0,
     "warehouse_load_time": "2025-01-02 00:00:00"},
    {"city": "A", "month": "2024-02-01", "avg_temp_c": 3.0, "total_rain_mm": 0.0,
     "warehouse_load_time": "2025-01-02 00:00:00"},
]


def _body(status="hit", data=WANT, **extra):
    return json.dumps({"data": data, "cache_status": status, "count": len(data), **extra}).encode()


def test_envelope_checks_count_every_failure_kind():
    t = Tally()
    cases = [
        (200, _body(), "fresh", True),
        (200, _body("miss"), "fresh", True),  # torn read: served by the fallback, rows right
        (200, _body("expired"), "expired", True),
        (200, _body("hit"), "missing", False),  # wrong cache outcome
        (503, _body(), "fresh", False),  # non-2xx
        (200, _body(error="warehouse table missing"), "fresh", False),  # 200 + error envelope
        (200, b"not json", "fresh", False),
        (200, _body(data=[WANT[0] | {"avg_temp_c": 1.6}, WANT[1]]), "fresh", False),  # wrong value
        (200, _body(data=WANT[:1]), "fresh", False),  # missing row
        (200, _body(data=WANT[::-1]), "fresh", False),  # not ordered by month
    ]
    for status, body, state, ok in cases:
        got, why, _ = checks.check_envelope(status, body, state, WANT)
        assert got is ok, (status, body, state, why)
        t.record(got, why)
    assert (t.attempted, t.failed) == (10, 7)
    assert t.failed_frac == pytest.approx(0.7)


def test_monthly_replay_matches_a_hand_aggregate():
    p = {"hourly": {
        "time": ["2024-01-31T23:00", "2024-01-31T22:00", "2024-02-01T00:00"],
        "temperature_2m": [1.1, None, 2.0],
        "precipitation": [None, 0.3, 0.2],
    }}
    want = checks.expected_monthly({"A": [p]})
    jan, feb = want[("A", "2024-01-01")], want[("A", "2024-02-01")]
    assert jan["avg_temp_c"] == pytest.approx(1.1) and jan["total_rain_mm"] == pytest.approx(0.3)
    assert jan["rows_loaded"] == 2 and feb["rows_loaded"] == 1


# --- the lake check ----------------------------------------------------------------------

def test_lake_check_rejects_an_injected_wrong_row():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    expected = checks.expected_from(df)
    shuffled = df.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert checks.lake_check(shuffled, expected) == (True, "")

    wrong = df.copy()
    wrong.loc[1, "v"] = 1.26
    assert checks.lake_check(wrong, expected)[0] is False
    extra = pd.concat([df, df.iloc[[0]]])
    assert checks.lake_check(extra, expected)[0] is False
    assert checks.lake_check(df.drop(columns=["s"]), expected)[0] is False
    assert checks.lake_check(df.iloc[:0], None)[0] is False
    assert checks.lake_check(df, None) == (True, "")
