"""Span recorder for the traced run.

The benchmark wraps calls into the program's public functions; each call
becomes a span (name, start, end, parent, request id). Spans live in memory
and are written out when the run ends. A span that can start Spark jobs
also sets a Spark job group on the calling thread for its duration and
reads the group's job ids back through ``statusTracker()``, so it knows the
Spark jobs it issued itself (jobs of nested spans belong to the nested
span's group). Spans that cannot start jobs (``jobs=False``) skip those
gateway calls. Each span also records its outer interval, bookkeeping
included, and a parent's self time leaves out its children's outer
intervals, so the tracer's own cost is not charged to the parent. Shuffle
bytes per job come from the Spark UI REST API, read once after the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.parse
import urllib.request

from perfbench.common import median


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, request: str | None = None, jobs: bool = True, **attrs):
        return _Span(self, name, request, jobs, attrs)

    def wrap(self, name: str, fn, tag=None, request=None, jobs=True):
        """``fn`` wrapped in a span named ``name``. ``tag(result)``, if
        given, returns extra attributes recorded on the span;
        ``request(*args)`` the span's request id; ``jobs=False`` for a
        function that starts no Spark jobs."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, request(*args) if request else None, jobs) as sp:
                out = fn(*args, **kwargs)
                if tag is not None:
                    sp["attrs"].update(tag(out))
                return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Patches:
    """Replaces program functions (module or class attributes) with
    versions that record a span per call while ``on`` is set; ``undo()``
    puts the originals back."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.on = False
        self.saved: list[tuple] = []

    def patch(self, owner, attr: str, name: str, tag=None, request=None, jobs=True) -> None:
        orig = getattr(owner, attr)
        traced = self.tracer.wrap(name, orig, tag, request, jobs)

        @functools.wraps(orig)
        def call(*args, **kwargs):
            return (traced if self.on else orig)(*args, **kwargs)

        self.saved.append((owner, attr, orig))
        setattr(owner, attr, call)

    def undo(self) -> None:
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        self.saved = []


class _Span:
    def __init__(self, tracer: Tracer, name: str, request, jobs: bool, attrs) -> None:
        self.t = tracer
        sid = next(tracer._ids)
        self.rec = {
            "id": sid,
            "name": name,
            "group": f"perfbench-{sid}" if jobs else None,
            "start": 0.0,
            "end": 0.0,
            "outer_start": 0.0,
            "outer_end": 0.0,
            "parent": None,
            "request": request,
            "jobs": [],
            "attrs": dict(attrs),
        }

    def __enter__(self) -> dict:
        rec = self.rec
        rec["outer_start"] = time.perf_counter()
        stack = self.t._stack()
        if stack:
            rec["parent"] = stack[-1]["id"]
            if rec["request"] is None:
                rec["request"] = stack[-1]["request"]
        stack.append(rec)
        if rec["group"] is not None:
            self.t.sc.setJobGroup(rec["group"], rec["name"])
        rec["start"] = time.perf_counter()
        return rec

    def __exit__(self, *exc) -> None:
        rec = self.rec
        rec["end"] = time.perf_counter()
        stack = self.t._stack()
        stack.pop()
        if rec["group"] is not None:
            sc = self.t.sc
            rec["jobs"] = sorted(sc.statusTracker().getJobIdsForGroup(rec["group"]))
            # hand the thread back to the innermost enclosing job group
            outer = next((s for s in reversed(stack) if s["group"] is not None), None)
            if outer is not None:
                sc.setJobGroup(outer["group"], outer["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        rec["outer_end"] = time.perf_counter()
        with self.t._lock:
            self.t.spans.append(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover, each child with its tracing
    bookkeeping (``outer_start``/``outer_end`` when recorded). Overlapping
    children count once; parts of a child outside the parent do not
    count."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(
                (s.get("outer_start", s["start"]), s.get("outer_end", s["end"]))
            )
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def inclusive_jobs(spans: list[dict]) -> dict[int, list[int]]:
    """Job ids of every span including those of its descendants."""
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: list(s["jobs"]) for s in spans}
    for s in spans:
        p = s["parent"]
        while p is not None and p in by_id:
            out[p].extend(s["jobs"])
            p = by_id[p]["parent"]
    return out


class SpanIndex:
    """Per-name aggregates over recorded spans; job counts include the jobs
    of nested spans."""

    def __init__(self, spans: list[dict]) -> None:
        self.incl = inclusive_jobs(spans)
        self.by_name: dict[str, list[dict]] = {}
        for s in spans:
            self.by_name.setdefault(s["name"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return self.by_name.get(name, [])

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def median_ms(self, name: str) -> float:
        return median([(s["end"] - s["start"]) * 1000.0 for s in self.named(name)])

    def jobs(self, name: str) -> float:
        return float(sum(len(self.incl[s["id"]]) for s in self.named(name)))

    def jobs_per_call(self, name: str) -> float:
        n = len(self.named(name))
        return self.jobs(name) / n if n else 0.0


def shuffle_bytes_by_job(sc) -> dict[int, int]:
    """Shuffle write bytes of every job the application ran, from the Spark
    UI REST API (requires the UI; returns {} without it)."""
    url = sc.uiWebUrl
    if not url:
        return {}
    port = urllib.parse.urlsplit(url).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as resp:
            return json.loads(resp.read().decode("utf-8"))

    stage_bytes = {}
    for st in get("stages?status=complete"):
        stage_bytes[st["stageId"]] = stage_bytes.get(st["stageId"], 0) + int(
            st.get("shuffleWriteBytes") or 0
        )
    return {
        j["jobId"]: sum(stage_bytes.get(s, 0) for s in j.get("stageIds", []))
        for j in get("jobs")
    }
