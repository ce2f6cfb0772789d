"""Open-loop HTTP load generator: one process, one asyncio thread.

Requests are sent on a fixed schedule whether or not earlier ones have
completed. Each request's latency is measured from when it was due, so a
stall also charges the requests queued behind it; how late the generator
itself sent each request is recorded separately.
"""

from __future__ import annotations

import asyncio
import time
from urllib.parse import quote

TIMEOUT_S = 20.0


async def _request(port: int, method: str, path: str, rid: str) -> tuple[int, bytes]:
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    try:
        writer.write(
            (
                f"{method} {path} HTTP/1.1\r\nHost: 127.0.0.1\r\nX-Request-Id: {rid}\r\n"
                "Content-Length: 0\r\nConnection: close\r\n\r\n"
            ).encode("ascii")
        )
        await writer.drain()
        raw = await reader.read()
    finally:
        writer.close()
        try:
            await writer.wait_closed()
        except OSError:
            pass
    head, _, body = raw.partition(b"\r\n\r\n")
    status = int(head.split(b" ", 2)[1]) if head.startswith(b"HTTP/") else 0
    return status, body


async def _one(port: int, t0: float, i: int, e: dict, out: list) -> None:
    sent = time.perf_counter()
    if e["kind"] == "sync":
        method, path = "POST", f"/api/sync-now?city={quote(e['city'])}"
    else:
        method, path = "GET", f"/api/monthly?city={quote(e['city'])}"
    try:
        status, body = await asyncio.wait_for(_request(port, method, path, f"r{i}"), TIMEOUT_S)
        err = ""
    except (OSError, asyncio.TimeoutError, ValueError, IndexError) as exc:
        status, body, err = 0, None, f"{type(exc).__name__}: {exc}"
    done = time.perf_counter()
    due = t0 + e["due"]
    out[i] = {
        **e,
        "latency_ms": (done - due) * 1000.0,
        "late_ms": (sent - due) * 1000.0,
        "status": status,
        "body": body,
        "error": err,
    }


async def _run(port: int, sched: list[dict]) -> list[dict]:
    out: list = [None] * len(sched)
    tasks = []
    t0 = time.perf_counter() + 0.05
    for i, e in enumerate(sched):
        delay = t0 + e["due"] - time.perf_counter()
        if delay > 0:
            await asyncio.sleep(delay)
        tasks.append(asyncio.create_task(_one(port, t0, i, e, out)))
    for t in tasks:
        await t
    return out


def run(port: int, sched: list[dict]) -> list[dict]:
    """Play ``sched`` (entries with ``due`` offsets in seconds, ``kind``
    'get' or 'sync', ``city``) against 127.0.0.1:``port``; one result per
    entry with latency_ms, late_ms, status and body."""
    return asyncio.run(_run(port, sched))
