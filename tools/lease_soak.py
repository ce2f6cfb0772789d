#!/usr/bin/env python
"""Randomized crash-recovery soak of the slot writer-lease + fencing +
manifest machinery (r18): N writer processes hammer ONE index slot with
appends and compactions while a chaos controller SIGKILLs random workers
mid-flight; killed workers' leases must be heartbeat-dead TTL-taken-over,
zombie promotes must be fenced off, and no acknowledged append may be
lost. This is the randomized complement to the deterministic pytest pins
(tests/test_extensions.py: 8-waiter takeover, cross-process
serialization, the judge's zombie-promote scenario) — those prove each
transition once; the soak drives thousands of transitions in random
interleavings under real process death.

Pure filesystem — no Spark session. The "index" content is record files;
the machinery under test (indexstore.slot_writer_lease, claim/promote,
fences, markers, manifest) is exactly what the eight stored families run.

Chaos comes in two flavors: SIGKILL (a crashed writer — its lease must
be heartbeat-dead TTL-taken-over and its un-ACKed work discarded) and
SIGSTOP for > TTL then SIGCONT (the GC-pause / VM-migration zombie of
the Kleppmann fencing discussion: the writer is alive, believes it
still holds the lease, and resumes mid-critical-section after a
successor has legitimately taken over — every post-resume storage
write it attempts must be fenced off).

Invariants checked (any violation → exit 1):
  I1 mutual exclusion: the ENTER/EXIT log never shows a second ENTER
     while a LIVE holder is inside; an ENTER over a KILLED or STOPPED
     holder's open section must come >= TTL after the kill/stop (the
     takeover contract).
  I2 fence monotonicity as OBSERVED BY THE READER: the manifest's
     published fence never decreases. (The PROMOTE log lines cannot
     carry this invariant: a writer frozen between its promote and its
     log write emits the line minutes late, so log order lies — the
     same lesson as ENTER ordering. FencedWriterError rejections are
     counted, never violations: that is the gate doing its job.)
  I3 reader safety: a concurrent reader loop (resolve_generation +
     marker parse + manifest fence) never persistently fails.
  I4 durability of EVERY ACK: each ACKed append's record file exists
     in the FINAL resolved live generation, with no zombie exemption —
     with the boundary verify in place, any stamp that lands is by
     construction pre-takeover and therefore legitimate and durable,
     so a REAL zombie write that slips through shows up here as a lost
     record (effect-based detection; a late-LOGGED ack of a pre-freeze
     stamp is simply durable and passes). Un-ACKed records from killed
     writers may or may not survive.
  I5 the slot still resolves and its marker parses after the storm.
  Old-fence ACK/PROMOTE lines from taken-over sections are reported as
  ``late_logged_events`` — diagnostics, not violations: the log cannot
  distinguish a pre-freeze write logged late from a post-freeze slip,
  but I4/I2/I3 catch the EFFECTS of any real slip.

Usage:
    python tools/lease_soak.py [--workers 5] [--duration 45]
        [--ttl 2.0] [--kill-every 2.5] [--seed 18] [--no-stop-chaos]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SOAK_META = {"kind": "soak_index", "algo": 1}


def _log(path: str, line: str) -> None:
    # O_APPEND single write: atomic on POSIX for these short lines
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(line + "\n")


def _worker(args) -> None:
    """Writer process: loop append/compact cycles under the slot lease
    until the deadline. Module-level for spawn pickling."""
    slot, log, wid, deadline, ttl, seed, remote = args
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if remote:
        # Simulate the CROSS-HOST deployment (NFS-class shared storage):
        # a waiter there cannot probe the holder's pid, so takeover
        # rests on TTL + heartbeat alone. On one host the
        # os.kill(pid, 0) backstop sees a SIGSTOPped holder as alive
        # and (correctly) refuses the takeover — which also makes the
        # zombie scenario unreachable locally; blinding the liveness
        # oracle is exactly what being on another host does, and is the
        # ONLY thing this patch changes.
        from weather_database_system_spark import indexstore as _S

        _S._lease_owner_alive = lambda lease: False
    from weather_database_system_spark.indexstore import (
        INDEX_LEASE,
        FencedWriterError,
        SlotBusyError,
        append_index_marker,
        claim_new_generation,
        promote_generation,
        slot_live,
        slot_writer_lease,
        write_index_marker,
    )

    rng = random.Random(seed)
    seq = 0
    while time.time() < deadline:
        op = "append" if rng.random() < 0.7 else "compact"
        try:
            with slot_writer_lease(slot, f"w{wid}", wait_s=30.0, ttl_s=ttl):
                # OUR fence from the engine's thread-held state — not
                # from owner.json, which a worker frozen right after the
                # claim would read only after resuming, when it already
                # belongs to the successor
                from weather_database_system_spark.indexstore import (
                    _held_fence,
                )

                fence = _held_fence(slot) or 0
                # the fence is logged with ENTER because log ORDER lies
                # for frozen workers: a writer SIGSTOPped between
                # acquiring and logging writes its ENTER line only after
                # resuming, far past its successor's lines — the
                # strictly monotonic fence lets the checker order
                # acquisitions by when they actually happened
                _log(log, f"ENTER {wid} {fence} {time.time():.4f}")
                if op == "append":
                    live = slot_live(slot)
                    rec = f"rec-{wid}-{seq}.txt"
                    seq += 1
                    try:
                        with open(
                            os.path.join(live, rec), "w", encoding="utf-8"
                        ) as fh:
                            fh.write(f"{wid} {seq}\n")
                    except FileNotFoundError:
                        # resumed zombie writing into a generation its
                        # successor already pruned — symmetric to the
                        # compact branch's COPYFAIL (r18 review #7):
                        # abandon the cycle instead of crashing the
                        # worker and silently decaying the soak's
                        # contention level
                        _log(log, f"WRITEFAIL {wid} {time.time():.4f}")
                        _log(log, f"EXIT {wid} {time.time():.4f}")
                        continue
                    time.sleep(rng.uniform(0.005, 0.03))
                    try:
                        append_index_marker(live, {"rec": rec})
                        _log(log, f"ACK {wid} {rec} {time.time():.4f}")
                    except FencedWriterError:
                        _log(log, f"APPENDREJECT {wid} {rec} {time.time():.4f}")
                else:
                    live = slot_live(slot)
                    gen = claim_new_generation(slot)
                    try:
                        for n in os.listdir(live):
                            if n.startswith("rec-"):
                                shutil.copy2(
                                    os.path.join(live, n), os.path.join(gen, n)
                                )
                    except FileNotFoundError:
                        # resumed zombie copying from a generation its
                        # successor already pruned — abandon the cycle;
                        # the unstamped claimed gen is exactly a crashed
                        # builder's leftover (age-swept later), and the
                        # fence would have rejected the promote anyway
                        _log(log, f"COPYFAIL {wid} {time.time():.4f}")
                        _log(log, f"EXIT {wid} {time.time():.4f}")
                        continue
                    time.sleep(rng.uniform(0.005, 0.03))
                    write_index_marker(gen, SOAK_META)
                    try:
                        promote_generation(slot, gen)
                        _log(log, f"PROMOTE {wid} {fence} {time.time():.4f}")
                    except FencedWriterError:
                        _log(log, f"FENCEREJECT {wid} {fence} {time.time():.4f}")
                _log(log, f"EXIT {wid} {time.time():.4f}")
        except SlotBusyError:
            _log(log, f"BUSY {wid} {time.time():.4f}")
        time.sleep(rng.uniform(0.0, 0.02))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workers", type=int, default=5)
    ap.add_argument("--duration", type=float, default=45.0)
    ap.add_argument("--ttl", type=float, default=2.0)
    ap.add_argument("--kill-every", type=float, default=2.5)
    ap.add_argument("--seed", type=int, default=18)
    ap.add_argument(
        "--no-stop-chaos",
        action="store_true",
        help="disable the SIGSTOP/SIGCONT zombie flavor (kills only)",
    )
    ap.add_argument(
        "--local-liveness",
        action="store_true",
        help="keep the same-host os.kill(pid,0) takeover backstop; the "
        "default blinds it in the workers to simulate cross-host waiters "
        "(see _worker), which is the only deployment where the zombie "
        "window exists at all",
    )
    args = ap.parse_args()

    import multiprocessing as mp

    from weather_database_system_spark.indexstore import (
        INDEX_MANIFEST,
        read_index_marker,
        resolve_generation,
        write_index_marker,
    )

    tmp = tempfile.mkdtemp(prefix="wdss_soak_")
    slot = os.path.join(tmp, "slot")
    gen0 = os.path.join(slot, "gen-0001")
    os.makedirs(gen0)
    write_index_marker(gen0, SOAK_META)
    with open(os.path.join(slot, INDEX_MANIFEST), "w", encoding="utf-8") as fh:
        json.dump({"generation": "gen-0001"}, fh)
    log = os.path.join(tmp, "log.txt")
    open(log, "w").close()

    rng = random.Random(args.seed)
    deadline = time.time() + args.duration
    ctx = mp.get_context("spawn")
    procs: dict[int, object] = {}
    next_wid = 0

    def spawn() -> None:
        nonlocal next_wid
        wid = next_wid
        next_wid += 1
        p = ctx.Process(
            target=_worker,
            args=(
                (
                    slot,
                    log,
                    wid,
                    deadline,
                    args.ttl,
                    args.seed * 1000 + wid,
                    not args.local_liveness,
                ),
            ),
            daemon=True,
        )
        p.start()
        procs[wid] = p

    for _ in range(args.workers):
        spawn()

    # I3: concurrent reader — resolution and marker parse must never
    # throw, and the published fence must never decrease.
    reader_stop = threading.Event()
    reader_anomalies: list[str] = []
    reader_iters = [0]

    def _read_once() -> str | None:
        """One reader pass; returns an anomaly string or None."""
        live = resolve_generation(slot)
        if live is None:
            return "resolve returned None"
        meta, _ = read_index_marker(live)
        if meta is None:
            return f"unreadable marker in {live}"
        return None

    def _reader() -> None:
        last_fence = -1
        while not reader_stop.is_set():
            reader_iters[0] += 1
            try:
                # the grace window is ONE generation: a reader that
                # loses the resolve→read race to two promotes must
                # re-resolve (the documented contract for readers slower
                # than a compaction cycle) — only a PERSISTENT failure
                # is an anomaly
                anomaly = _read_once()
                for _ in range(3):
                    if anomaly is None:
                        break
                    time.sleep(0.005)
                    anomaly = _read_once()
                if anomaly is not None:
                    reader_anomalies.append(anomaly)
                with open(
                    os.path.join(slot, INDEX_MANIFEST), encoding="utf-8"
                ) as fh:
                    fence = json.load(fh).get("fence", 0)
                if fence < last_fence:
                    reader_anomalies.append(
                        f"fence went backwards {last_fence} -> {fence}"
                    )
                last_fence = max(last_fence, fence)
            except Exception as exc:  # noqa: BLE001 — any throw is the finding
                reader_anomalies.append(f"{type(exc).__name__}: {exc}")
            time.sleep(0.02)

    rt = threading.Thread(target=_reader, daemon=True)
    rt.start()

    from weather_database_system_spark.indexstore import INDEX_LEASE

    def holder_wid() -> int | None:
        """wid of the CURRENT lease holder (None when the lease is free):
        targeted chaos — signaling the holder mid-section is the only
        way to drive takeovers and zombies at a useful rate, since with
        N contenders on one lease a random worker is the holder with
        probability 1/N and sections last milliseconds."""
        try:
            with open(
                os.path.join(slot, INDEX_LEASE, "owner.json"), encoding="utf-8"
            ) as fh:
                pid = json.load(fh)["pid"]
        except (OSError, ValueError, KeyError):
            return None
        for w, p in procs.items():
            if p.pid == pid and p.is_alive():
                return w
        return None

    kills: list[tuple[int, float]] = []
    stops = 0
    while time.time() < deadline:
        time.sleep(args.kill_every * rng.uniform(0.6, 1.4))
        if time.time() >= deadline:
            break
        wid = holder_wid()
        if wid is None:  # lease momentarily free — fall back to random
            live_wids = [w for w, p in procs.items() if p.is_alive()]
            if not live_wids:
                break
            wid = rng.choice(live_wids)
        try:
            if args.no_stop_chaos or rng.random() < 0.5:
                os.kill(procs[wid].pid, signal.SIGKILL)
                kills.append((wid, time.time()))
                _log(log, f"KILL {wid} {time.time():.4f}")
                spawn()  # replacement keeps the contention level up
            else:
                # zombie flavor: freeze past the TTL (heartbeat thread
                # freezes with the process), let a successor take over,
                # then resume the writer mid-critical-section
                os.kill(procs[wid].pid, signal.SIGSTOP)
                stops += 1
                _log(log, f"STOP {wid} {time.time():.4f}")
                try:
                    time.sleep(args.ttl * 1.6)
                finally:
                    try:
                        os.kill(procs[wid].pid, signal.SIGCONT)
                    except ProcessLookupError:
                        pass
                _log(log, f"CONT {wid} {time.time():.4f}")
        except ProcessLookupError:
            pass

    for p in procs.values():
        try:
            os.kill(p.pid, signal.SIGCONT)  # never join a frozen worker
        except (ProcessLookupError, TypeError):
            pass
        p.join(timeout=60)
    reader_stop.set()
    rt.join(timeout=5)

    # ---- invariant checks over the merged log ----
    violations: list[str] = []
    downed_at: dict[str, float] = {}  # wid -> last KILL or STOP time
    open_holder: tuple[str, float] | None = None
    zombie_open: set[str] = set()  # wids whose open section was taken over
    acked: list[str] = []
    counts = {
        "ENTER": 0,
        "PROMOTE": 0,
        "FENCEREJECT": 0,
        "APPENDREJECT": 0,
        "BUSY": 0,
        "ACK": 0,
    }
    takeovers = 0
    max_fence = 0
    late_logged = 0
    for line in open(log, encoding="utf-8"):
        parts = line.split()
        kind = parts[0]
        if kind in counts:
            counts[kind] += 1
        if kind in ("KILL", "STOP"):
            # kept across CONT: the takeover decision may race the CONT
            # log line, and a resumed zombie STILL inside its section is
            # a legitimate takeover target record, not a double-hold
            downed_at[parts[1]] = float(parts[2])
        elif kind == "ENTER":
            wid, fen, t = parts[1], int(parts[2]), float(parts[3])
            if fen <= max_fence:
                # late-logged ENTER from a frozen writer: an acquisition
                # with a HIGHER fence already happened, so this instance
                # was necessarily superseded before the line landed —
                # its section's upcoming writes are zombie writes, and
                # it never displaces the current holder
                zombie_open.add(wid)
                continue
            max_fence = fen
            if open_holder is not None:
                hw, ht = open_holder
                dt = downed_at.get(hw)
                # legitimate takeover = the holder went down DURING its
                # open section; a down event from an earlier life must
                # not launder a real double-hold
                if (dt is None or dt < ht) and hw not in zombie_open:
                    violations.append(
                        f"I1 double-hold: w{wid} entered while w{hw} inside"
                    )
                else:
                    takeovers += 1
                    # the holder's LAST heartbeat can precede the
                    # kill/stop by up to hb_s = ttl/4, so a legitimate
                    # takeover can land up to ttl/4 before dt + ttl
                    if dt is not None and dt >= ht and t < dt + args.ttl * 0.7:
                        violations.append(
                            f"I1 premature takeover: w{wid} entered "
                            f"{t - dt:.2f}s after w{hw} went down "
                            f"(ttl {args.ttl})"
                        )
                    zombie_open.add(hw)
            open_holder = (wid, t)
        elif kind == "EXIT":
            wid = parts[1]
            if open_holder is not None and open_holder[0] == wid:
                open_holder = None
            zombie_open.discard(wid)
        elif kind == "PROMOTE":
            wid = parts[1]
            if wid in zombie_open:
                late_logged += 1  # pre-freeze promote, line landed late
        elif kind == "ACK":
            wid = parts[1]
            if wid in zombie_open:
                late_logged += 1  # pre-freeze stamp, line landed late
            # EVERY ack must be durable (I4): any stamp that landed is
            # pre-takeover by the boundary-verify construction — a real
            # slip surfaces as a lost record below
            acked.append(parts[2])
    if reader_anomalies:
        violations.extend(f"I3 {a}" for a in reader_anomalies[:5])
    final_live = resolve_generation(slot)
    if final_live is None:
        violations.append("I5 slot does not resolve after the storm")
    else:
        meta, _ = read_index_marker(final_live)
        if meta is None:
            violations.append("I5 final marker unreadable")
        have = set(os.listdir(final_live))
        lost = [r for r in acked if r not in have]
        if lost:
            violations.append(
                f"I4 lost {len(lost)} ACKed records, e.g. {lost[:3]}"
            )

    print(
        json.dumps(
            {
                "slot": slot,
                "duration_s": args.duration,
                "workers": args.workers,
                "ttl_s": args.ttl,
                "cycles": counts["ENTER"],
                "acked_appends": counts["ACK"],
                "promotes": counts["PROMOTE"],
                "fence_rejects": counts["FENCEREJECT"],
                "append_rejects": counts["APPENDREJECT"],
                "busy_timeouts": counts["BUSY"],
                "kills": len(kills),
                "stops": stops,
                "takeovers_observed": takeovers,
                "late_logged_events": late_logged,
                "reader_iterations": reader_iters[0],
                "violations": violations,
            },
            indent=2,
        )
    )
    if not violations:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
