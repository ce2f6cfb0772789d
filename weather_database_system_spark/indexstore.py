"""Stored-index store: the on-disk lifecycle every stored index family
shares.

Markers (what an index was built from), manifest-managed generations
with atomic promotes, the per-slot writer lease with heartbeat and
fencing, snapshot reads of the retained generation, the slot catalog
and footer checks behind ``index-ops``, and the two shared swaps
(``ensure_index`` for marker-gated builds, ``compact_into_generation``
for row-preserving compactions), and the one generic lifecycle every
family runs: a family is an ``IndexSpec`` (data), and ``build`` /
``append`` / ``compact`` / ``ensure`` run any spec. Everything up to
the specs is pure filesystem: it never starts or needs a SparkSession.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from weather_database_system_spark.session import scratch_path, scratch_root

# --- build-once index lifecycle --------------------------------------------
#
# Stored indexes (trigram postings, IVF centroids+assignments) are built
# ONCE per (source, config) and then shared: by the two registry variants
# that probe the same index, by repeated sweeps in one process, and by
# fresh sessions (the cold-read pytest). The marker file records WHAT the
# index was built from; a matching marker means "reuse", anything else
# means "rebuild". This removes the r14 hazard (ADVICE r14 #2) where a
# second build-with-overwrite deleted parquet files under the first
# call's still-lazy plan — a matching marker skips the rewrite entirely.

INDEX_MARKER = "_WDSS_INDEX_META.json"


def source_signature(sf_dir: str, table: str) -> dict:
    """Cheap identity of a source table: per-file (relpath, size, mtime_ns)
    under ``{sf_dir}/{table}.parquet`` (file or directory). Any rewrite of
    the source changes the signature and invalidates dependent indexes —
    a stat walk, never a data scan."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    files = []
    if os.path.isdir(root):
        for dirpath, _, names in os.walk(root):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                files.append([os.path.relpath(p, root), st.st_size, st.st_mtime_ns])
    else:
        st = os.stat(root)
        files.append([table, st.st_size, st.st_mtime_ns])
    return {"table": table, "files": files}


def index_is_current(path: str, meta: dict) -> bool:
    """True iff ``path`` holds an index whose marker equals ``meta``
    exactly (algo version, config constants, source signature)."""
    import json

    marker = os.path.join(path, INDEX_MARKER)
    try:
        with open(marker, encoding="utf-8") as fh:
            return json.load(fh) == meta
    except (OSError, ValueError):
        return False


def write_index_marker(path: str, meta: dict) -> None:
    """Stamp a freshly built index as current (write-temp-then-rename so a
    crash mid-write never leaves a plausible half marker)."""
    import json

    marker = os.path.join(path, INDEX_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, marker)


def append_index_marker(path: str, note: dict | None = None) -> None:
    """Re-stamp a generation after an append with a CHAINED marker
    ``{"base": <prior stamp>, "appends": [<event>, ...]}`` — the r16
    replacement for the delete-the-marker convention every family's append
    used through r15 (and the unification of the IVF marker-delete vs
    unstamped-generation divergence). Two properties, both load-bearing:

    - The chained marker never equals any pure build meta, so
      ``ensure``'s ``index_is_current`` reads the generation as stale
      exactly as the old marker-delete did — append staleness semantics
      are unchanged.
    - The generation stays STAMPED, so the manifest-loss recovery path
      (``resolve_generation``: "newest stamped generation") resolves to
      the generation WITH its appends instead of silently reverting to
      a pre-append ancestor — previously an appended (hence unstamped)
      newest generation lost every post-build append on that path.

    ``note`` is recorded verbatim in the append event (batch ids, row
    counts — whatever the ingest loop knows); a wall-clock stamp is
    added for ops traceability, and when the caller's thread holds the
    slot's writer lease the event also records the lease's FENCE number
    (r18 — publish provenance: a post-mortem can tell which lease
    instance wrote each append; rejection of lower-fenced publishes is
    enforced at promote_generation, the pointer write). Chaining onto an
    unstamped generation records ``base: null`` (the ensure-build flow
    appends into a claimed generation BEFORE stamping it; the final
    full-lifecycle stamp then overwrites this)."""
    import json
    import time

    marker = os.path.join(path, INDEX_MARKER)
    try:
        with open(marker, encoding="utf-8") as fh:
            cur = json.load(fh)
    except (OSError, ValueError):
        cur = None
    if isinstance(cur, dict) and set(("base", "appends")) <= set(cur):
        base, appends = cur["base"], list(cur["appends"])
    else:
        base, appends = cur, []
    fence = _held_fence(path)
    if fence is not None:
        # the append's ACK is this marker stamp — verify the lease
        # instance before it lands (r18 lease_soak finding: a resumed
        # zombie's append into a generation its successor had already
        # compacted away was ACKed and then lost; the data file may
        # remain as an un-ACKed orphan, which compactions tolerate)
        _verify_held_lease(path)
    appends.append(
        {"at_ns": time.time_ns()}
        | ({"fence": fence} if fence is not None else {})
        | (note or {})
    )
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"base": base, "appends": appends}, fh, sort_keys=True)
    if fence is not None:
        # final check DIRECTLY before the ACKing rename (mirrors
        # promote_generation): shrink the freeze window between the
        # entry check and the publish to one syscall
        try:
            _verify_held_lease(path)
        except FencedWriterError:
            try:
                os.remove(tmp)  # r18 review #8: no stale-stamp orphan
            except OSError:
                pass
            raise
    os.replace(tmp, marker)


def read_index_marker(path: str) -> tuple[dict | None, int]:
    """(build meta, append count) of a generation's stamp: a plain build
    marker reads as (meta, 0), a chained append marker as (base, n),
    no/corrupt marker as (None, 0)."""
    import json

    try:
        with open(os.path.join(path, INDEX_MARKER), encoding="utf-8") as fh:
            cur = json.load(fh)
    except (OSError, ValueError):
        return None, 0
    if isinstance(cur, dict) and set(("base", "appends")) <= set(cur):
        base = cur["base"] if isinstance(cur["base"], dict) else None
        return base, len(cur["appends"])
    return (cur if isinstance(cur, dict) else None), 0


def swap_dir(live: str, tmp: str) -> None:
    """Replace directory ``live`` with ``tmp`` the recoverable way
    (ADVICE r14 #3): rename the old generation ASIDE first (live →
    live__old), then tmp → live, then delete live__old — a crash between
    the renames leaves a recoverable generation at live__old instead of
    NO index. Requires live and tmp on the same filesystem (os.rename
    semantics) — point WDSS_SCRATCH_DIR at one volume. The swap is not
    atomic for concurrent readers (a reader can observe the brief
    no-live-dir window between the two renames); manifest-managed slots
    (the ensure/compact lifecycle below) close that window with an
    atomic pointer promote — swap_dir remains the in-place path for
    explicit flat directories (tests, ad-hoc indexes)."""
    import shutil

    old = live.rstrip("/") + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


# --- manifest-managed generations ------------------------------------------
#
# The atomicity story swap_dir cannot give concurrent readers, made real
# (r15): an index SLOT (one scratch_path dir) holds numbered generation
# directories ``gen-0001, gen-0002, …`` plus a manifest file naming the
# live one. Builders write a COMPLETE new generation beside the live one,
# then promote it with a single atomic os.replace of the manifest — a
# reader resolves the pointer once and keeps reading its (immutable,
# append-only) generation directory; it either sees the old index or the
# new one, never a half-swapped or missing one. The previous live
# generation survives exactly one promote (the reader-grace window for
# in-flight lazy plans); the promote after that prunes it. This is the
# Iceberg/Delta snapshot-pointer shape reduced to one JSON file — on a
# real deployment the pointer lives in a metastore/manifest list, same
# plan shape, same economics (promotes move O(1) metadata, never index
# bytes). Grace window = ONE generation: deployments whose queries can
# outlive two promotes size the retention accordingly.
#
# Writer contract: maintenance (rebuild, compaction) and ingest (append)
# are SINGLE-WRITER serialized per slot — the standard LSM/table-format
# commit assumption, and since r16 a MECHANISM, not just a contract:
# every append and compact runs under slot_writer_lease (mkdir-claimed
# per-slot lease with bounded wait and stale-lease takeover), so an append
# racing a compaction's read-then-promote either serializes behind it or
# fails loudly with SlotBusyError — never lands between the compactor's
# scan and its promote to be silently pruned.
# Long-lived INGEST loops must hold the SLOT, not a generation dir
# (slot_live re-resolves the pointer per call) — a stream that captured a
# generation path would otherwise keep appending into the grace
# generation after a compaction promotes, and the next promote would
# prune those rows.

INDEX_MANIFEST = "_WDSS_MANIFEST.json"


def resolve_generation(slot: str) -> str | None:
    """Live generation directory of a manifest-managed index slot, or
    None if nothing is built. Recovery order: (1) the manifest's pointer
    if it names an existing directory; (2) manifest lost/corrupt but
    generation dirs present → the newest STAMPED generation (a crash
    can only lose the O(1) pointer write, never a promoted generation;
    appended generations stay stamped via the chained append marker, so
    this resolves to the index WITH its appends). Stamped-only is a
    deliberate policy (ADVICE r15 #2): with the pointer gone, an
    unstamped generation is indistinguishable from a crashed half-build,
    and silently serving a possibly-incomplete index is worse than
    forcing a rebuild — a slot holding ONLY unstamped generations
    resolves to None, and ``ensure`` rebuilds it."""
    import json

    try:
        with open(os.path.join(slot, INDEX_MANIFEST), encoding="utf-8") as fh:
            p = os.path.join(slot, json.load(fh)["generation"])
        if os.path.isdir(p):
            return p
    except (OSError, ValueError, KeyError, TypeError):
        pass
    for g in sorted(_generation_dirs(slot), reverse=True):
        if os.path.isfile(os.path.join(slot, g, INDEX_MARKER)):
            return os.path.join(slot, g)
    return None  # nothing built, or only unstamped (possibly half-built)


def slot_live(path: str) -> str:
    """If ``path`` is a manifest-managed SLOT, return its live generation
    — so ingest loops, query paths, and maintenance passes may hold the
    stable slot path and have every call re-resolve the pointer (the
    only handle that stays valid across promotes). A generation dir or
    an explicit flat directory passes through unchanged (builders must
    target the exact under-construction generation, never the pointer)."""
    if os.path.isfile(os.path.join(path, INDEX_MANIFEST)):
        live = resolve_generation(path)
        if live is not None:
            return live
    return path


def _generation_dirs(slot: str) -> list[str]:
    try:
        names = os.listdir(slot)
    except OSError:
        return []
    return [
        n
        for n in names
        if n.startswith("gen-")
        and n[4:].isdigit()
        and os.path.isdir(os.path.join(slot, n))
    ]


def new_generation_path(slot: str) -> str:
    """Path for the next generation directory of ``slot`` (not created):
    max existing number + 1, so a crashed half-written generation is
    simply left behind and superseded, never reused."""
    os.makedirs(slot, exist_ok=True)
    nxt = max((int(n[4:]) for n in _generation_dirs(slot)), default=0) + 1
    return os.path.join(slot, f"gen-{nxt:04d}")


def claim_new_generation(slot: str) -> str:
    """Atomically CLAIM the next generation directory: mkdir is the
    claim, so two processes racing the same build-if-absent (two sweeps,
    two cold sessions hitting one scratch volume) can never write into
    the same generation — the loser sees FileExistsError and claims the
    next number. Both then build equivalent generations and promote;
    last promote wins, the other becomes the grace generation, and the
    content is identical (builds are deterministic functions of the
    marked source), so the race is benign END TO END, not just avoided
    at the directory level. Append-vs-compaction is serialized by
    slot_writer_lease (a mechanism since r16, not a contract) — this
    claim only serializes generation CREATION, the one cross-process
    touchpoint build-if-absent has."""
    while True:
        gen = new_generation_path(slot)
        try:
            os.makedirs(gen)
            return gen
        except FileExistsError:
            continue  # lost the race — claim the next number


INDEX_LEASE = "_WDSS_LEASE"  # underscore prefix: invisible to Spark readers
INDEX_FENCE = "_WDSS_FENCE.json"  # per-slot fence counter (see fencing below)


class SlotBusyError(RuntimeError):
    """Another writer holds the slot's lease and the bounded wait
    expired — the fail-loud half of the single-writer mechanism."""


class FencedWriterError(RuntimeError):
    """A lease holder whose lease was taken over (TTL + heartbeat both
    expired — e.g. a long storage partition) tried to PUBLISH after a
    higher-fenced successor already had: the promote is rejected instead
    of silently clobbering the successor's generation (r18, VERDICT r17
    task #4 — the fencing-token belt for the one residue TTL takeover
    has always accepted)."""


# --- write fencing (r18) ----------------------------------------------------
#
# The lease + heartbeat close every same-host and most cross-host races,
# but one residue remained (documented since r17): two hosts that BOTH
# pass the TTL+heartbeat gate during a storage partition each believe
# they hold the lease, and nothing on the DATA path distinguished their
# writes. The standard fix is a fencing token (Gray/Lampson lease
# literature; ZooKeeper/Chubby practice): every lease acquisition draws
# a strictly monotonic FENCE NUMBER from a per-slot counter (acquisition
# is serialized by the lease mkdir itself, and the counter recovers from
# the manifest's last published fence if the counter file is lost), the
# holder's publishes carry it, and a publish whose fence is LOWER than
# the newest already-published fence is rejected. Guarantee: once a
# higher-fenced writer has PUBLISHED, no lower-fenced (taken-over)
# writer can clobber it — promote raises FencedWriterError. It does not
# serialize unpublished work (that is the lease's job); it fences the
# zombie's late publish, which is exactly the data-loss case.
#
# Fence ORDERING alone is not enough (r18 lease_soak finding): the
# published fence only advances at PROMOTE, so a zombie that resumes
# BEFORE its successor's first publish compares its fence against a
# stale manifest, passes, and publishes a generation missing the
# successor's acked appends — tools/lease_soak.py reproduced exactly
# this (two zombie promotes + four lost acked records in one 60 s run
# with blinded cross-host liveness). The companion check is therefore
# verification of the lease INSTANCE at the storage boundary
# (_verify_held_lease — Kleppmann's "check the token on every write"):
# every fenced promote and every fenced append-stamp first confirms the
# exact lease directory (path + inode) this thread claimed still
# exists. A takeover renames that instance aside, so a zombie's write
# raises FencedWriterError even when the fence comparison would pass.
# Residual window after both checks: a writer frozen for > TTL between
# the verify and the following os.replace — microseconds of in-kernel
# time instead of the whole post-takeover critical section.
#
# Plumbing: the held fence is recorded per (thread, lease root) — a
# writer is a thread of control, and promote/append run in the thread
# that holds the lease — so no operator-facing signature changes.
# Unfenced promotes (ensure builds, serialized by
# claim_new_generation, which never take the lease) keep today's
# last-promote-wins semantics and carry the manifest's fence forward
# unchanged.

_HELD_FENCES: dict[tuple[int, str], int] = {}
_HELD_LEASES: dict[tuple[int, str], tuple[str, int]] = {}


def _fence_file(root: str) -> str:
    """The fence counter's path: inside a manifest-managed slot (stable
    across promotes, like the lease), a SIBLING for a flat directory
    (the same rationale as _lease_dir: in-place compaction swaps the
    flat dir away and back, and slot metadata must not ride along)."""
    if os.path.isfile(os.path.join(root, INDEX_MANIFEST)):
        return os.path.join(root, INDEX_FENCE)
    return root.rstrip("/") + "." + INDEX_FENCE


def _manifest_fence(slot: str) -> int:
    """The newest PUBLISHED fence: the fence field of the slot's
    manifest (0 when absent/unfenced — legacy manifests parse fine)."""
    import json

    try:
        with open(os.path.join(slot, INDEX_MANIFEST), encoding="utf-8") as fh:
            v = json.load(fh).get("fence")
        return int(v) if v is not None else 0
    except (OSError, ValueError, TypeError):
        return 0


def _draw_fence(root: str) -> int:
    """Next fence number for a freshly acquired lease on ``root``:
    max(counter file, manifest's published fence) + 1 — the manifest
    half makes counter-file loss (or the seam where a directory becomes
    a managed slot and the counter moves from the sibling path to the
    in-slot path) recover monotonicity from the last publish."""
    import json

    ff = _fence_file(root)
    try:
        with open(ff, encoding="utf-8") as fh:
            cur = int(json.load(fh)["fence"])
    except (OSError, ValueError, TypeError, KeyError):
        cur = 0
    fence = max(cur, _manifest_fence(root)) + 1
    tmp = ff + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"fence": fence}, fh)
    os.replace(tmp, ff)
    return fence


def _held_fence(path: str) -> int | None:
    """The fence this THREAD holds for the slot owning ``path`` (None
    when the caller is not inside a slot_writer_lease — ensure builds)."""
    import threading

    return _HELD_FENCES.get((threading.get_ident(), _lease_root(path)))


def _lease_instance_state(lease: str, fence: int) -> str:
    """Classify the instance at ``lease`` against OUR acquisition:
    ``"ours"`` (owner.json carries our fence), ``"other"`` (it parses
    and carries a DIFFERENT fence — positively taken over or released
    and re-acquired), or ``"unreadable"`` (missing/unparseable/IO error
    — cannot tell). The single identity primitive behind the boundary
    verify, the heartbeat thread, and the release guard — they differ
    only in how they treat ``"unreadable"``, and keeping one copy stops
    their error semantics drifting apart (r18 review #9)."""
    import json

    try:
        with open(os.path.join(lease, "owner.json"), encoding="utf-8") as fh:
            other = json.load(fh).get("fence")
    except (OSError, ValueError):
        return "unreadable"
    return "ours" if other == fence else "other"


def _still_holds(path: str) -> bool:
    """Non-raising sibling of ``_verify_held_lease`` for callers that
    want to STOP quietly instead of failing (the post-publish prune):
    True when this thread's lease instance is still the holder of
    record, or when the caller is unfenced. ``"unreadable"`` reads as
    not-holding — the callers use this before destructive deletes, where
    unconfirmed ownership must halt the delete, not excuse it."""
    import threading

    rec = _HELD_LEASES.get((threading.get_ident(), _lease_root(path)))
    if rec is None:
        return True
    return _lease_instance_state(*rec) == "ours"


def _verify_held_lease(path: str) -> None:
    """Fencing at the STORAGE BOUNDARY (r18, found by tools/lease_soak.py):
    confirm the lease instance this thread claimed is still the one at
    the lease path before a fenced write lands. Fence-number ordering
    cannot catch a zombie whose successor has not published yet — the
    manifest still carries an older fence, so the promote-time
    comparison passes while the successor's un-published appends are
    clobbered from the live view.

    Identity is the FENCE NUMBER in the instance's ``owner.json`` —
    unique per acquisition by construction — NOT the directory inode:
    ext4 hands a freed inode straight back to the next mkdir at the
    same path (verified: five mkdir/rmdir cycles, one inode), so a
    successor's lease can be inode-identical to the zombie's and the
    soak caught exactly one zombie append slipping through an
    inode-based check.

    An UNREADABLE owner.json gets one short retry (a transient
    EIO/ESTALE on shared storage must not abort a whole compaction —
    r18 review #4), then fails CLOSED with an honest message: ownership
    that cannot be confirmed must not publish, but the error says
    "cannot confirm", not "taken over". No-op for unfenced callers
    (ensure builds never take the lease)."""
    import threading
    import time

    rec = _HELD_LEASES.get((threading.get_ident(), _lease_root(path)))
    if rec is None:
        return
    lease, fence = rec
    state = _lease_instance_state(lease, fence)
    if state == "unreadable":
        time.sleep(0.01)
        state = _lease_instance_state(lease, fence)
    if state == "ours":
        return
    if state == "other":
        raise FencedWriterError(
            f"lease instance {lease!r} with fence {fence} is no longer "
            f"the holder of record — it was TTL-taken-over (or released) "
            f"while this write was in flight; re-acquire the lease and "
            f"redo the work from current state"
        )
    raise FencedWriterError(
        f"cannot confirm ownership of lease {lease!r} (fence {fence}): "
        f"owner.json is unreadable after retry — refusing to publish "
        f"unverified; retry the operation when storage recovers"
    )


PROMOTE_LOCK = "_WDSS_PROMOTE_LOCK"
PROMOTE_LOCK_TTL_S = 60.0  # a promote lock is held for the O(1) pointer
# write + prune; one older than this is a crashed promoter's leak
PROMOTE_LOCK_WAIT_S = 120.0


def _promote_lock(slot: str):
    """Serialize the fence-check → manifest-write → prune sequence of
    promote_generation (r18 self-review #1): the fence gate is
    check-then-write, so WITHOUT serialization a lower-fenced zombie
    that reads the manifest before a higher-fenced successor publishes
    could still pass the check and clobber the successor's promote —
    the exact race the fence exists to close, merely narrowed. Same
    mkdir/age-clear/bounded-wait pattern as the takeover lock; promotes
    are O(1) metadata so contention is microseconds."""
    import contextlib
    import time

    @contextlib.contextmanager
    def _ctx():
        tl = os.path.join(slot, PROMOTE_LOCK)
        token_file = os.path.join(tl, "owner")
        deadline = time.monotonic() + PROMOTE_LOCK_WAIT_S
        while True:
            try:
                os.mkdir(tl)
                break
            except FileNotFoundError:
                os.makedirs(slot, exist_ok=True)
                continue
            except FileExistsError:
                try:
                    if time.time() - os.stat(tl).st_mtime > PROMOTE_LOCK_TTL_S:
                        # rmtree, not rmdir: a tokened lock is non-empty
                        import shutil as _sh

                        _sh.rmtree(tl, ignore_errors=True)
                        continue
                except OSError:
                    continue  # holder released between mkdir and stat
                if time.monotonic() >= deadline:
                    raise RuntimeError(
                        f"promote lock {tl!r} held past the bounded wait — "
                        f"a promoter is stuck or the clock is wrong"
                    )
                time.sleep(0.05)
        # identity token (r18 review follow-up): a promoter frozen past
        # the lock's age-clear TTL resumes after a successor has
        # re-created the lock — an unconditional release rmdir would
        # delete the SUCCESSOR's active lock and void the very
        # atomicity this lock provides. Release only removes a lock
        # still carrying our token; a foreign/unreadable token leaves
        # it for its holder (or the age-clear)
        token = os.urandom(8).hex()
        try:
            with open(token_file, "w", encoding="utf-8") as fh:
                fh.write(token)
        except OSError:
            pass  # unreadable token → release leaves it to age-clear
        try:
            yield
        finally:
            try:
                with open(token_file, encoding="utf-8") as fh:
                    ours = fh.read() == token
                if ours:
                    os.remove(token_file)
                    os.rmdir(tl)
            except OSError:
                pass

    return _ctx()


def _lease_owner_alive(lease: str) -> bool:
    """True iff the lease's owner.json names a pid that is alive on THIS
    host — the guard that keeps TTL takeover from stealing a
    legitimately long same-host writer's lease mid-write. Unreadable or
    missing owner metadata reads as not-alive (a crashed writer can
    leave a bare lease dir); a pid running on another host is invisible
    here, which errs toward takeover exactly as the plain TTL rule
    always did for remote writers."""
    import json

    try:
        with open(os.path.join(lease, "owner.json"), encoding="utf-8") as fh:
            pid = int(json.load(fh)["pid"])
    except (OSError, ValueError, KeyError, TypeError):
        return False
    try:
        os.kill(pid, 0)
        return True
    except PermissionError:
        return True  # exists but owned by another user — alive
    except OSError:
        return False


def _lease_root(path: str) -> str:
    """The directory the writer lease PROTECTS: the SLOT for manifest-
    managed paths (whether the caller passed the slot itself or one of
    its generation dirs — one lease must cover every generation of a
    slot, or an append into gen-N and a compaction promoting gen-N+1
    would hold 'different' leases), else the flat directory itself."""
    p = path.rstrip("/")
    if os.path.isfile(os.path.join(p, INDEX_MANIFEST)):
        return p
    parent = os.path.dirname(p)
    if os.path.isfile(os.path.join(parent, INDEX_MANIFEST)):
        return parent
    return p


def _lease_dir(path: str) -> str:
    """The lease DIRECTORY guarding ``path``: ``<slot>/_WDSS_LEASE``
    inside a manifest-managed slot (generation swaps happen a level
    below it, so the lease path is stable across promotes), but a
    SIBLING ``<dir>._WDSS_LEASE`` for a flat directory (ADVICE r16 #2:
    a lease INSIDE a flat dir is relocated by compact_into_generation's
    in-place swap_dir — the holder's lease silently leaves the live
    path mid-compaction, a second writer acquires, and the compactor's
    release then deletes that successor's live lease)."""
    root = _lease_root(path)
    if os.path.isfile(os.path.join(root, INDEX_MANIFEST)):
        return os.path.join(root, INDEX_LEASE)
    return root + "." + INDEX_LEASE


def _lease_age(lease: str) -> float:
    """Seconds since the lease last showed LIFE: the newest of the lease
    dir's own mtime (bumped by acquisition — mkdir, then owner.json /
    heartbeat creation inside it) and the heartbeat file's mtime (the
    holder's liveness beacon, re-touched on a timer — meaningful on
    shared storage where pid liveness is not). owner.json's mtime is
    deliberately NOT a signal: it is written once at acquisition and
    carries identity, not liveness. Raises OSError if the lease vanished
    between the caller's existence check and this stat."""
    import time

    newest = os.stat(lease).st_mtime
    try:
        newest = max(newest, os.stat(os.path.join(lease, "heartbeat")).st_mtime)
    except OSError:
        pass
    return time.time() - newest


TAKEOVER_LOCK_TTL_S = 60.0  # a takeover lock is held for microseconds;
# one older than this is a crashed taker's leak and is cleared


def _lease_takeover(lease: str, judged_ino: int, ttl_s: float) -> None:
    """Atomically remove a STALE lease (ADVICE r16 #1): rmtree-ing the
    live lease path directly is a TOCTOU race — two waiters that both
    judged the same lease stale would each rmtree+mkdir, and the slower
    rmtree deletes the faster waiter's freshly created lease, leaving
    two concurrent holders.

    Takeovers therefore (1) SERIALIZE through a short-lived takeover
    lock (mkdir of ``<lease>.__takeover_lock`` — one taker at a time;
    losers return to the wait loop), and (2) RE-VERIFY under the lock
    that the lease at the path is still the judged instance (same
    inode), still past the TTL, and still owner-dead — only then is it
    renamed aside (so a mid-delete lease never looks live) and removed.
    The re-verify matters: a first-cut design renamed on the stale
    observation alone and renamed back on an inode mismatch, but
    between the wrongful rename and its undo the lease path was
    momentarily FREE for a third waiter's mkdir — a live holder's lease
    sat renamed aside while another writer acquired, the exact
    double-holder the lease exists to prevent (caught by the r17
    concurrency pin under full-suite load). Under the lock the only
    concurrent mutation left is a release by the lease's owner — whom
    the caller just verified dead on this host — so the remaining
    residue is the cross-host case TTL takeover has always accepted —
    mitigated by the heartbeat, and since r18 FENCED on the data path:
    a taken-over writer's late promote is rejected by its stale fence
    number (see the fencing block above promote_generation). A leaked
    takeover lock (taker crashed between mkdir and rmdir) clears after
    TAKEOVER_LOCK_TTL_S."""
    import shutil
    import time

    tl = lease + ".__takeover_lock"
    try:
        os.mkdir(tl)
    except FileExistsError:
        try:
            if time.time() - os.stat(tl).st_mtime > TAKEOVER_LOCK_TTL_S:
                os.rmdir(tl)
        except OSError:
            pass
        return
    except OSError:
        return
    try:
        st = os.stat(lease)
        if (
            st.st_ino == judged_ino
            and _lease_age(lease) > ttl_s
            and not _lease_owner_alive(lease)
        ):
            aside = f"{lease}.__takeover_{os.getpid()}_{time.monotonic_ns()}"
            os.rename(lease, aside)
            shutil.rmtree(aside, ignore_errors=True)
    except OSError:
        pass  # released (or re-created fresh) between checks — nothing to do
    finally:
        try:
            os.rmdir(tl)
        except OSError:
            pass


def slot_writer_lease(path: str, purpose: str = "write",
                      wait_s: float | None = None,
                      ttl_s: float | None = None,
                      heartbeat_s: float | None = None):
    """Per-slot single-writer LEASE (r16, VERDICT r15 task #4 — the
    mechanism behind the previously documented-only contract): mkdir of
    the lease dir (``_lease_dir``: inside a manifest slot, a SIBLING of
    a flat dir — ADVICE r16 #2) is the atomic claim (the
    claim_new_generation precedent), an ``owner.json`` inside records
    pid/purpose/time for ops. A second writer waits up to ``wait_s``
    (default 120 s, env WDSS_LEASE_WAIT_S) polling for release — so an
    append racing a compaction SERIALIZES behind it — and then raises
    SlotBusyError — so a pathological overlap FAILS LOUDLY instead of
    silently dropping the appended rows between a compactor's scan and
    its promote.

    Liveness (r17): while held, a daemon thread re-touches a
    ``heartbeat`` file inside the lease every ``heartbeat_s`` (default
    ttl/4, clamped to [0.02 s, 30 s]) — a beacon that works on shared
    (NFS-class) storage where pid liveness cannot, so WDSS_LEASE_TTL_S
    can be set far below any real write duration without stealing a
    live long writer's lease. A lease whose newest life signal
    (acquisition mtime or heartbeat) is older than ``ttl_s`` (default
    3600 s, env WDSS_LEASE_TTL_S) is a crashed writer and is taken
    over — UNLESS its owner.json names a pid still alive on THIS host
    (os.kill(pid, 0)): the same-host backstop for holders whose
    heartbeat thread died. Takeover is ATOMIC via rename-aside
    (``_lease_takeover`` — ADVICE r16 #1), and release is
    FENCE-guarded (r18, superseding the r17 inode guard: ext4 reuses a
    freed inode for the very next mkdir at the same path, so inode
    equality is not instance identity — found by tools/lease_soak.py):
    a holder only removes the lease when the owner.json at the path
    still carries ITS OWN fence number, so a stolen/renamed lease can
    never make an exiting holder delete a successor's live lease.
    While held, every fenced promote/append-stamp re-verifies the same
    identity at the storage boundary (``_verify_held_lease``), which
    fences a resumed zombie's writes even BEFORE its successor first
    publishes. Used as a context manager by every
    ``append`` and ``compact``; builds stay serialized by
    claim_new_generation's mkdir instead (racing build-if-absent is
    benign end to end — both produce equivalent generations — and must
    not deadlock against the append an ensure-build performs inside its
    own claimed generation)."""
    import contextlib
    import json
    import shutil
    import threading
    import time

    wait_s = float(
        os.environ.get("WDSS_LEASE_WAIT_S", 120.0) if wait_s is None else wait_s
    )
    ttl_s = float(
        os.environ.get("WDSS_LEASE_TTL_S", 3600.0) if ttl_s is None else ttl_s
    )
    hb_s = (
        max(0.02, min(30.0, ttl_s / 4.0)) if heartbeat_s is None
        else float(heartbeat_s)
    )

    @contextlib.contextmanager
    def _ctx():
        root = _lease_root(path)
        os.makedirs(root, exist_ok=True)  # also creates the lease's parent
        deadline = time.monotonic() + wait_s
        while True:
            # recomputed EVERY iteration (ADVICE r17 #1): when a flat
            # directory becomes a managed slot the lease path moves from the
            # sibling '<slot>._WDSS_LEASE' to the in-slot
            # '<slot>/_WDSS_LEASE' — a waiter that kept the pre-migration
            # sibling path could acquire it while a newer writer holds
            # the in-slot lease: two holders on one slot
            lease = _lease_dir(path)
            try:
                os.mkdir(lease)
                # re-verify AFTER the claim: if the slot became
                # manifest-managed between computing the path and the
                # mkdir, we hold the wrong (sibling) lease — nothing has
                # been written under it yet, so release and retry. Until
                # this check passes the claim guards nothing and no
                # writes happen, so the transient wrong-path dir is
                # benign.
                if _lease_dir(path) != lease:
                    os.rmdir(lease)
                    continue
                break
            except FileExistsError:
                try:
                    judged_ino = os.stat(lease).st_ino
                    age = _lease_age(lease)
                except OSError:
                    continue  # holder released between mkdir and stat — retry
                if age > ttl_s and not _lease_owner_alive(lease):
                    _lease_takeover(lease, judged_ino, ttl_s)
                    continue  # retry the mkdir either way
                if time.monotonic() >= deadline:
                    raise SlotBusyError(
                        f"slot {root!r} is lease-held by another writer "
                        f"(age {age:.1f}s, ttl {ttl_s}s) and wait_s="
                        f"{wait_s} expired — append/compact must be "
                        f"single-writer per slot"
                    )
                # fixed 100 ms poll; total wait is bounded by the
                # deadline check above, not by this interval
                time.sleep(0.1)
        fence_key = (threading.get_ident(), root)
        hb = os.path.join(lease, "heartbeat")
        stop = threading.Event()
        fence: int | None = None
        owner_written = False

        def _beat() -> None:
            while not stop.wait(hb_s):
                # identity check each beat (fence in owner.json, never
                # the inode — ext4 reuses a freed inode for the very
                # next mkdir at the path): beating on a POSITIVELY
                # foreign instance would refresh the SUCCESSOR's
                # heartbeat and could keep a crashed successor's lease
                # looking alive forever. An UNREADABLE owner.json is NOT
                # a takeover verdict (r18 review #3): a transient
                # EIO/ESTALE on shared storage must not silently disable
                # the beacon mid-write — keep beating and let the next
                # beat re-check
                if _lease_instance_state(lease, fence) == "other":
                    return
                try:
                    with open(hb, "w", encoding="utf-8") as fh:
                        fh.write(str(time.time()))
                except OSError:
                    # exit only if the lease is actually GONE; a
                    # transient write failure (EIO/ESTALE/ENOSPC on
                    # shared storage) must not silently disable the
                    # beacon for the rest of a long write — that is
                    # exactly when a short TTL would let a remote
                    # waiter steal the lease mid-write
                    if not os.path.isdir(lease):
                        return

        beater = threading.Thread(
            target=_beat, name=f"wdss-lease-heartbeat:{root}", daemon=True
        )
        try:
            # fencing token (r18): drawn AFTER the claim, so acquisition
            # order serializes the counter bump; recorded per
            # (thread, root) so promote/append in this thread of control
            # publish with it. Inside the releasing try (self-review
            # #3): a failed counter write must release the claimed
            # lease, not leak an ownerless one that waiters can only
            # clear by TTL.
            fence = _draw_fence(root)
            _HELD_FENCES[fence_key] = fence
            _HELD_LEASES[fence_key] = (lease, fence)
            # O_EXCL (r18 review #1): a writer frozen past the TTL
            # between its mkdir and this write resumes AFTER a takeover
            # — a plain open('w') would overwrite the successor's
            # owner.json and INVERT the fence identity (the successor
            # gets fenced out of its own lease while the zombie's
            # verifies pass). Our own fresh instance never has an
            # owner.json, so exclusive-create succeeds exactly when the
            # instance is still ours
            try:
                fd = os.open(
                    os.path.join(lease, "owner.json"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                raise FencedWriterError(
                    f"lease claim at {lease!r} was usurped before its "
                    f"owner stamp landed — this writer was frozen past "
                    f"the TTL between claim and stamp and a successor "
                    f"holds the slot now; retry the acquisition"
                ) from None
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump({"pid": os.getpid(), "purpose": purpose,
                           "fence": fence, "at": time.time()}, fh)
            owner_written = True
            with open(hb, "w", encoding="utf-8") as fh:
                fh.write(str(time.time()))
            beater.start()
            yield root
        finally:
            _HELD_FENCES.pop(fence_key, None)
            _HELD_LEASES.pop(fence_key, None)
            stop.set()
            if beater.is_alive():
                beater.join(timeout=5.0)
            # release guard: remove only the instance WE created — if
            # the lease was (wrongly or via TTL) taken over, the path
            # now holds a successor's live lease and must survive our
            # exit. Identity is the owner.json fence (never the inode:
            # ext4 hands a freed inode straight back to the next mkdir
            # here — the r18 lease_soak finding). An unreadable
            # owner.json gets one short retry, then the lease is LEFT
            # for TTL reclaim (fail-safe: never delete what might be a
            # successor's). For an acquisition that failed before its
            # own owner stamp landed (owner_written False), the
            # instance is EMPTY, so a plain rmdir removes exactly it
            # and fails harmlessly on a successor's populated lease —
            # no inode comparison anywhere
            try:
                if owner_written:
                    state = _lease_instance_state(lease, fence)
                    if state == "unreadable":
                        time.sleep(0.01)
                        state = _lease_instance_state(lease, fence)
                    if state == "ours":
                        shutil.rmtree(lease, ignore_errors=True)
                else:
                    os.rmdir(lease)
            except OSError:
                pass  # already gone / a successor's populated lease

    return _ctx()


def promote_generation(slot: str, gen_dir: str) -> str:
    """Atomically point the slot's manifest at ``gen_dir`` (write-temp +
    os.replace — readers see the old generation or the new one, never a
    gap), then prune every other STAMPED generation EXCEPT the one that
    was live at promote time (the reader-grace window). UNSTAMPED
    generations are never pruned here (ADVICE r15 #1): an unstamped
    directory may be a concurrent builder's claimed, still-writing
    generation — rmtree'ing it mid-write and letting that builder stamp
    and promote the partially-deleted result would publish a corrupt
    index with a valid marker. Abandoned unstamped generations (crashed
    half-builds) are reclaimed by the age-gated
    ``sweep_stale_generations`` instead. Returns ``gen_dir``.

    Fencing (r18, VERDICT r17 task #4): a promote by a LEASED writer
    carries the writer's fence number; if the manifest already holds a
    HIGHER published fence, this writer's lease was taken over and a
    successor has published — raise FencedWriterError instead of
    clobbering the successor's generation. The check, the pointer
    write, and the prune run under a short-lived promote lock
    (``_promote_lock``) so the gate is atomic, not check-then-write —
    without it a zombie that read the manifest just before the
    successor's publish landed would still clobber it (r18 self-review
    #1). Unfenced promotes (ensure builds, serialized by
    claim_new_generation) keep last-promote-wins and carry the
    published fence forward unchanged, so a zombie can never launder
    its late write through an unfenced path's stamp."""
    import json
    import shutil

    with _promote_lock(slot):
        fence = _held_fence(slot)
        if fence is not None:
            # instance check FIRST (r18 lease_soak finding): the fence
            # comparison below cannot see a takeover whose successor has
            # not published yet — the manifest fence is still stale
            _verify_held_lease(slot)
        published = _manifest_fence(slot)
        if fence is not None and published > fence:
            raise FencedWriterError(
                f"promote of {gen_dir!r} carries fence {fence} but "
                f"{published} is already published for {slot!r} — this "
                f"writer's lease was taken over and the successor has "
                f"promoted; re-acquire and redo the work"
            )
        prev = resolve_generation(slot)
        manifest = os.path.join(slot, INDEX_MANIFEST)
        tmp = manifest + ".tmp"
        doc: dict = {"generation": os.path.basename(gen_dir)}
        newest = max(fence or 0, published)
        if newest:
            doc["fence"] = newest
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        if fence is not None:
            # final check DIRECTLY before the publish rename: the entry
            # check above leaves a milliseconds-wide window (manifest
            # read + resolve + tmp write) in which a writer frozen past
            # the TTL resumes and publishes over its successor — the
            # soak caught promotes slipping through exactly there. After
            # this line the exposure is one syscall
            try:
                _verify_held_lease(slot)
            except FencedWriterError:
                # never leave a tmp carrying the fenced-out writer's
                # stale stamp behind (r18 review #8)
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                raise
        os.replace(tmp, manifest)
        keep = {os.path.basename(gen_dir)}
        if prev is not None:
            keep.add(os.path.basename(prev))
        for n in _generation_dirs(slot):
            if n in keep or not os.path.isfile(
                os.path.join(slot, n, INDEX_MARKER)
            ):
                continue
            # destructive guard (r18 review #2): a promoter frozen past
            # the TTL between its publish and this prune must not delete
            # a generation its SUCCESSOR has since published — re-read
            # the manifest directly before each rmtree and never remove
            # the generation it currently names; a fenced promoter that
            # lost its lease mid-prune just stops (the publish already
            # landed; stale generations are age-swept later, so an
            # abandoned prune costs disk, never correctness)
            if fence is not None and not _still_holds(slot):
                break
            try:
                with open(manifest, encoding="utf-8") as fh:
                    current = json.load(fh).get("generation")
            except (OSError, ValueError):
                break  # cannot confirm what is live — stop deleting
            if n == current:
                continue
            shutil.rmtree(os.path.join(slot, n), ignore_errors=True)
    return gen_dir


def _tree_mtime(p: str) -> float:
    """Newest mtime anywhere under ``p`` (including ``p`` itself). The
    aging signal sweep_stale_generations needs: parquet writes land in
    SUBDIRECTORIES (assignments/, postings/, …) and do not bump the
    generation ROOT's mtime (ADVICE r16 #4), so root-mtime aging could
    reap a legitimately long in-flight build mid-write."""
    newest = os.stat(p).st_mtime
    for dirpath, dirs, files in os.walk(p):
        for n in dirs + files:
            try:
                newest = max(newest, os.stat(os.path.join(dirpath, n)).st_mtime)
            except OSError:
                pass  # writer racing the walk — its next write re-youngs
    return newest


def sweep_stale_generations(slot: str, max_age_s: float = 24 * 3600) -> list[str]:
    """Age-gated reclaim of abandoned UNSTAMPED generations — the cleanup
    half of promote_generation's never-prune-unstamped rule. A generation
    with no marker whose ENTIRE TREE hasn't been written to for
    ``max_age_s`` is a crashed or abandoned half-build (any live builder
    would have written files — somewhere under the generation — or
    stamped it by then); remove it. Aging uses the newest mtime across
    the whole tree (``_tree_mtime``, ADVICE r16 #4): parquet writes land
    in subdirectories and never bump the generation root, so root-mtime
    aging wrongly reaped long in-flight builds. The live generation and
    every stamped generation are never touched. Returns the removed
    generation names. Maintenance crons call this beside index_catalog;
    the default age is far beyond any real build duration (and the CLI
    floors --max-age-s), so a concurrent in-flight build is never at
    risk."""
    import shutil
    import time

    live = resolve_generation(slot)
    removed = []
    now = time.time()
    for n in _generation_dirs(slot):
        p = os.path.join(slot, n)
        if p == live or os.path.isfile(os.path.join(p, INDEX_MARKER)):
            continue
        try:
            age = now - _tree_mtime(p)
        except OSError:
            continue
        if age > max_age_s:
            shutil.rmtree(p, ignore_errors=True)
            removed.append(n)
    return removed


def list_generations(slot: str) -> list[dict]:
    """Every retained generation of a slot, oldest first: name, live
    flag, stamped flag (has a marker), total bytes, file count. The
    retained non-live generation is the reader-grace window — passing
    its path to any query-only half is a snapshot read of the previous
    index state (generations are immutable; the Iceberg time-travel
    shape limited to the retention window)."""
    live = resolve_generation(slot)
    out = []
    for name in sorted(_generation_dirs(slot)):
        p = os.path.join(slot, name)
        n_bytes = n_files = 0
        for dirpath, _, names in os.walk(p):
            for f in names:
                n_files += 1
                n_bytes += os.stat(os.path.join(dirpath, f)).st_size
        out.append(
            {
                "generation": name,
                "live": p == live,
                "stamped": os.path.isfile(os.path.join(p, INDEX_MARKER)),
                "bytes": n_bytes,
                "files": n_files,
            }
        )
    return out


def snapshot_generation(slot: str) -> str | None:
    """Path of the retained NON-LIVE generation — the reader-grace
    window surfaced as a snapshot read (r16, VERDICT r15 task #7):
    generations are immutable once superseded, so querying this path
    answers the index state as of the PREVIOUS promote — Iceberg-style
    time travel limited to the one-generation retention window. Prefers
    the newest stamped non-live generation (an unstamped sibling may be
    a concurrent in-flight build, not history); None when the slot
    holds no retained snapshot."""
    live = resolve_generation(slot)
    others = [
        os.path.join(slot, n)
        for n in sorted(_generation_dirs(slot))
        if os.path.join(slot, n) != live
    ]
    for p in reversed(others):
        if os.path.isfile(os.path.join(p, INDEX_MARKER)):
            return p
    return None


class SnapshotMissingError(RuntimeError):
    """ensure_snapshot_state(require=True) found no current snapshot —
    the serving-side contract raises instead of mutating the slot."""


def ensure_snapshot_state(slot: str, compact, require: bool = False) -> str:
    """Two-generation snapshot state for an index slot, created ONCE
    through the REAL maintenance path (r17 — generalizing the
    bm25/IVF snapshot entries to every family): run ONE row-preserving
    compaction if no retained snapshot exists (gated, so repeat calls
    and sweeps reuse the state), and return the snapshot generation
    path. ``compact`` takes the slot path (the family's ``compact``).

    A retained generation only counts as the snapshot if its marker's
    BUILD META matches the live generation's (ADVICE r17 #2): after a
    source/algo change rebuilds the live generation, the retained
    pre-rebuild generation is a DIFFERENT index's history — serving it
    as the snapshot would make every snapshot==live claim false. A
    lineage-mismatched retainee is treated as no-snapshot and a fresh
    one is minted by re-running the compaction (whose promote also
    prunes the stale generation).

    ``require=True`` is the SERVING-side contract (r18, VERDICT r17
    task #5): raise SnapshotMissingError instead of compacting, so a
    deployment read path never mutates the slot on a miss. Registry
    entries keep the manufacturing default (require=False). A hit reads
    only the slot's markers: no lease, fence or heartbeat is touched,
    so it never waits behind an in-flight append or compaction."""
    snap = snapshot_generation(slot)
    if snap is not None:
        live = resolve_generation(slot)
        live_meta = read_index_marker(live)[0] if live is not None else None
        if read_index_marker(snap)[0] != live_meta:
            snap = None  # stale lineage — not this index's history
    if snap is None:
        if require:
            raise SnapshotMissingError(
                f"slot {slot!r} holds no snapshot generation matching its "
                f"live lineage; run the family's compaction to mint one"
            )
        compact(slot)
        snap = snapshot_generation(slot)
    if snap is None:
        raise RuntimeError(f"no snapshot generation after compaction of {slot!r}")
    return snap


def snapshot_equals_live_claim(snap_df, live_df, on: list[str]):
    """1-row engine-decided claim frame (``snapshot_equals_live``): the
    snapshot query output equals the live one — anti-joined BOTH ways
    over the full output columns, the salted-join claim idiom
    (bm25_prebuilt_snapshot is the r16 template). Row-preserving
    compaction guarantees the claim TRUE; the oracle pins it."""
    from pyspark.sql import functions as F

    a_sl = snap_df.join(live_df, on, "left_anti").agg(
        F.count("*").alias("n_only_snap")
    )
    a_ls = live_df.join(snap_df, on, "left_anti").agg(
        F.count("*").alias("n_only_live")
    )
    return a_sl.crossJoin(F.broadcast(a_ls)).select(
        ((F.col("n_only_snap") == 0) & (F.col("n_only_live") == 0))
        .cast("int")
        .alias("snapshot_equals_live")
    )


def index_catalog(scratch: str | None = None) -> list[dict]:
    """Inventory of every stored-index slot under the scratch root (the
    ops surface for the stored index families): slot name, index kind +
    algo version from the live marker's build meta (chained append
    markers surface their BASE build meta plus the append count), live
    generation, retained generation count, and total live bytes. Only
    directories that are actually index slots are listed — a manifest or
    gen-NNNN subdirectories are required (ADVICE r15 #3: unrelated
    scratch dirs — warehouse tables,
    rehearsal data — previously polluted the inventory as kind=None
    slots). Pure filesystem — no SparkSession needed, so a maintenance
    cron can run it without executors."""
    scratch = scratch_root(scratch)
    out = []
    try:
        slots = sorted(os.listdir(scratch))
    except OSError:
        return out
    for name in slots:
        slot = os.path.join(scratch, name)
        if not os.path.isdir(slot):
            continue
        if not (
            os.path.isfile(os.path.join(slot, INDEX_MANIFEST))
            or _generation_dirs(slot)
        ):
            continue  # not an index slot — warehouse/rehearsal scratch
        live = resolve_generation(slot)
        if live is None:
            # A slot holding ONLY unstamped generations — a crashed
            # pre-promote half-build — is exactly what the sweep exists
            # to reclaim: surface it (live_generation: None) instead of
            # dropping it, or index-ops --sweep could never list nor
            # reclaim it (ADVICE r16 #3).
            out.append(
                {
                    "slot": name,
                    "kind": None,
                    "algo": None,
                    "appends": 0,
                    "live_generation": None,
                    "n_generations": len(_generation_dirs(slot)),
                    "live_bytes": None,
                    # same schema as live rows (r18 self-review #4): a
                    # cron reading row["fence"] uniformly must not
                    # KeyError on exactly the crashed slots the sweep
                    # surfaces
                    "fence": _manifest_fence(slot),
                }
            )
            continue
        meta, n_appends = read_index_marker(live)
        gens = list_generations(slot)
        live_row = next((g for g in gens if g["live"]), None)
        out.append(
            {
                "slot": name,
                "kind": (meta or {}).get("kind"),
                "algo": (meta or {}).get("algo"),
                "appends": n_appends,
                "live_generation": os.path.basename(live),
                "n_generations": len(gens),
                "live_bytes": live_row["bytes"] if live_row else None,
                # the newest PUBLISHED fence (r18): which lease instance
                # last promoted — 0 for never-leased slots
                "fence": _manifest_fence(slot),
            }
        )
    return out


def verify_index_files(gen: str) -> dict:
    """Footer-level integrity check of a generation's parquet files
    (r16, the ops half of the marker contract): a marker asserts the
    generation was BUILT completely, but cannot see bytes lost after
    the fact (a partial rmtree, a torn copy, filesystem rot). Walk every
    ``*.parquet`` under the generation and read its FOOTER via pyarrow
    — the footer is written last, so a readable footer certifies a
    complete file — and report file/corrupt counts per subdir. Pure
    pyarrow, no SparkSession: ``index-ops --check`` runs it from a cron
    and exits non-zero on any corrupt or file-less live generation."""
    import pyarrow.parquet as pq

    out: dict = {"n_files": 0, "n_corrupt": 0, "corrupt": [], "tables": {}}
    for dirpath, _dirs, files in os.walk(gen):
        pf = [f for f in files if f.endswith(".parquet")]
        if not pf:
            continue
        rel = os.path.relpath(dirpath, gen)
        t = out["tables"].setdefault(rel, {"n_files": 0, "n_corrupt": 0})
        for f in pf:
            full = os.path.join(dirpath, f)
            out["n_files"] += 1
            t["n_files"] += 1
            try:
                pq.read_metadata(full)
            except Exception:
                out["n_corrupt"] += 1
                t["n_corrupt"] += 1
                out["corrupt"].append(os.path.relpath(full, gen))
    return out


def ensure_index(slot: str, meta: dict, build) -> str:
    """The shared build-once contract for every stored index (trigram
    postings, IVF, dedup, PQ): resolve the slot's live generation; if
    its marker equals ``meta`` exactly, reuse it untouched; else call
    ``build(gen_path)`` to write a COMPLETE new generation, stamp it,
    and atomically promote the pointer. Concurrent readers of the old
    generation are never disturbed (it survives one promote)."""
    live = resolve_generation(slot)
    if live is not None and index_is_current(live, meta):
        return live
    gen = claim_new_generation(slot)
    build(gen)
    write_index_marker(gen, meta)
    return promote_generation(slot, gen)


def compact_into_generation(path: str, rewrite) -> str:
    """Shared compaction swap used by ``compact``: if ``path`` is
    a manifest-managed generation (``slot/gen-NNNN``), write the
    compacted layout as a NEW generation via ``rewrite(new_dir)``, carry
    the marker over (compaction is row-preserving — validity is
    unchanged), and atomically promote — in-flight readers of the old
    generation keep working, which in-place swap_dir cannot guarantee.
    Otherwise (an explicit flat directory) ``rewrite`` a ``__compacting``
    sibling and swap in place. Returns the live path after compaction."""
    import shutil

    slot = os.path.dirname(path.rstrip("/"))
    base = os.path.basename(path.rstrip("/"))
    managed = (
        base.startswith("gen-")
        and base[4:].isdigit()
        and os.path.isfile(os.path.join(slot, INDEX_MANIFEST))
    )
    if managed:
        # refuse to compact a NON-LIVE generation: rewriting the grace
        # generation and promoting it would silently REVERT the index to
        # its pre-promote content (every row appended since would vanish
        # from the live view) — a stale handle must fail loudly, not
        # publish old data. Callers hold the slot (slot_live) or the
        # path ensure just returned.
        live = resolve_generation(slot)
        if live is None or os.path.realpath(path) != os.path.realpath(live):
            raise ValueError(
                f"refusing to compact non-live generation {path!r}; "
                f"live is {live!r} — pass the slot or the live path"
            )
        gen = claim_new_generation(slot)
        rewrite(gen)
        marker = os.path.join(path, INDEX_MARKER)
        if os.path.isfile(marker):
            shutil.copy2(marker, os.path.join(gen, INDEX_MARKER))
        return promote_generation(slot, gen)
    tmp = path.rstrip("/") + "__compacting"
    rewrite(tmp)
    marker = os.path.join(path, INDEX_MARKER)
    if os.path.isfile(marker):
        shutil.copy2(marker, os.path.join(tmp, INDEX_MARKER))
    swap_dir(path, tmp)
    return path


# --- index families as data -------------------------------------------------
#
# The eight stored families (dedup, bm25, trigram postings, contamination,
# IVF, PQ, IVF-PQ, IVF-PQ residual) share one lifecycle, so each is
# declared as an IndexSpec next to its query code and the four operations
# below run every one of them. Every append and compaction runs under
# slot_writer_lease; builds are serialized by claim_new_generation instead
# (see slot_writer_lease).


@dataclass(frozen=True)
class RowsTable:
    """One rows table of a generation with its layout, declared once for
    build, append and compaction. ``name`` is the subdirectory ('' is the
    generation root). With ``range_keys`` the rows are range-partitioned
    by them and sorted by ``sort`` within each file, so each file covers
    a tight key range that min-max statistics prune; without, they are
    written ``partitionBy("cell")``, so each learned cell is a directory
    a probe reads by path."""

    name: str
    range_keys: tuple[str, ...] = ()
    sort: tuple[str, ...] = ()


@dataclass(frozen=True)
class StateDir:
    """A trained-state directory (centroids, codebooks), KB-scale:
    ``write(spark, value, gen)`` stores it under ``gen/name`` and
    ``read(spark, gen)`` loads it for appends. Compaction copies it
    verbatim."""

    name: str
    write: Callable
    read: Callable


@dataclass(frozen=True)
class IndexSpec:
    """One stored-index family as data.

    - ``kind``: the marker's kind, and the registry slot's scratch_path
      kind unless ``slot`` names another (a second geometry of a family);
    - ``meta``: the rest of the build marker; ``ensure`` adds ``kind``
      and the signature of the ``source`` table;
    - ``tables``: the rows tables, in write order;
    - ``encode(rows, state)``: {table name: frame} for a batch of input
      rows — a pure per-row function of (rows, stored state), which is
      what makes append ≡ build of the union;
    - ``state`` and ``train(rows)``: trained families only — the state
      dirs and the step that fits them, as {dir name: value};
    - ``rows(spark, sf_dir)``: the input rows of the registry slot; a
      ``batch`` SQL predicate over them marks the part ``ensure``
      ingests as one appended batch after building the rest."""

    kind: str
    meta: dict
    source: str
    tables: tuple[RowsTable, ...]
    encode: Callable
    rows: Callable
    batch: str | None = None
    state: tuple[StateDir, ...] = ()
    train: Callable | None = None
    slot: str | None = None


def _write_rows(spec: IndexSpec, rows, state, gen: str, mode: str) -> None:
    frames = spec.encode(rows, state)
    for t in spec.tables:
        dst = f"{gen}/{t.name}" if t.name else gen
        _write_table(t, frames[t.name], dst, mode)


def _write_table(t: RowsTable, frame, dst: str, mode: str) -> None:
    if t.range_keys:
        n_part = frame.sparkSession.sparkContext.defaultParallelism
        (
            frame.repartitionByRange(n_part, *t.range_keys)
            .sortWithinPartitions(*t.sort)
            .write.mode(mode)
            .parquet(dst)
        )
    else:
        frame.repartition("cell").write.mode(mode).partitionBy("cell").parquet(dst)


def build(spec: IndexSpec, rows, path: str, state: dict | None = None) -> None:
    """Write a complete index of ``rows`` into the directory ``path`` (a
    claimed generation, or an explicit flat directory): train the state
    unless ``state`` is given (train-then-add: state fitted on other
    rows), store it, then write every rows table."""
    if state is None and spec.train is not None:
        state = spec.train(rows)
    for d in spec.state:
        d.write(rows.sparkSession, state[d.name], path)
    _write_rows(spec, rows, state, path, "overwrite")


def append(spec: IndexSpec, rows, path: str) -> None:
    """Incremental ingest: encode a NEW batch against the stored state
    (no retraining) and blind-append its rows as their own file
    generation in every table — no merge or read-modify-write. A retried
    at-least-once batch duplicates rows; each family's query path
    dedups before any statistic, so duplicates cost bytes until
    compaction, never results. Runs under the slot writer lease (an
    append serializes behind, or fails loudly against, a concurrent
    compaction) and chains an append event onto the generation's stamp
    (``append_index_marker``). Ingest loops pass the SLOT path: every
    call re-resolves the live generation inside the lease, so appends
    keep landing in the current generation across promotes."""
    with slot_writer_lease(path, f"append_{spec.kind}"):
        live = slot_live(path)
        spark = rows.sparkSession
        state = {d.name: d.read(spark, live) for d in spec.state}
        _write_rows(spec, rows, state, live, "append")
        append_index_marker(live)


def compact(spec: IndexSpec, spark, path: str) -> str:
    """Row-preserving layout restore after appended file generations:
    copy the state dirs verbatim and rewrite every rows table once in
    its declared layout — duplicates from retried appends included, so
    query results are unchanged by construction. Manifest-managed slots
    promote an atomic pointer (in-flight readers keep their generation);
    explicit flat directories swap in place (``compact_into_generation``).
    Accepts a slot path. Returns the live index path."""
    import shutil

    with slot_writer_lease(path, f"compact_{spec.kind}"):
        live = slot_live(path)

        def rewrite(dst: str) -> None:
            for d in spec.state:
                shutil.copytree(f"{live}/{d.name}", f"{dst}/{d.name}")
            for t in spec.tables:
                src, out = (
                    (f"{live}/{t.name}", f"{dst}/{t.name}") if t.name else (live, dst)
                )
                _write_table(t, spark.read.parquet(src), out, "overwrite")

        return compact_into_generation(live, rewrite)


def ensure(spec: IndexSpec, spark, sf_dir: str) -> str:
    """Marker-gated build of the registry slot for ``sf_dir``: reuse the
    live generation untouched when its marker equals the spec's meta
    plus the source signature, else build a new generation through the
    real lifecycle — all of ``rows``, or, with a ``batch``, a build of
    the rest then one ``append`` of the batch (state trained on all
    rows), stamped after the append so the marker asserts the recorded
    two-step state — and promote it (``ensure_index``). Returns the live
    generation path."""
    meta = {
        "kind": spec.kind,
        **spec.meta,
        "source": source_signature(sf_dir, spec.source),
    }

    def _build(gen: str) -> None:
        rows = spec.rows(spark, sf_dir)
        state = spec.train(rows) if spec.train is not None else None
        if spec.batch is None:
            build(spec, rows, gen, state)
        else:
            build(spec, rows.filter(f"NOT ({spec.batch})"), gen, state)
            append(spec, rows.filter(spec.batch), gen)

    return ensure_index(scratch_path(spec.slot or spec.kind, sf_dir), meta, _build)
