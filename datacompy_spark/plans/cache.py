"""Tracked persist ledger: bounded-lifecycle caching for operator internals.

Several operators persist an internal frame that multiple branches of the
RETURNED lazy plan consume (e.g. the normalized key frame in the
edit-distance join family feeds the index, the probe, and the exact
verify). The persist is load-bearing — without it Spark re-executes the
full upstream scan per consumer — but the returned plan is lazy, so the
function cannot know when its caller is done and the cache can drop.

In a short-lived session (CLI run, driver sweep) the leak is harmless:
the session ends, the block manager goes with it. In a long-lived
session calling such operators repeatedly (a notebook, a service), the
entries accumulate. :func:`tracked_persist` registers every such frame
in a module ledger; callers drain it explicitly:

    from datacompy_spark import release_caches
    pairs = edit_distance_pairs(docs, "doc_id", "text", max_dist=2)
    pairs.write.parquet(out)      # plan materialized — caches now idle
    release_caches()              # drop every operator-internal cache

``spark.catalog.clearCache()`` is the blunt alternative (it also drops
caches the USER created); ``release_caches`` frees exactly the frames
this library persisted and nothing else.
"""

from __future__ import annotations

import threading
from typing import List

from pyspark.sql import DataFrame

_TRACKED: List[DataFrame] = []

#: guards _TRACKED, _CHECKPOINT_SEQ and _TRACKED_CHECKPOINTS: the docstrings
#: advertise multi-consumer borrowed sessions, where concurrent register calls could
#: otherwise interleave seq increment and append and hand two checkpoints
#: the same seq — making one caller's [lo, hi) span release a neighbor's
#: blocks, the exact hazard the span API exists to prevent (r12 review).
_LEDGER_LOCK = threading.Lock()

#: ``(seq, internal-RDD id)`` pairs for frames returned by
#: ``lineage_barrier``'s localCheckpoint branch. Ids, not DataFrame
#: references: a strong ref would pin the JVM Dataset and block
#: ContextCleaner's own cleanup, and a WEAK ref is dead at every real
#: call site — operators drop the Python wrapper as soon as they return a
#: derived frame, while the checkpoint blocks stay pinned by the derived
#: plan's LogicalRDD (probed: wrapper GC does NOT free the blocks;
#: unpersisting by id from ``getPersistentRDDs`` does, even after the
#: wrapper is gone). RDD ids are monotonic per context and never reused,
#: so a stale id simply misses in the persistent-RDD map. The seq is a
#: MONOTONIC registration counter — marks are seqs, not list positions,
#: so trimming the ledger can never shift an outstanding mark onto
#: someone else's entries (r12 review finding).
_TRACKED_CHECKPOINTS: List[tuple] = []

#: next registration seq; monotone for the life of the process
_CHECKPOINT_SEQ = 0

#: soft cap: entries are two ints, but a service that calls barrier-using
#: operators forever without ever releasing shouldn't grow this unbounded.
#: Trimmed entries' blocks become unreleasable through this ledger (the
#: JVM GC + ContextCleaner path still applies) — the cap trades complete
#: coverage for a bounded footprint.
_CHECKPOINT_LEDGER_CAP = 100_000


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register in the ledger for :func:`release_caches`.

    Returns the persisted frame. Materialization stays lazy — the first
    action populates the cache, exactly as with a bare ``persist()``.
    """
    df = df.persist()
    with _LEDGER_LOCK:
        _TRACKED.append(df)
    return df


def release(*frames: DataFrame) -> None:
    """Unpersist ``frames`` now and drop them from the ledger — for an
    operator that knows its own tracked caches are idle before it returns
    (its result is already materialized), so they need not wait for
    :func:`release_caches`."""
    for df in frames:
        df.unpersist()
    with _LEDGER_LOCK:
        _TRACKED[:] = [d for d in _TRACKED if not any(d is f for f in frames)]


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Record a localCheckpoint-ed frame's internal-RDD id for
    :func:`release_checkpoints`. Lazy (eager=False) checkpoints register
    too — localCheckpoint marks the RDD persisted immediately, so the id
    is already in the persistent-RDD map before materialization."""
    global _CHECKPOINT_SEQ
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:  # noqa: BLE001 — ledger bookkeeping must never break the op
        return df
    with _LEDGER_LOCK:
        _TRACKED_CHECKPOINTS.append((_CHECKPOINT_SEQ, rdd_id))
        _CHECKPOINT_SEQ += 1
        if len(_TRACKED_CHECKPOINTS) > _CHECKPOINT_LEDGER_CAP:
            # drop the OLDEST entries; seqs are absolute, so outstanding
            # marks stay valid (they simply match fewer remaining entries)
            del _TRACKED_CHECKPOINTS[: _CHECKPOINT_LEDGER_CAP // 2]
    return df


def checkpoint_ledger_mark() -> int:
    """Current registration seq — pass to :func:`release_checkpoints` to
    release only checkpoints registered AT or AFTER this point (scoping a
    destructive release to one operator call instead of the whole
    process; a global release could kill checkpointed frames that
    unrelated consumers in a borrowed session still need). For interleaved
    consumers, bracket the span: take a mark before the call and one
    after, and pass both (``release_checkpoints(m0, m1)``)."""
    return _CHECKPOINT_SEQ


def release_caches() -> int:
    """Unpersist every ledger entry; returns how many frames were released.

    Safe to call at any time: a plan whose cache is dropped early is
    recomputed from lineage on its next action (slower, never wrong).
    Deliberately does NOT touch localCheckpoint blocks — dropping those is
    destructive (see :func:`release_checkpoints`), so it stays a separate,
    explicit call.
    """
    released = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            released += 1
        except Exception:  # noqa: BLE001 — a dead session must not raise here
            pass
    return released


def release_checkpoints(mark: int = 0, until: int = None) -> int:
    """Free the executor-local blocks of registered localCheckpoints.

    UNLIKE :func:`release_caches` this is destructive: a localCheckpoint
    TRUNCATED its frame's lineage, so once the blocks are dropped the frame
    cannot be recomputed — any later action on any plan built over it
    fails. Call it only when every consumer has fully materialized (e.g.
    after writing the results to parquet), in long-lived/borrowed sessions
    where waiting for the JVM GC + ContextCleaner to reclaim the blocks is
    not acceptable.

    ``mark``/``until`` are seqs from :func:`checkpoint_ledger_mark`:
    entries with ``mark <= seq < until`` are released (``until=None``
    means "to the end"). A consumer that may interleave with others must
    bracket its own span — take one mark before its operator calls and
    one after — so its release cannot touch checkpoints a later consumer
    registered (r12 review finding: a bare suffix release is only safe
    under strictly LIFO usage).

    Blocks Spark's ContextCleaner already reclaimed are skipped (their id
    is gone from the persistent-RDD map). Ledger entries are removed only
    AFTER ``getPersistentRDDs`` succeeds: on the early-return paths (no
    active context seen from this thread, or a transient JVM failure) the
    span stays in the ledger, so a later release call can still free the
    blocks — deleting first would make them permanently unreleasable
    through the ledger (r12 review finding). Snapshot and retire happen in
    ONE locked section keyed on the entries actually removed, so two
    concurrent releases with overlapping spans can never both claim (and
    both count) the same checkpoint — unpersist is idempotent, but the
    returned counts must partition the work (r13 review finding). Never
    raises either way.
    """
    from pyspark import SparkContext

    with _LEDGER_LOCK:  # cheap empty-span fast path; mutates nothing
        hi = _CHECKPOINT_SEQ if until is None else until
        if not any(mark <= seq < hi for seq, _ in _TRACKED_CHECKPOINTS):
            return 0
    # the blocks live on the CONTEXT (getActiveSession is thread-local and
    # may be None for a borrowed session touched from another thread)
    sc = SparkContext._active_spark_context
    if sc is None:  # no context visible from here — keep the span queued
        return 0
    try:
        persistent = sc._jsc.getPersistentRDDs()
    except Exception:  # noqa: BLE001 — a dying context must not raise here
        return 0  # transient failure — keep the span queued for retry
    # JVM handle obtained — NOW it is safe to retire the span's entries.
    # Snapshot + retire atomically: ids = exactly the entries THIS caller
    # removed, so a concurrent overlapping release sees them already gone
    # and cannot double-count.
    with _LEDGER_LOCK:
        hi = _CHECKPOINT_SEQ if until is None else until
        ids = [rid for seq, rid in _TRACKED_CHECKPOINTS if mark <= seq < hi]
        _TRACKED_CHECKPOINTS[:] = [
            (seq, rid)
            for seq, rid in _TRACKED_CHECKPOINTS
            if not (mark <= seq < hi)
        ]
    released = 0
    for rid in ids:
        try:
            jrdd = persistent.get(rid)
            if jrdd is None:  # ContextCleaner beat us to it
                continue
            jrdd.unpersist(False)
            released += 1
        except Exception:  # noqa: BLE001
            pass
    return released
