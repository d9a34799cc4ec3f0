"""Materialization of intermediates in the ext pipelines: the one module
in sparksync/ext/ that persists, checkpoints or frees a DataFrame.

Each call site picks one kind:

- `_persist`: a MEMORY_AND_DISK persist whose lifetime the caller owns;
  the caller frees it with `_release`.
- `_pin`: `_persist` owned by a bounded FIFO registry instead, for
  relations whose consumers outlive the call that built them;
  `release_pinned()` drops them all between batch runs.
- `_checkpoint`: a local checkpoint, eager or lazy, that truncates the
  plan to an RDD leaf.
- `_release`: frees a DataFrame's blocks now, whichever kind holds them.

Fault tolerance: localCheckpoint stores its blocks on executors, which
lose them with the executor, and a truncated lineage cannot recompute
them. Long-running jobs on a multi-node cluster need
`sc.setCheckpointDir` + `.checkpoint()` for fault-tolerant truncation;
`_checkpoint` is the one place that choice is made.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Every pinned relation. A long-lived session chaining many calls (e.g.
# rfm_segments pins three per invocation) would otherwise accumulate
# cached relations until executor storage evicts them: pins are FIFO
# with a small cap, and release_pinned() drops them all between batch
# runs. Eviction is materialization-aware: for global_rank/global_cumsum
# the persist is correctness-critical until the first action (without it the rank and offset subtrees can draw
# different repartitionByRange sample bounds and misalign), so only
# pins whose column buffers have actually been loaded are evicted
# silently; an un-materialized pin is evicted only past the 4x hard
# cap, with a loud warning.
_PINNED: list = []
_PIN_CAP = 16
_PIN_HARD_CAP = 64


def _cached_data(df: DataFrame):
    """The java CachedData entry backing this relation, or None when
    the relation is not in the cache manager (never persisted, or
    already unpersisted — a dead pin)."""
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        opt = cm.lookupCachedData(df._jdf)
        return None if opt.isEmpty() else opt.get()
    except Exception:
        return None


def _pin_state(df: DataFrame) -> str:
    """'dead' (no cache entry — unpersisted out from under us),
    'unmat' (cached but the column buffers never loaded: evicting
    would let a not-yet-run plan recompute with different
    range-sampler bounds), or 'mat' (buffers loaded; safe to evict).
    Fails open to 'mat': if the internal cache-manager probe breaks on
    a Spark upgrade, eviction degrades to plain FIFO instead of
    leaking pins."""
    try:
        cd = _cached_data(df)
        if cd is None:
            return "dead"
        loaded = cd.cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
        return "mat" if loaded else "unmat"
    except Exception:
        return "mat"


def _persist(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _pin(df: DataFrame) -> DataFrame:
    df = _persist(df)
    # Identical logical plans share ONE cache-manager entry (persist on
    # an already-cached plan is a no-op). A duplicate registry row for
    # a shared entry is a hazard: evicting the old row unpersists the
    # NEW pin too. Refresh the existing row's recency instead.
    cd = _cached_data(df)
    if cd is not None:
        for i, (d, c) in enumerate(_PINNED):
            if c is not None and cd.equals(c):
                _PINNED.append(_PINNED.pop(i))
                return df
    _PINNED.append((df, cd))
    # purge rows whose cache entry is gone (unpersisted externally or
    # via a shared-entry eviction) — nothing left to release
    _PINNED[:] = [(d, c) for d, c in _PINNED if _pin_state(d) != "dead"]
    while len(_PINNED) > _PIN_CAP:
        victim_i = next(
            (i for i, (d, c) in enumerate(_PINNED) if _pin_state(d) == "mat"),
            None,
        )
        if victim_i is None:
            if len(_PINNED) > _PIN_HARD_CAP:
                import warnings

                warnings.warn(
                    "sparksync: evicting an UN-materialized correctness pin "
                    f"(> {_PIN_HARD_CAP} live un-materialized pins). A plan "
                    "built on the evicted relation may recompute with "
                    "different range-sampler bounds; materialize or "
                    "release_pinned() between batches.",
                    RuntimeWarning,
                    stacklevel=2,
                )
                _PINNED.pop(0)[0].unpersist(blocking=False)
                continue
            break  # soft cap: keep un-materialized pins alive
        _PINNED.pop(victim_i)[0].unpersist(blocking=False)
    return df


def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    return df.localCheckpoint(eager=eager)


def _release(df: DataFrame) -> None:
    """Free df's storage blocks NOW and drop its registry row; call it
    once nothing reads df again.

    A persisted or pinned df is unpersisted through the CacheManager.
    ``DataFrame.unpersist()`` is a no-op for checkpoint blocks (they
    are persisted directly on the internal RDD), which would leave them
    until the ContextCleaner gets to them; the LogicalRDD at the root
    of a checkpointed plan exposes that RDD, so it is unpersisted
    directly. Best-effort: on any py4j / plan-shape surprise we fall
    back to the (lazy) ContextCleaner."""
    _PINNED[:] = [(d, c) for d, c in _PINNED if d is not df]
    if df.is_cached:
        df.unpersist(False)
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        df.unpersist()


def release_pinned() -> None:
    """Unpersist every pinned relation. Call between batch runs in a
    long-lived session (after the returned DataFrames have been
    materialized)."""
    while _PINNED:
        _PINNED.pop()[0].unpersist(blocking=False)
