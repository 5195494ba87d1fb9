"""Cache ownership for operators that internally ``.cache()``.

Several operators cache a frame both sides of a self-join scan
(signatures, shingles, span positions) because AQE's
broadcast-conversion defeats Spark's exchange reuse and the frame
would otherwise be computed twice.  In a single query that cache is
harmless -- storage-LRU evicts it eventually -- but a long-lived
service running many corpora through those operators would accumulate
persisted frames it no longer references.

This module makes the caches owned instead of leaked:

- operators cache through ``scoped_cache(df)``, which registers the
  cached frame in a process-wide registry;
- stage boundaries and fixpoint rounds materialize through
  ``scoped_checkpoint(df)``: an eager ``localCheckpoint`` (computed
  once, lineage cut) whose RDD goes into the same registry --
  ``unpersist``/``clearCache`` never reach a checkpointed RDD, so
  without it every checkpoint outlives its caller until a JVM GC (its
  partition count is kept too, for ``functions.partitioning``);
- ``cache_scope()`` is a context manager that unpersists every frame
  registered inside its body -- the service wraps one corpus's work in
  one scope and storage returns to baseline;
- ``release_operator_caches()`` drops everything registered so far
  (the blunt instrument for REPL use).

Frames are held weakly-by-list and unpersisted with blocking=False;
unpersisting a frame that was never materialized is a no-op, so the
scope is safe even when the caller never triggered an action.  A
checkpoint is registered by RDD id, not by reference: one that no scope
releases stays collectable by Spark's ContextCleaner, as a plain
``localCheckpoint`` is.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_LIVE: list = []  # cached DataFrames and _Checkpoint handles
# plan-leaf semanticHash of each registered checkpoint -> its partitions
_CHECKPOINT_PARTS: dict[int, int] = {}


class _Checkpoint:
    """A checkpointed RDD, held by id (see the module note)."""

    def __init__(self, jsc, rdd_id: int, leaf_hash: int):
        self._jsc, self._id, self._leaf_hash = jsc, rdd_id, leaf_hash

    def unpersist(self, blocking: bool = False) -> None:
        _CHECKPOINT_PARTS.pop(self._leaf_hash, None)
        rdd = self._jsc.getPersistentRDDs().get(self._id)
        if rdd is not None:
            rdd.unpersist(blocking)


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the frame for scope-based release."""
    cached = df.cache()
    _LIVE.append(cached)
    return cached


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()`` + register its RDD for scope-based
    release.  The result is a materialized leaf: later plans read it
    instead of re-expanding ``df``'s lineage, however often they
    reference it."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    cp = df.localCheckpoint(eager=True)
    persisted = jsc.getPersistentRDDs()
    new = [i for i in set(persisted.keySet()) - before if persisted.get(i).isCheckpointed()]
    # the eager checkpoint adds exactly one checkpointed RDD; more means
    # another thread checkpointed meanwhile -- leave them all to the
    # ContextCleaner rather than risk releasing a foreign one
    if len(new) == 1:
        leaf_hash = cp._jdf.queryExecution().analyzed().semanticHash()
        _CHECKPOINT_PARTS[leaf_hash] = persisted.get(new[0]).getNumPartitions()
        _LIVE.append(_Checkpoint(jsc, new[0], leaf_hash))
    return cp


def checkpoint_partitions(leaf) -> int | None:
    """Partitions of the registered checkpoint a (JVM) plan leaf reads,
    None if it reads none.  Plan leaves are matched by semantic hash,
    which survives projections, filters and self-join re-aliasing."""
    return _CHECKPOINT_PARTS.get(leaf.semanticHash())


def release_operator_caches() -> int:
    """Unpersist every registered cache and checkpoint; returns the count."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # session already stopped -- nothing to free
            pass
    return n


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist every operator cache and checkpoint created inside
    the scope.

    Usage (a service loop over many corpora)::

        for corpus in corpora:
            with cache_scope():
                pairs = lsh_candidate_pairs(spark.read.parquet(corpus))
                pairs.write.parquet(...)
            # storage back to pre-corpus baseline here
    """
    mark = len(_LIVE)
    try:
        yield
    finally:
        tail = _LIVE[mark:]
        del _LIVE[mark:]
        for df in tail:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
