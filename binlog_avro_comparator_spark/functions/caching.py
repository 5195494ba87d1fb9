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

It also owns the session fixture store, ``materialized(spark, kind,
build, *sources)``: one directory per built intermediate (a registry
fixture, a model, a replay fold's per-batch slice), built once and
then served to every query of the process that asks for it.

- The key is ``kind`` plus a fingerprint of ``sources``: the relative
  path, size and mtime (ns) of every file under each source.  A
  rewritten input is therefore a miss, never a stale hit.  A source
  that is itself a store directory is keyed by its path alone: store
  directories never change once built.
- Every store directory, and every per-run scratch directory
  (``scratch_dir``: fold state, checkpoints), sits under one
  per-process root that an ``atexit`` hook removes when the Python
  process exits -- not at ``spark.stop()``, since a later session of
  the same process may still read them.  A build that raises leaves
  no directory behind.
- Persisted scans of a store directory need no dict of their own:
  Spark's CacheManager matches plans by path, and a store directory's
  content never changes, so ``persisted(read_stored_parquet(spark, d))``
  caches once per session (and reads the schema from the footer, so
  no read runs a schema-inference job).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

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


# --- the session fixture store ---------------------------------------------

_STORE_ROOT: str | None = None  # made on first use, removed at exit


def _store_root() -> str:
    global _STORE_ROOT
    if _STORE_ROOT is None:
        _STORE_ROOT = tempfile.mkdtemp(prefix="bacs_store_")
    return _STORE_ROOT


@atexit.register
def _remove_store() -> None:
    """Delete the store root and everything under it."""
    global _STORE_ROOT
    root, _STORE_ROOT = _STORE_ROOT, None
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)


def _in_store(path: str) -> bool:
    """Under a store directory (not a per-run scratch one)?"""
    if _STORE_ROOT is None or not path.startswith(_STORE_ROOT + os.sep):
        return False
    return not path.startswith(os.path.join(_STORE_ROOT, "runs") + os.sep)


def _fingerprint(sources) -> str:
    h = hashlib.sha256()
    for src in map(os.path.abspath, sources):
        if _in_store(src):
            h.update(f"store\0{src}\n".encode())
            continue
        h.update(b"source\n")
        for path in _files_under(src):
            st = os.stat(path)
            rel = os.path.relpath(path, src)
            h.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _files_under(src: str) -> Iterator[str]:
    if os.path.isfile(src):
        yield src
    for dirpath, dirnames, filenames in os.walk(src):
        dirnames.sort()
        for name in sorted(filenames):
            yield os.path.join(dirpath, name)


def materialized(
    spark: SparkSession, kind: str, build: Callable[[str], None], *sources: str
) -> str:
    """The store directory for (``kind``, content of ``sources``).

    ``build(dir)`` fills a fresh directory and runs only on a miss; the
    directory is renamed into place once it is complete, so a failed
    build leaves nothing behind and a concurrent builder of the same key
    simply loses the race.  ``spark`` is the session the caller builds
    with; the store itself is per process."""
    d = os.path.join(_store_root(), f"{kind}-{_fingerprint(sources)}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix=f".{kind}-", dir=os.path.dirname(d))
        try:
            build(tmp)
            os.rename(tmp, d)
        except OSError:
            if not os.path.isdir(d):  # not a lost race
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def scratch_dir(prefix: str) -> str:
    """A fresh, unkeyed directory under the store root (one run's fold
    state or checkpoint), removed with the root at exit.  Its content
    changes, so as a ``materialized`` source it is fingerprinted."""
    runs = os.path.join(_store_root(), "runs")
    os.makedirs(runs, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=runs)


def read_stored_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a parquet directory in the store,
    with the schema Spark's writer recorded in a part file's footer.
    Inferring the schema would run a Spark job on every read, and a
    store directory's schema never changes."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    meta = pq.read_schema(os.path.join(path, parts[0])).metadata if parts else {}
    spark_schema = (meta or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if spark_schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(spark_schema))).parquet(path)


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()`` once per session, as a child frame.

    Spark matches cached plans by path, so the scan of a store
    directory persists on first use and is served from memory after.
    The child ``select("*")`` keeps operator ``cache_scope``s, which
    unpersist their own frames, from ever releasing the shared one."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist()
    return df.select("*")
