"""Tracked localCheckpoint: let iterative operators free superseded
rounds deterministically.

``DataFrame.localCheckpoint(eager=True)`` pins its materialized blocks in
executor storage, and Spark only releases them when the ContextCleaner's
weak-reference queue drains — which requires a JVM GC. On a large heap a
long-lived session (a bench pass, a multi-tenant driver) can run for the
whole ``spark.cleaner.periodicGC.interval`` (default 30 min) without one,
so an O(rounds) loop leaks every superseded round's blocks until the
storage region thrashes: identical reruns of the component/k-means
operators were measured 4x slower a few invocations into a session.

``tracked_local_checkpoint`` records which RDD ids a checkpoint pinned
(diff of the context's persistent-RDD registry around the call);
``free_checkpoints`` unpersists them the moment the NEXT round's eager
checkpoint exists. Never free a checkpoint that a still-referenced
DataFrame depends on — its lineage was truncated to those very blocks and
any later action fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.

Writes through ``plans.materialize.TableStore`` need no checkpoint: every
commit lands in a fresh version directory and the snapshot being read is
only garbage-collected after the pointer swap, so a plan over a table's
own files can overwrite it directly and pins nothing.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

__all__ = [
    "tracked_local_checkpoint",
    "free_checkpoints",
    "persistent_rdd_ids",
    "release_residual_checkpoints",
    "released_checkpoints",
]

# The pinned-id attribution diffs the JVM-GLOBAL persistent-RDD registry
# around the checkpoint call; two concurrent checkpointers in one session
# (e.g. two iterative operators on parallel driver threads) would capture
# each other's ids and later free blocks a live DataFrame's truncated
# lineage depends on (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Serializing
# diff+checkpoint under one process-wide lock makes the attribution exact;
# the critical section is the checkpoint job itself, which these callers
# run back-to-back anyway.
_TRACK_LOCK = threading.Lock()


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eager localCheckpoint returning (checkpointed_df, pinned_rdd_ids).

    Only the eager form registers its blocks synchronously, so only it
    can be tracked; pass the ids to :func:`free_checkpoints` once a
    successor round has been materialized. Thread-safe: the registry
    diff and the checkpoint run atomically under a module lock.
    """
    spark = df.sparkSession
    with _TRACK_LOCK:
        before = _persistent_ids(spark)
        out = df.localCheckpoint(eager=True)
        after = _persistent_ids(spark)
    return out, sorted(after - before)


def free_checkpoints(spark, ids: list[int]) -> None:
    """Unpersist the given checkpoint RDD ids (no-op for already-freed
    ids). Non-blocking: storage drops the blocks asynchronously."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(int(i))
        if rdd is not None:
            rdd.unpersist(False)


def persistent_rdd_ids(spark) -> set[int]:
    """Snapshot of the context's persistent-RDD registry — where
    ``localCheckpoint`` blocks (eager AND lazy, once materialized)
    live until unpersisted or GC'd."""
    return _persistent_ids(spark)


def release_residual_checkpoints(spark, baseline: set[int]) -> list[int]:
    """Unpersist every persistent RDD not in ``baseline``; returns the
    ids freed.

    This is the HARNESS-side discipline for one-shot catalog queries:
    several of them lazily localCheckpoint a shared subtree (q127's
    tok/pref/sets, q237's window hashes, BPE's word table, ...) whose
    ids can't be tracked at creation — lazy checkpoints only register
    blocks when first computed, inside the CALLER's action — and whose
    release therefore rides Python GC + the ContextCleaner's weak-ref
    queue (a JVM GC away, up to spark.cleaner.periodicGC.interval =
    30 min). A long-lived session driving the full 245-query catalog
    would accumulate every query's pinned blocks between GCs; calling
    this between queries (bench.py, tests/driver_sim.py) keeps the
    registry flat. Only safe once the previous query's result has been
    fully consumed — freeing a checkpoint a live plan still depends on
    fails later actions with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, which
    is why this is NOT wired into the queries() callables themselves
    (a driver running them concurrently would free in-flight blocks).
    Library consumers outside the harness get the same discipline as a
    context manager: :class:`released_checkpoints`.
    """
    stale = sorted(_persistent_ids(spark) - set(baseline))
    free_checkpoints(spark, stale)
    return stale


class released_checkpoints:
    """The PUBLIC library-consumer form of the harness discipline: run
    one query (or any bounded unit of work) inside the block and every
    checkpoint block it left pinned is unpersisted at exit —

        with released_checkpoints(spark):
            result = q(spark, sf_dir).collect()

    Entry snapshots the persistent-RDD registry; exit frees everything
    that appeared since (the same baseline-diff as
    :func:`release_residual_checkpoints`, which bench.py and
    tests/driver_sim.py call between catalog queries). Without this, a
    long-lived single-session consumer accumulates each query's lazily
    checkpointed subtrees until a JVM GC drains the ContextCleaner
    (up to spark.cleaner.periodicGC.interval = 30 min of growth).

    The result must be FULLY CONSUMED inside the block (collect /
    write / count — any terminal action): exit truncates the lineage
    blocks a still-lazy plan would need, and a later action on an
    escaped DataFrame fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    Single-tenant by contract, like the harness calls: two concurrent
    blocks on one session would free each other's in-flight work.

    Reentrant nesting is safe (the inner block frees its own delta
    first; the outer frees whatever remains), and exceptions still
    free — the ``finally`` shape a bounded session needs.
    """

    def __init__(self, spark):
        self._spark = spark
        self._baseline: set[int] | None = None

    def __enter__(self):
        self._baseline = _persistent_ids(self._spark)
        return self

    def __exit__(self, exc_type, exc, tb):
        release_residual_checkpoints(self._spark, self._baseline or set())
        return False

