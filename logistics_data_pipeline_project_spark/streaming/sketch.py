"""Streaming sketch rollups: keep a mergeable sketch (HLL registers,
geometric histograms, KMV bottom-k, CMS counters — operators/sketch.py)
current over an unbounded stream through ``foreachBatch``.

Why this shape: streaming COUNT(DISTINCT) in complete output mode keeps
O(distinct keys) state in the state store forever; a register file is a
few KB per group, FOREVER. foreachBatch is only at-least-once, so the
fold records the last applied micro-batch id INSIDE each committed
snapshot (TableStore.overwrite(meta=...) — same atomic pointer swap as
the data) and skips any replayed batch whose id is <= the recorded one.
That makes the fold exactly-once for ALL mergeable sketches, including
the non-idempotent sum-based ones (CMS counters, geometric histograms)
that a bare replay would double-count; for idempotent merges (HLL max,
Bloom OR, KMV bottom-k) the skip is merely an optimization. The
maintained sketch is IDENTICAL to the batch sketch of the full history
(merge associativity), which is what the tests assert.

The same ``build``/``merge`` pair works in batch backfills
(plans/incremental.py) and here — one sketch definition, three
refresh modes (batch, incremental, streaming). Every group-by merge,
here and there, is `operators.sketch.fold_partials`; ``merge`` stays a
callable because KMV's bottom-k merge is not a group-by fold."""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import hll_registers, merge_hll_sketches
from ..plans.materialize import TableStore


def stream_sketch_rollup(
    source_stream: DataFrame,
    store: TableStore,
    table: str,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain ``store[table]`` = merge-fold of ``build`` over every
    micro-batch. ``build`` turns a batch into a sketch DataFrame;
    ``merge`` folds two sketches into one (must be associative +
    commutative — NOT necessarily idempotent: replayed micro-batches
    are detected via the batch id committed with each snapshot and
    skipped, so sum-based merges like CMS never double-count). Each
    micro-batch commits one atomic TableStore snapshot, so readers never
    observe a half-applied batch and a bad batch is one ``rollback``
    away."""
    if not checkpoint_dir:
        raise ValueError(
            "checkpoint_dir is required: the exactly-once fold relies on "
            "the stream's checkpointed batch ids surviving restarts"
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sk = build(batch_df)
        if store.exists(table):
            m = store.meta(table)
            # batch ids are only comparable within ONE checkpoint lineage;
            # a fresh checkpoint restarts ids at 0 and must never be skipped
            if (
                m.get("checkpoint_dir") == checkpoint_dir
                and m.get("last_batch_id") is not None
                and batch_id <= int(m["last_batch_id"])
            ):
                return  # replayed batch — already folded into the snapshot
            sk = merge(store.read(table), sk)
        store.overwrite(
            table,
            sk,
            meta={"last_batch_id": batch_id, "checkpoint_dir": checkpoint_dir},
        )

    writer = (
        source_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hll_distinct(
    source_stream: DataFrame,
    store: TableStore,
    table: str,
    key_col: str,
    checkpoint_dir: str,
    keys: Sequence[str] = (),
    available_now: bool = True,
    index_chars: int = 2,
    rank_chars: int = 12,
) -> StreamingQuery:
    """Streaming distinct-count registers: all-time unique ``key_col``
    per ``keys`` maintained as an HLL register file (estimate at read
    time via `operators.sketch.hll_estimate`). State is ≤ 16^index_chars
    rows per group regardless of stream length — the streaming twin of
    q136's batch sketch, sharing its bit-deterministic register math."""
    return stream_sketch_rollup(
        source_stream,
        store,
        table,
        build=lambda b: hll_registers(
            b, key_col, keys=keys, index_chars=index_chars, rank_chars=rank_chars
        ),
        merge=merge_hll_sketches,
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
    )
