"""Streaming model scoring: keep per-group quality tallies current as
documents land, using a FROZEN linear model (operators/linear.py) whose
integer weights ride the plan as literals — scoring is whole-stage
codegen inside each micro-batch, no Python and no model service.

The maintained state is the per-group tally (n_docs, n_positive,
sum_margin): every component is an integer SUM, associative and
commutative, so the folded table is IDENTICAL to scoring the full
delivered history in one batch — under any arrival order, any batch
slicing, and across checkpointed restarts. Replayed micro-batches
cannot double-count: the fold is `operators.sketch.fold_partials` behind
``stream_sketch_rollup``'s committed-batch-id guard (the exactly-once
posture of the ledgers in streaming/dedup.py).

This is the deploy leg of the curation DAG's train-then-score loop
(models/curation.py): train full-batch on the corpus, freeze the
weights, and tally arriving documents' predicted quality in flight —
the drift monitor a production corpus refresh watches between
retrains.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import fold_partials
from ..plans.materialize import TableStore
from .sketch import stream_sketch_rollup

__all__ = ["quality_tally", "stream_quality_tally"]


def quality_tally(
    df: DataFrame,
    weights: Sequence[int],
    feature_cols: Sequence[str],
    group_col: str,
) -> DataFrame:
    """Batch tally: (group, n_docs, n_positive, sum_margin) under the
    frozen integer weights — the build step of the streaming fold and
    the batch twin the equivalence tests compare against."""
    if len(weights) != len(feature_cols):
        raise ValueError(
            f"{len(weights)} weights for {len(feature_cols)} feature "
            "columns — a silent zip truncation here would tally wrong "
            "margins forever"
        )
    margin = sum(
        (F.lit(int(w)) * F.col(c) for w, c in zip(weights, feature_cols)),
        start=F.lit(0),
    ).cast("long")
    return (
        df.withColumn("_margin", margin)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
            F.sum("_margin").cast("long").alias("sum_margin"),
        )
    )


def stream_quality_tally(
    source_stream: DataFrame,
    store: TableStore,
    table: str,
    weights: Sequence[int],
    feature_cols: Sequence[str],
    group_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain ``store[table]`` = ``quality_tally`` of everything the
    stream has delivered."""
    kinds = {"n_docs": "sum", "n_positive": "sum", "sum_margin": "sum"}
    return stream_sketch_rollup(
        source_stream,
        store,
        table,
        build=lambda b: quality_tally(b, weights, feature_cols, group_col),
        merge=lambda prev, new: fold_partials([prev, new], [group_col], kinds),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
    )
