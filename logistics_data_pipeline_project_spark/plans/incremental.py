"""Incremental maintenance of materialized aggregates.

The reference's incremental models (SURVEY §M4/M5) are ROW-level: filter
source rows past a high watermark, MERGE them into a silver table, then
rebuild gold aggregates from scratch. At 100 TB the rebuild is the cost —
a daily gold mart over two years of facts re-reads 730 days to add one.

``incremental_rollup`` maintains the aggregate itself: only delta rows are
scanned and partially aggregated, and the stored DECOMPOSABLE partials
(sum / count / min / max / HLL sketch) are merged by key through
`operators.sketch.fold_partials` — the same partial/final split Spark's
own hash aggregate uses, persisted across runs, with each measure keeping
its first-run dtype. Incremental cost
is O(delta + |groups|), independent of history size. Non-decomposable
metrics (avg, ratios) are derived from the partials at read time.

Backed by the versioned ``TableStore`` (atomic snapshot commits), so a bad
batch is one ``rollback`` away and the previous rollup stays readable
while the next one is computed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.merge import high_watermark, incremental_filter
from ..operators.sketch import fold_partials
from .materialize import TableStore

#: The delta-side partial of each measure kind; `fold_partials` merges
#: them with the stored ones.
_PARTIAL = {
    "count": lambda col: F.count(col if col != "*" else F.lit(1)),
    # exact decimal so the merged result is independent of how history
    # was split into increments (float partials would drift per path)
    "sum": lambda col: F.sum(F.col(col).cast("decimal(27,2)")),
    "min": F.min,
    "max": F.max,
    # COUNT DISTINCT has no decomposable exact partial, but its HLL sketch
    # is a fixed-size mergeable one: registers merge by max, so union is
    # associative/commutative and the maintained sketch is IDENTICAL to a
    # full recompute no matter how history was sliced into increments.
    # The stored partial is the sketch binary; estimates are derived at
    # read time (`rollup_distinct_estimate`).
    "approx_distinct": F.hll_sketch_agg,
}


def incremental_rollup(
    store: TableStore,
    name: str,
    source: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    cursor_col: str,
) -> DataFrame:
    """Fold ``source`` rows newer than the stored watermark into the
    materialized rollup ``name`` and return the updated rollup.

    ``measures`` maps output column → (input column, kind) with kind one
    of ``sum | count | min | max | approx_distinct`` (decomposable
    partials). The high watermark rides in the rollup table itself (max
    of ``cursor_col``), so rollup + watermark commit atomically in ONE
    snapshot — no separate state table to drift out of sync.
    """
    for alias, (_, kind) in measures.items():
        if kind not in _PARTIAL:
            raise ValueError(f"measure {alias!r}: kind must be one of {set(_PARTIAL)}")
    wm_col = "__cursor_wm"
    prev = store.read(name) if store.exists(name) else None
    # a NULL watermark means the stored rollup has processed no rows yet
    # (e.g. the first increment was empty) — take everything; `cursor >
    # NULL` would silently drop the whole source
    prev_wm = None if prev is None else high_watermark(prev, wm_col)
    delta = incremental_filter(source, cursor_col, prev_wm)
    part = delta.groupBy(*keys).agg(
        *[_PARTIAL[kind](col).alias(a) for a, (col, kind) in measures.items()],
        F.max(cursor_col).alias(wm_col),
    )
    if prev is not None:
        part = fold_partials(
            [prev, part], keys, {a: kind for a, (_, kind) in measures.items()}
        )
    # every delta row is newer than the stored watermark, so the table's
    # new watermark is the delta's max, or the stored one when the delta
    # is empty. It is broadcast onto every row and stays typed even when
    # it is None (an untyped null would drift the schema and break the
    # next run's unionByName)
    wm = high_watermark(delta, cursor_col)
    wm = prev_wm if wm is None else wm
    merged = part.withColumn(
        wm_col, F.lit(wm).cast(delta.schema[cursor_col].dataType)
    )
    store.overwrite(name, merged)
    return store.read(name)


def read_rollup(store: TableStore, name: str) -> DataFrame:
    """Read a maintained rollup without its internal watermark column."""
    return store.read(name).drop("__cursor_wm")


def rollup_distinct_estimate(df: DataFrame, sketch_cols: list[str]) -> DataFrame:
    """Replace maintained ``approx_distinct`` sketch columns with their
    cardinality estimates (the read-time derivation, like avg from
    sum/count). The sketches themselves stay queryable for further
    union-merging — e.g. rolling daily sketches up to months."""
    out = df
    for c in sketch_cols:
        out = out.withColumn(c, F.hll_sketch_estimate(F.col(c)))
    return out


def incremental_join_rollup(
    store: TableStore,
    name: str,
    builder,
    a_prev: DataFrame | None,
    delta_a: DataFrame | None,
    b_full: DataFrame,
    delta_b: DataFrame | None,
    keys: list[str],
    measures: dict[str, str],
) -> DataFrame:
    """Maintain a JOIN-aggregate rollup R = builder(A, B) under
    insert-only deltas — the delta-join form of incremental view
    maintenance (Blakeley et al., SIGMOD 1986), so a fact⋈fact gold
    mart refreshes by touching the DELTAS, never the joined history:

        A_new ⋈ B_new = A_prev ⋈ B_prev  ∪  ΔA ⋈ B_new  ∪  A_prev ⋈ ΔB

    (ΔA⋈ΔB pairs are counted exactly once because ΔA joins B_NEW, which
    already contains ΔB). ``builder(a_df, b_df)`` must produce ``keys``
    plus measure partials that are decomposable over the joined PAIR
    multiset — join + groupBy + sum/count/min/max aggregates are; ratios
    and averages must stay as partials and derive at read time, exactly
    as in `incremental_rollup`. Each refresh costs O(ΔA⋈B + A⋈ΔB +
    |groups|): with daily deltas against a date-partitioned fact both
    delta joins prune to slivers, and a small ΔA broadcasts — at 100 TB
    this is the difference between re-joining two years of facts and
    joining one day against an indexed table.

    Pass the deltas from `TableStore.changes` (the row-level change feed)
    or any append stream; ``a_prev`` may be None when ``delta_a`` is the
    entire A (first load). Re-folding the SAME delta twice double-counts
    — feed each committed change exactly once (the changes() feed between
    pinned snapshot versions gives exactly that).

    ``measures`` maps measure column → kind (``sum | count | min |
    max``); insert-only growth is what makes min/max mergeable here.
    Results are committed as one atomic TableStore snapshot and the
    updated rollup is returned."""
    for col, kind in measures.items():
        if kind not in ("sum", "count", "min", "max"):
            raise ValueError(f"measure {col!r}: kind must be sum|count|min|max")
    parts: list[DataFrame] = []
    if delta_a is not None:
        parts.append(builder(delta_a, b_full))
    if delta_b is not None:
        if a_prev is None:
            raise ValueError("delta_b requires a_prev (A before this batch)")
        parts.append(builder(a_prev, delta_b))
    if not parts:
        return store.read(name)
    if store.exists(name):
        parts.append(store.read(name))
    store.overwrite(name, fold_partials(parts, keys, measures))
    return store.read(name)
