"""Upsert / SCD2 / incremental engine — SURVEY §2.9, the defining semantics
of the reference.

The reference expresses these as Snowflake `MERGE INTO`
(dags/logistics-airbyte-sql.py:25-49 and 10+ siblings;
dags/snowspark-dataframe-ETL.py:93-123 for the DataFrame-API form;
dags/2_logistics-shipment-dag.py:95-205 for composite-key merge with
window pre-dedup) and dbt incremental/snapshot materializations
(dbt/.../models/silver/*.sql, dbt/.../snapshots/customers/scd_customers.sql).

Spark-first design: a MERGE over immutable columnar storage is a
**full-outer join + column-precedence projection + atomic rewrite**, not an
in-place update. This is exactly what Delta Lake's MERGE compiles to when
most files are touched; for the high-selectivity dim/fact upserts here
(daily batches touch most partitions of small dims, and facts are
append-mostly) the join-based rewrite is the right scale strategy, with no
storage-format dependency. Materialization atomicity (write temp → swap)
lives in ``plans.materialize``.

Scale notes:
- The merge join shuffles on the key — the same shuffle Delta MERGE pays.
  For very large targets, pre-partition both sides by the key (bucketed
  tables) so the join is co-located and shuffle-free.
- The source pre-dedup (`dedup_latest`) is a window over the key: one
  shuffle, shared with the join when partitioning matches. Snowflake MERGE
  *errors* on duplicate source matches; `strict=True` replicates that.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Latest-record-wins dedup (SURVEY §W1/M3).

    `ROW_NUMBER() OVER (PARTITION BY keys ORDER BY order_by) = 1`, the
    reference's mandatory pre-MERGE guard
    (dags/2_logistics-shipment-dag.py:149-160). Callers must pass a total
    order (add a unique tiebreaker) for deterministic results — the
    reference's own ties are nondeterministic (SURVEY §7 risk register);
    we do not reproduce that bug.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_set: Mapping[str, Column] | None = None,
    insert_values: Mapping[str, Column] | None = None,
    strict: bool = False,
    delete_condition: Column | None = None,
) -> DataFrame:
    """MERGE INTO semantics (SURVEY §M1/M2) as a pure-Spark operator.

    Returns the post-merge state of ``target``:

    - WHEN MATCHED   → for each col in ``update_set``, the new value
      (expressions may reference ``t.<col>`` / ``s.<col>``); other target
      columns keep their value.
    - WHEN NOT MATCHED → a new row built from ``insert_values`` (or the
      source column of the same name when omitted and present).
    - Target rows with no source match are unchanged.

    ``update_set``/``insert_values`` expressions use the aliases ``t``
    (target) and ``s`` (source), mirroring Snowflake MERGE's
    ``tgt``/``src`` scoping.

    ``strict=True`` replicates Snowflake's duplicate-source-match error:
    raises if any key appears more than once in ``source`` (the reference
    avoids this by window pre-dedup — use ``dedup_latest`` first).

    ``delete_condition`` adds Snowflake MERGE's third clause — ``WHEN
    MATCHED AND <cond> THEN DELETE``: matched rows satisfying the
    condition (expressed over the ``t``/``s`` aliases, e.g.
    ``F.col("s.is_deleted")``) are dropped instead of updated — the CDC
    hard-delete path. The reference never issues DELETE merges, so this
    is engine surface beyond parity.
    """
    if strict:
        _require_unique(source, keys)

    t = target.alias("t")
    s = source.alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, on=cond, how="full_outer")

    matched = F.col(f"t.{keys[0]}").isNotNull() & F.col(f"s.{keys[0]}").isNotNull()
    t_only = F.col(f"s.{keys[0]}").isNull()
    if delete_condition is not None:
        joined = joined.filter(
            ~(matched & F.coalesce(delete_condition, F.lit(False)))
        )

    update_set = dict(update_set or {})
    insert_values = dict(insert_values or {})
    src_cols = set(source.columns)

    out_cols: list[Column] = []
    for c in target.columns:
        upd = update_set.get(c, F.col(f"t.{c}"))
        ins = insert_values.get(
            c, F.col(f"s.{c}") if c in src_cols else F.lit(None).cast(target.schema[c].dataType)
        )
        out_cols.append(
            F.when(matched, upd).when(t_only, F.col(f"t.{c}")).otherwise(ins).alias(c)
        )
    return joined.select(*out_cols)


def _require_unique(source: DataFrame, keys: Sequence[str]) -> None:
    """Snowflake MERGE's duplicate-source-match error (one job)."""
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge_upsert: duplicate source rows for merge key "
            f"{list(keys)}; dedup the source first (dedup_latest)"
        )


def latest_rows(
    source: DataFrame, keys: Sequence[str], order_by: Sequence[Column] = ()
) -> DataFrame:
    """Step 1 of ``upsert``: the latest row per key by ``order_by``; with
    no order, the source must be unique per key (else the duplicate-match
    error, checked now)."""
    if order_by:
        return dedup_latest(source, keys, order_by)
    _require_unique(source, keys)
    return source


def upsert(target: DataFrame | None, latest: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The write path's one upsert policy (airbyte MERGE + dbt
    ``incremental_strategy='merge'``, SURVEY §M1/§M3/§M5):

    1. ``latest = latest_rows(source, keys, order_by)`` — one row per key
       (a quality gate on the deduped rows runs between the steps);
    2. matched target rows take every non-key column source and target share;
    3. unmatched source rows are inserted, unmatched target rows kept.

    ``target=None`` (no table yet) returns ``latest``."""
    if target is None:
        return latest
    update_set = {
        c: F.col(f"s.{c}") for c in target.columns if c in latest.columns and c not in keys
    }
    return merge_upsert(target, latest, list(keys), update_set=update_set)


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    tracked_cols: Sequence[str],
    effective_ts: Column,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """SCD Type-2 snapshot (SURVEY §M6; dbt timestamp-strategy snapshot at
    dbt/.../snapshots/customers/scd_customers.sql:1-27).

    ``history`` carries the SCD2 bookkeeping columns; ``updates`` is the
    new source extract (one row per key — pre-dedup with ``dedup_latest``).
    A key is "changed" when any tracked column differs null-safely from its
    current row, or when the key is brand new. Changed keys get their
    current row closed (valid_to = effective_ts, is_current = false) and a
    new open row appended.
    """
    cur = history.filter(F.col(current_col))
    changed_expr = None
    for c in tracked_cols:
        ne = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
        changed_expr = ne if changed_expr is None else (changed_expr | ne)

    upd = updates.alias("upd")
    pair = cur.alias("cur").join(upd, on=F.col(f"cur.{key}") == F.col(f"upd.{key}"), how="inner")
    changed_keys = pair.filter(changed_expr).select(F.col(f"cur.{key}").alias(key)).distinct()
    new_keys = upd.join(history.select(key).distinct(), on=key, how="left_anti").select(key).distinct()
    affected = changed_keys.unionByName(new_keys)

    hist_cols = history.columns

    # 1. untouched history rows (non-current rows + current rows of unaffected keys)
    untouched_current = cur.join(affected, on=key, how="left_anti")
    closed_rows = (
        cur.join(changed_keys, on=key, how="left_semi")
        .withColumn(valid_to_col, effective_ts)
        .withColumn(current_col, F.lit(False))
    )
    non_current = history.filter(~F.col(current_col))

    # 2. new versions for affected keys
    new_rows = updates.join(affected, on=key, how="left_semi")
    for c in hist_cols:
        if c not in new_rows.columns:
            new_rows = new_rows.withColumn(c, F.lit(None).cast(history.schema[c].dataType))
    new_rows = (
        new_rows.withColumn(valid_from_col, effective_ts)
        .withColumn(valid_to_col, F.lit(None).cast(history.schema[valid_to_col].dataType))
        .withColumn(current_col, F.lit(True))
        .select(*hist_cols)
    )

    return (
        non_current.select(*hist_cols)
        .unionByName(untouched_current.select(*hist_cols))
        .unionByName(closed_rows.select(*hist_cols))
        .unionByName(new_rows)
    )


def scd2_as_of(
    history: DataFrame,
    as_of: Column,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time read over an SCD2 history: the version of each key
    that was current at ``as_of`` — rows with ``valid_from <= as_of`` and
    ``valid_to`` either open or after ``as_of`` (half-open intervals, so
    consecutive versions never both match). This is the query side of the
    M6 snapshot: "what did this dimension look like when the fact
    happened" joins use it as the build side, and it is a pure filter —
    no window, no join, pushed straight into the scan."""
    return history.filter(
        (F.col(valid_from_col) <= as_of)
        & (F.col(valid_to_col).isNull() | (F.col(valid_to_col) > as_of))
    )


def high_watermark(target: DataFrame, ts_col: str):
    """Read the incremental high watermark (SURVEY §M4):
    `SELECT MAX(ts) FROM target` (dags/logistics-airbyte-sql.py:35-38).
    Returns a Python scalar (None on empty target)."""
    return target.agg(F.max(ts_col)).first()[0]


def incremental_filter(source: DataFrame, ts_col: str, watermark) -> DataFrame:
    """`WHERE ts > COALESCE(watermark, -inf)` — the filter every airbyte
    MERGE and dbt incremental model applies. With date-partitioned bronze
    this predicate partition-prunes the scan (SURVEY §4)."""
    if watermark is None:
        return source
    return source.filter(F.col(ts_col) > F.lit(watermark))
