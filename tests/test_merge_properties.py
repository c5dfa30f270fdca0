"""Property-based tests (hypothesis) for the merge engine — the custom
primitive everything else depends on (SURVEY §7 Phase 2 calls out
idempotence and multi-match semantics as the explicit risks).

Properties:
- merge keys  = union of target and source keys; source wins on match
- idempotence: merging the same (deduped) source twice == once
- full-rebuild equivalence: watermark-incremental merge over two batches
  == one merge of the deduped union
- SCD2 invariants: exactly one current row per key, history only grows,
  closed rows carry the effective timestamp
- SCD2 differential: the one-join ``scd2_apply`` equals the earlier
  six-join form (kept below as the oracle) on histories with NULL keys,
  closed-only keys, unchanged rows, new keys and NULL tracked values
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from logistics_data_pipeline_project_spark.operators.merge import (
    dedup_latest,
    high_watermark,
    incremental_filter,
    merge_upsert,
    scd2_apply,
)

SCHEMA = StructType(
    [
        StructField("k", IntegerType()),
        StructField("v", StringType()),
        StructField("ts", LongType()),
    ]
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=0, max_value=50),
    ),
    min_size=0,
    max_size=20,
)

def SET_V():
    # built lazily: Column exprs need an active SparkContext
    return {"v": F.col("s.v"), "ts": F.col("s.ts")}

prop = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame([tuple(r) for r in data], SCHEMA)


def _latest_by_key(data):
    best = {}
    for k, v, ts in data:
        # tiebreak (ts desc, v desc) mirrors dedup_latest's total order
        if k not in best or (ts, v) > (best[k][2], best[k][1]):
            best[k] = (k, v, ts)
    return best


@pytest.mark.usefixtures("spark")
class TestMergeProperties:
    @given(tgt=rows, src=rows)
    @prop
    def test_merge_key_union_and_source_wins(self, spark, tgt, src):
        target = _df(spark, _latest_by_key(tgt).values())
        source = dedup_latest(_df(spark, src), ["k"], [F.desc("ts"), F.desc("v")])
        merged = merge_upsert(target, source, ["k"], update_set=SET_V(), strict=True)
        got = {r["k"]: (r["v"], r["ts"]) for r in merged.collect()}

        want = {k: (v, ts) for k, (_, v, ts) in _latest_by_key(tgt).items()}
        want.update({k: (v, ts) for k, (_, v, ts) in _latest_by_key(src).items()})
        assert got == want

    @given(tgt=rows, src=rows)
    @prop
    def test_merge_idempotent(self, spark, tgt, src):
        target = _df(spark, _latest_by_key(tgt).values())
        source = dedup_latest(_df(spark, src), ["k"], [F.desc("ts"), F.desc("v")])
        once = merge_upsert(target, source, ["k"], update_set=SET_V(), strict=True)
        twice = merge_upsert(once, source, ["k"], update_set=SET_V(), strict=True)
        assert {tuple(r) for r in once.collect()} == {tuple(r) for r in twice.collect()}

    @given(batch1=rows, batch2=rows)
    @prop
    def test_disjoint_batches_commute(self, spark, batch1, batch2):
        """Snowflake MERGE applies disjoint-key batches in either order
        with the same result; a join-rewrite can silently break that
        (e.g. if un-matched target rows leak or dup). Keys are forced
        disjoint by parity-splitting the generated keys."""
        b1 = [(k, v, ts) for k, v, ts in batch1 if k % 2 == 0]
        b2 = [(k, v, ts) for k, v, ts in batch2 if k % 2 == 1]
        order = [F.desc("ts"), F.desc("v")]
        tgt = _df(spark, [])
        s1 = dedup_latest(_df(spark, b1), ["k"], order)
        s2 = dedup_latest(_df(spark, b2), ["k"], order)
        ab = merge_upsert(
            merge_upsert(tgt, s1, ["k"], update_set=SET_V(), strict=True),
            s2, ["k"], update_set=SET_V(), strict=True,
        )
        ba = merge_upsert(
            merge_upsert(tgt, s2, ["k"], update_set=SET_V(), strict=True),
            s1, ["k"], update_set=SET_V(), strict=True,
        )
        assert {tuple(r) for r in ab.collect()} == {tuple(r) for r in ba.collect()}

    @given(batch1=rows, batch2=rows)
    @prop
    def test_incremental_equals_full_rebuild(self, spark, batch1, batch2):
        order = [F.desc("ts"), F.desc("v")]
        empty = _df(spark, [])
        s1 = dedup_latest(_df(spark, batch1), ["k"], order)
        state = merge_upsert(empty, s1, ["k"], update_set=SET_V())

        wm = high_watermark(state, "ts")
        s2_new = dedup_latest(
            incremental_filter(_df(spark, batch2), "ts", wm), ["k"], order
        )
        state = merge_upsert(state, s2_new, ["k"], update_set=SET_V())
        got = {tuple(r) for r in state.collect()}

        # full rebuild: batch1 first, then batch2 rows above the same
        # watermark (watermark semantics drop batch2 rows at/below max ts)
        survivors = list(_latest_by_key(batch1).values())
        late = [r for r in batch2 if wm is None or r[2] > wm]
        merged = _latest_by_key(survivors)
        for k, (_, v, ts) in _latest_by_key(late).items():
            merged[k] = (k, v, ts)
        assert got == {tuple(r) for r in merged.values()}


HIST_SCHEMA = StructType(
    [
        StructField("k", IntegerType()),
        StructField("v", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
        StructField("is_current", BooleanType()),
    ]
)

upd_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=0,
    max_size=8,
)


def _scd2_apply_oracle(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    tracked_cols,
    effective_ts,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """The six-join, two-distinct SCD2 form ``scd2_apply`` replaced: the
    changed and new keys are collected first, then every history row is
    routed to untouched / closed, and the affected keys' updates are
    opened."""
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
    untouched_current = cur.join(affected, on=key, how="left_anti")
    closed_rows = (
        cur.join(changed_keys, on=key, how="left_semi")
        .withColumn(valid_to_col, effective_ts)
        .withColumn(current_col, F.lit(False))
    )
    non_current = history.filter(~F.col(current_col))

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


DIFF_HIST_SCHEMA = (
    "k int, v string, w string, valid_from timestamp, valid_to timestamp, is_current boolean"
)
_maybe_key = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
_maybe_v = st.sampled_from([None, "a", "b"])
diff_hist_rows = st.lists(
    # (key, tracked v, untracked w, is_current)
    st.tuples(_maybe_key, _maybe_v, st.sampled_from([None, "x"]), st.booleans()),
    max_size=10,
)
diff_upd_rows = st.dictionaries(
    # unique update keys, as scd2_apply requires; None is one of them
    _maybe_key,
    st.tuples(_maybe_v, st.sampled_from([None, "x", "y"])),
    max_size=6,
)


def _diff_history(rows):
    """At most one current row per non-NULL key (the SCD2 invariant);
    closed rows end a day after they start."""
    t0 = dt.datetime(2024, 1, 1)
    seen, out = set(), []
    for i, (k, v, w, current) in enumerate(rows):
        current = current and (k is None or k not in seen)
        if current:
            seen.add(k)
        start = t0 + dt.timedelta(days=i)
        out.append((k, v, w, start, None if current else start + dt.timedelta(days=1), current))
    return out


@pytest.mark.usefixtures("spark")
class TestScd2Properties:
    @given(hist=diff_hist_rows, updates=diff_upd_rows)
    @prop
    def test_scd2_one_join_matches_oracle(self, spark, hist, updates):
        history = spark.createDataFrame(_diff_history(hist), DIFF_HIST_SCHEMA)
        upd = spark.createDataFrame(
            [(k, v, w) for k, (v, w) in updates.items()], "k int, v string, w string"
        )
        ts = F.lit(dt.datetime(2024, 3, 1)).cast("timestamp")
        got = scd2_apply(history, upd, "k", ["v"], ts)
        want = _scd2_apply_oracle(history, upd, "k", ["v"], ts)
        assert got.columns == want.columns
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))

    @given(updates1=upd_rows, updates2=upd_rows)
    @prop
    def test_scd2_invariants(self, spark, updates1, updates2):
        hist = spark.createDataFrame([], HIST_SCHEMA)
        t1 = dt.datetime(2024, 1, 1)
        t2 = dt.datetime(2024, 2, 1)
        for updates, ts in ((updates1, t1), (updates2, t2)):
            latest = {}
            for k, v in updates:
                latest[k] = v  # last row per key wins in the fixture
            upd = spark.createDataFrame(
                [(k, v) for k, v in latest.items()], "k int, v string"
            )
            prev_count = hist.count()
            hist = scd2_apply(hist, upd, "k", ["v"], F.lit(ts).cast("timestamp"))
            assert hist.count() >= prev_count  # history only grows

        rows_ = hist.collect()
        by_key = {}
        for r in rows_:
            by_key.setdefault(r["k"], []).append(r)
        for k, krows in by_key.items():
            current = [r for r in krows if r["is_current"]]
            assert len(current) == 1, f"key {k}: {len(current)} current rows"
            assert current[0]["valid_to"] is None
            for r in krows:
                if not r["is_current"]:
                    assert r["valid_to"] is not None
                    assert r["valid_to"] >= r["valid_from"]

        # final current values equal last-write-wins over both batches
        want = {}
        for updates in (updates1, updates2):
            for k, v in updates:
                want[k] = v
        got = {r["k"]: r["v"] for r in rows_ if r["is_current"]}
        assert got == want

    @given(updates=upd_rows)
    @prop
    def test_scd2_rerun_idempotent(self, spark, updates):
        """Re-running the same snapshot (a replayed batch / backfill
        rerun) must be a no-op: no rows close, no rows open — the
        dbt-snapshot guarantee a naive join-rewrite breaks by re-opening
        unchanged keys. Applies even at a LATER effective timestamp."""
        latest = {}
        for k, v in updates:
            latest[k] = v
        upd = spark.createDataFrame(
            [(k, v) for k, v in latest.items()], "k int, v string"
        )
        hist = spark.createDataFrame([], HIST_SCHEMA)
        t1 = dt.datetime(2024, 1, 1)
        t2 = dt.datetime(2024, 2, 1)
        once = scd2_apply(hist, upd, "k", ["v"], F.lit(t1).cast("timestamp"))
        again = scd2_apply(once, upd, "k", ["v"], F.lit(t2).cast("timestamp"))
        assert {tuple(r) for r in once.collect()} == {
            tuple(r) for r in again.collect()
        }


@pytest.mark.usefixtures("spark")
class TestIncrementalRollupProperties:
    rollup_rows = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # day (cursor)
            st.sampled_from(["a", "b", "c"]),  # key
            st.integers(min_value=-50, max_value=50),  # value
        ),
        min_size=1,
        max_size=20,
    )

    @given(data=rollup_rows, cut=st.integers(min_value=1, max_value=4))
    @prop
    def test_any_slicing_matches_full_recompute(self, spark, tmp_path_factory, data, cut):
        from logistics_data_pipeline_project_spark.plans import (
            TableStore,
            incremental_rollup,
            read_rollup,
        )

        store = TableStore(
            spark, str(tmp_path_factory.mktemp("wh")), retain_versions=1
        )
        full = spark.createDataFrame(data, "day int, k string, v int")
        measures = {
            "n": ("*", "count"),
            "total": ("v", "sum"),
            "vmin": ("v", "min"),
            "vmax": ("v", "max"),
        }
        # arbitrary cut point: rows ≤ cut first, then everything
        incremental_rollup(
            store, "r", full.filter(F.col("day") <= cut), ["k"], measures, "day"
        )
        incremental_rollup(store, "r", full, ["k"], measures, "day")
        got = {
            r["k"]: (r["n"], float(r["total"]), r["vmin"], r["vmax"])
            for r in read_rollup(store, "r").collect()
        }
        want = {
            r["k"]: (r["n"], float(r["total"]), r["vmin"], r["vmax"])
            for r in full.groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(27,2)")).alias("total"),
                F.min("v").alias("vmin"),
                F.max("v").alias("vmax"),
            )
            .collect()
        }
        assert got == want
