"""Plan-level tests for the scale operators: bucketed joins must not
shuffle, salted ops must match their plain equivalents, partitioned
layout must prune at the scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.io_utils import load
from logistics_data_pipeline_project_spark.operators.scale import (
    day_partition,
    fan_out,
    overwrite_partitioned,
    salted_aggregate,
    salted_join,
    write_bucketed,
    write_zordered,
    zorder_key,
)


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path, no_broadcast):
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, str(tmp_path / "b_orders"),
        sorted_by=["o_orderkey"],
    )
    write_bucketed(
        lineitem, "b_lineitem", ["l_orderkey"], 8, str(tmp_path / "b_lineitem"),
        sorted_by=["l_orderkey"],
    )
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _explain(joined)
        assert "Exchange" not in plan, "bucketed equi-join must not shuffle"
        # co-located join still returns the right answer
        expected = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    aggs = {
        "n_events": (F.count(F.lit(1)), "count"),
        "sum_value": (F.sum(F.col("value").cast("decimal(18,2)")), "sum"),
        "min_ts": (F.min("ts"), "min"),
        "max_ts": (F.max("ts"), "max"),
    }
    plain = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(*[c.alias(a) for a, (c, _) in aggs.items()])
        .collect()
    }
    salted = {
        r["event_type"]: r
        for r in salted_aggregate(ev, ["event_type"], aggs, n_salts=8).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        for c in ("n_events", "sum_value", "min_ts", "max_ts"):
            assert plain[k][c] == salted[k][c], (k, c)


def test_salted_aggregate_merges_by_declared_kind(spark, sf_dir):
    """Phase 2 merges each column by the kind it is declared with, not by
    its alias: 'lowest'/'highest' are a min and a max, and over 8 salts
    summing the salt minima would give a different answer."""
    ev = load(spark, sf_dir, "events")
    aggs = {
        "lowest": (F.min("value"), "min"),
        "highest": (F.max("value"), "max"),
        "rows": (F.count(F.lit(1)), "count"),
        "total": (F.sum(F.col("value").cast("decimal(18,2)")), "sum"),
    }
    plain = ev.groupBy("event_type").agg(*[c.alias(a) for a, (c, _) in aggs.items()])
    salted = salted_aggregate(ev, ["event_type"], aggs, n_salts=8)
    assert salted.dtypes == plain.dtypes
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_salted_join_matches_plain(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, customer, "o_custkey", n_salts=4)
        .groupBy("c_mktsegment")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_partitioned_layout_prunes_scan(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").withColumn("load_date", day_partition("ts"))
    reader = overwrite_partitioned(
        spark, ev, str(tmp_path / "bronze_events"), ["load_date"]
    )
    watermark = "1995-06-01"
    pruned = reader.filter(F.col("load_date") > F.lit(watermark).cast("date"))
    plan = _explain(pruned)
    assert "PartitionFilters: [" in plan
    # the partition predicate must appear in PartitionFilters (pruning),
    # not only as a post-scan Filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "load_date" in pf
    exact = ev.filter(F.col("ts").cast("date") > F.lit(watermark).cast("date")).count()
    assert pruned.count() == exact


def test_fan_out_widens_narrow_input_only(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").coalesce(1)
    wide = fan_out(docs)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # rows unchanged, only redistributed
    assert wide.count() == docs.count()
    # an already-wide input passes through without an added exchange
    already = docs.repartition(spark.sparkContext.defaultParallelism)
    assert fan_out(already) is already


def test_zorder_key_interleaves_bits(spark):
    # x=0b101, y=0b011 -> x bits at even positions, y bits at odd:
    # pos0=x0=1, pos1=y0=1, pos2=x1=0, pos3=y1=1, pos4=x2=1, pos5=y2=0
    # = 1 + 2 + 8 + 16 = 27
    row = (
        spark.range(1)
        .select(zorder_key([F.lit(5), F.lit(3)], bits=3).alias("z"))
        .first()
    )
    assert row["z"] == 27


def test_zorder_layout_shrinks_spans_on_both_dims(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        ),
    )
    n_files = 16
    path = str(tmp_path / "zorder_events")
    write_zordered(ev, ["user_id", "day"], path, n_files=n_files, bits=8)

    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("day"), F.max("day")
    ).first()
    user_span = stats[1] - stats[0]
    day_span = stats[3] - stats[2]

    spans = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.read_metadata(f)
        cols = {
            md.schema.column(i).name: i for i in range(md.schema.names.__len__())
        }
        umin = min(
            md.row_group(g).column(cols["user_id"]).statistics.min
            for g in range(md.num_row_groups)
        )
        umax = max(
            md.row_group(g).column(cols["user_id"]).statistics.max
            for g in range(md.num_row_groups)
        )
        dmin = min(
            md.row_group(g).column(cols["day"]).statistics.min
            for g in range(md.num_row_groups)
        )
        dmax = max(
            md.row_group(g).column(cols["day"]).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append(((umax - umin) / user_span, (dmax - dmin) / day_span))
    assert len(spans) >= n_files // 2
    avg_user = sum(s[0] for s in spans) / len(spans)
    avg_day = sum(s[1] for s in spans) / len(spans)
    # a linear sort leaves the non-leading dimension spanning ~100% of its
    # range in every file; z-order shrinks BOTH dimensions per file
    assert avg_user < 0.6, (avg_user, avg_day)
    assert avg_day < 0.6, (avg_user, avg_day)

    # round-trip: layout must not lose or duplicate rows
    assert (
        spark.read.parquet(path).count() == ev.count()
    )


def test_zorder_key_is_bijective_on_the_grid(spark):
    # every (x, y) pair in the full 5-bit grid must map to a unique key
    # within [0, 2^10) — interleaving is a bijection onto the square
    bits = 5
    n = 1 << bits
    grid = spark.range(n * n).selectExpr(
        f"id % {n} AS x", f"id div {n} AS y"
    )
    keyed = grid.select(zorder_key(["x", "y"], bits=bits).alias("z"))
    stats = keyed.agg(
        F.countDistinct("z").alias("d"),
        F.min("z").alias("lo"),
        F.max("z").alias("hi"),
    ).first()
    assert stats["d"] == n * n
    assert stats["lo"] == 0 and stats["hi"] == n * n - 1


def test_dynamic_partition_pruning_from_dim_join(spark, sf_dir, tmp_path):
    """DPP: when the partition key is only constrained THROUGH a join to a
    filtered dimension, Spark must inject a runtime subquery into the
    fact's PartitionFilters (dynamicpruning) instead of scanning every
    partition — the mechanism that keeps date-partitioned fact scans
    bounded at 100 TB when the date restriction lives on a calendar dim."""
    ev = load(spark, sf_dir, "events").withColumn("load_date", day_partition("ts"))
    fact = overwrite_partitioned(
        spark, ev, str(tmp_path / "bronze_events_dpp"), ["load_date"]
    )
    dim = (
        ev.select("load_date")
        .distinct()
        .withColumn("is_hot", F.col("load_date") >= F.lit("1995-06-01").cast("date"))
    )
    joined = fact.join(dim.filter(F.col("is_hot")), "load_date")
    plan = _explain(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    exact = ev.filter(
        F.col("load_date") >= F.lit("1995-06-01").cast("date")
    ).count()
    assert joined.count() == exact


def test_backfill_replaces_only_touched_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a correction run carrying one day
    replaces that day wholesale and leaves the other days' files alone."""
    from logistics_data_pipeline_project_spark.operators.scale import (
        backfill_partitions,
    )

    path = str(tmp_path / "bronze")
    base = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"),
         ("2024-01-02", 3, "bad"), ("2024-01-03", 4, "d")],
        "load_date string, id int, v string",
    ).withColumn("load_date", F.col("load_date").cast("date"))
    overwrite_partitioned(spark, base, path, ["load_date"])

    fix = spark.createDataFrame(
        [("2024-01-02", 3, "good"), ("2024-01-02", 5, "new")],
        "load_date string, id int, v string",
    ).withColumn("load_date", F.col("load_date").cast("date"))
    out = backfill_partitions(spark, fix, path, ["load_date"])

    rows = {(str(r["load_date"]), r["id"], r["v"]) for r in out.collect()}
    assert rows == {
        ("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"),
        ("2024-01-02", 3, "good"), ("2024-01-02", 5, "new"),
        ("2024-01-03", 4, "d"),
    }
    # the overwrite mode must be restored (static is Spark's default)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    )


# ---------------------------------------------------------------------------
# file-level data skipping (TableStore.analyze / read_pruned)
# ---------------------------------------------------------------------------


def _mk_clustered_store(spark, tmp_path, n=4000):
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    df = (
        spark.range(n)
        .selectExpr(
            "id", "id % 1000 as k", "cast(id as double) / 7 as x",
            "concat('u', lpad(cast(id % 50 as string), 2, '0')) as tag",
        )
        .repartitionByRange(8, "id")
    )
    store.overwrite("t", df)
    return store


def test_data_skipping_prunes_and_matches(spark, tmp_path):
    store = _mk_clustered_store(spark, tmp_path)
    store.analyze("t", ["id", "tag"])
    # range-clustered on id: a point/range predicate must open few files
    df, kept, total = store.read_pruned("t", "id", "between", 100, 140)
    assert total == 8 and kept <= 2
    want = sorted(r["id"] for r in store.read("t").where("id between 100 and 140").collect())
    got = sorted(r["id"] for r in df.collect())
    assert got == want
    # string column: every file spans all tags -> nothing prunes, still exact
    df2, kept2, _ = store.read_pruned("t", "tag", "=", "u07")
    assert kept2 == 8
    assert df2.count() == store.read("t").where("tag = 'u07'").count()
    # predicate outside the domain: zero files opened, empty result
    df3, kept3, _ = store.read_pruned("t", "id", ">", 10_000_000)
    assert kept3 == 0 and df3.count() == 0
    assert df3.columns == store.read("t").columns


def test_data_skipping_all_ops_match_unpruned(spark, tmp_path):
    store = _mk_clustered_store(spark, tmp_path, n=1000)
    store.analyze("t", ["id"])
    full = store.read("t")
    for op, args, sql in [
        ("=", (500, None), "id = 500"),
        ("<", (100, None), "id < 100"),
        ("<=", (100, None), "id <= 100"),
        (">", (900, None), "id > 900"),
        (">=", (900, None), "id >= 900"),
        ("between", (250, 260), "id between 250 and 260"),
    ]:
        df, kept, total = store.read_pruned("t", "id", op, args[0], args[1])
        assert df.count() == full.where(sql).count(), op
        assert kept < total, op  # clustered layout must actually skip


def test_data_skipping_survives_append_incrementally(spark, tmp_path):
    import json as _json
    import os as _os

    store = _mk_clustered_store(spark, tmp_path, n=1000)
    store.analyze("t", ["id"])
    more = spark.range(50_000, 50_200).selectExpr(
        "id", "id % 1000 as k", "cast(id as double) / 7 as x",
        "concat('u', lpad(cast(id % 50 as string), 2, '0')) as tag",
    ).coalesce(1)
    store.append("t", more)
    st = store.stats("t")
    assert st is not None and len(st["files"]) > 8  # new file got stats
    df, kept, total = store.read_pruned("t", "id", ">=", 50_000)
    assert kept == 1  # only the appended file survives pruning
    assert df.count() == 200
    # the old range still prunes to few files
    df2, kept2, _ = store.read_pruned("t", "id", "between", 0, 50)
    assert kept2 <= 2 and df2.count() == 51


def test_data_skipping_unanalyzed_and_decimal_guard(spark, tmp_path):
    import pytest as _pytest

    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite("t", spark.range(10).selectExpr("id", "cast(id as decimal(10,2)) as d"))
    # no stats: everything conservatively kept, result exact
    df, kept, total = store.read_pruned("t", "id", "=", 5)
    assert kept == total and df.count() == 1
    with _pytest.raises(Exception):
        store.analyze("t", ["d"])  # decimal honestly refused


def test_zordered_table_prunes_on_both_dims(spark, tmp_path):
    from logistics_data_pipeline_project_spark.operators.scale import zorder_key
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path / "wh"))
    grid = spark.range(64 * 64).selectExpr("id % 64 as a", "id div 64 as b")
    zordered = grid.repartitionByRange(16, zorder_key(["a", "b"], bits=6))
    store.overwrite("z", zordered)
    store.analyze("z", ["a", "b"])
    _, kept_a, total = store.read_pruned("z", "a", "between", 0, 7)
    _, kept_b, _ = store.read_pruned("z", "b", "between", 0, 7)
    # z-order clusters BOTH dims: each single-dim range must skip files
    assert kept_a < total and kept_b < total


def test_optimize_zorder_enables_pruning_on_all_dims(spark, tmp_path):
    from logistics_data_pipeline_project_spark.plans.materialize import (
        TableStore,
        optimize_zorder,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    grid = spark.range(64 * 64).selectExpr(
        "id % 64 as a", "id div 64 as b", "id as payload"
    )
    # worst-case incoming layout: clustered on NEITHER dim after shuffle
    store.overwrite("g", grid.repartition(16))
    before = store.read("g").count()
    stats = optimize_zorder(store, "g", ["a", "b"], n_files=16, bits=6)
    assert len(stats["files"]) >= 2
    assert store.read("g").count() == before  # rewrite is lossless
    _, kept_a, total = store.read_pruned("g", "a", "between", 0, 7)
    _, kept_b, _ = store.read_pruned("g", "b", "between", 0, 7)
    assert kept_a < total and kept_b < total
    df, _, _ = store.read_pruned("g", "a", "=", 5)
    assert df.count() == 64


def test_export_shards_deterministic_and_verifiable(spark, tmp_path):
    from logistics_data_pipeline_project_spark.operators.scale import (
        export_shards,
        verify_shards,
    )

    df = spark.range(2000).selectExpr("id", "id % 7 as v")
    m1 = export_shards(df, str(tmp_path / "exp1"), 8, "id")
    assert sum(s["n_rows"] for s in m1["shards"].values()) == 2000
    # re-export from a DIFFERENT partitioning: identical shard membership
    m2 = export_shards(df.repartition(3), str(tmp_path / "exp2"), 8, "id")
    assert m1["shards"] == m2["shards"]
    assert set(verify_shards(spark, str(tmp_path / "exp1")).values()) == {"ok"}
    # corrupt one shard -> flagged, others stay ok
    import os
    import shutil

    shard_dir = next(
        str(p) for p in (tmp_path / "exp1").iterdir() if p.name.startswith("shard=")
    )
    shutil.rmtree(shard_dir)
    status = verify_shards(spark, str(tmp_path / "exp1"))
    assert "missing" in status.values() or "mismatch" in status.values()
    assert list(status.values()).count("ok") == 7


def test_export_shards_scans_source_exactly_once(spark, tmp_path):
    """The source lineage must be evaluated once (the write job); the
    manifest derives from the written shard files, not a re-scan. An
    accumulator in the lineage counts evaluated rows: one pass == n."""
    from logistics_data_pipeline_project_spark.operators.scale import (
        export_shards,
        verify_shards,
    )

    acc = spark.sparkContext.accumulator(0)
    src = spark.range(500).selectExpr("id", "id % 5 as v")

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    df = src.mapInPandas(count_rows, src.schema)
    m = export_shards(df, str(tmp_path / "exp"), 4, "id")
    assert sum(s["n_rows"] for s in m["shards"].values()) == 500
    assert acc.value == 500  # a second source pass would read 1000
    # manifest certifies the written bytes: verify agrees
    assert set(verify_shards(spark, str(tmp_path / "exp")).values()) == {"ok"}
