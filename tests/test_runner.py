"""End-to-end model-runner test: a miniature medallion pipeline (raw →
silver incremental → gold view) run twice to prove incremental merge,
snapshot SCD2, audit logging, and idempotence."""

from __future__ import annotations

import datetime as dt
import os
import threading

import pytest
from pyspark.sql import Row, functions as F

from logistics_data_pipeline_project_spark.models import silver
from logistics_data_pipeline_project_spark.operators.merge import high_watermark
from logistics_data_pipeline_project_spark.plans import Model, ModelRunner, TableStore
from logistics_data_pipeline_project_spark.plans import runner as runner_mod


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def _raw_orders(spark, batch):
    if batch == 1:
        rows = [
            Row(ORDER_ID="O1", ORDER_DATE=ts("2024-01-01"), PRODUCT_ID="P1", CUSTOMER_ID="C1",
                TOTAL_AMOUNT=100.0, PAYMENT_METHOD="COD", _AIRBYTE_EXTRACTED_AT=ts("2024-01-02")),
            Row(ORDER_ID="O2", ORDER_DATE=ts("2024-01-02"), PRODUCT_ID="P2", CUSTOMER_ID="C2",
                TOTAL_AMOUNT=200.0, PAYMENT_METHOD="Prepaid", _AIRBYTE_EXTRACTED_AT=ts("2024-01-02")),
            Row(ORDER_ID=None, ORDER_DATE=ts("2024-01-02"), PRODUCT_ID="P2", CUSTOMER_ID="C2",
                TOTAL_AMOUNT=5.0, PAYMENT_METHOD="COD", _AIRBYTE_EXTRACTED_AT=ts("2024-01-02")),
        ]
    else:
        rows = [
            # updated O2 + new O3, newer watermark; O1 unchanged (older wm)
            Row(ORDER_ID="O2", ORDER_DATE=ts("2024-01-02"), PRODUCT_ID="P2", CUSTOMER_ID="C2",
                TOTAL_AMOUNT=250.0, PAYMENT_METHOD="Prepaid", _AIRBYTE_EXTRACTED_AT=ts("2024-02-01")),
            Row(ORDER_ID="O3", ORDER_DATE=ts("2024-01-20"), PRODUCT_ID="P1", CUSTOMER_ID="C1",
                TOTAL_AMOUNT=300.0, PAYMENT_METHOD="COD", _AIRBYTE_EXTRACTED_AT=ts("2024-02-01")),
        ]
    return spark.createDataFrame(
        rows,
        schema="ORDER_ID string, ORDER_DATE timestamp, PRODUCT_ID string, CUSTOMER_ID string, "
        "TOTAL_AMOUNT double, PAYMENT_METHOD string, _AIRBYTE_EXTRACTED_AT timestamp",
    )


def _build_runner(spark, store, batch):
    runner = ModelRunner(spark, store, threads=3)
    runner.register(
        Model(
            name="fact_orders",
            fn=lambda sp, ref: silver.fact_orders(
                _raw_orders(sp, batch),
                store.read("fact_orders") if store.exists("fact_orders") else None,
            ),
            materialization="incremental",
            unique_key="ORDER_ID",
            watermark_col="_AIRBYTE_EXTRACTED_AT",
        )
    )
    runner.register(
        Model(
            name="error_orders",
            fn=lambda sp, ref: silver.silver_error_orders(_raw_orders(sp, batch)),
            materialization="table",
        )
    )
    runner.register(
        Model(
            name="orders_by_method",
            fn=lambda sp, ref: ref("fact_orders")
            .groupBy("PAYMENT_METHOD")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("TOTAL_AMOUNT").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("revenue"),
            ),
            deps=("fact_orders",),
            materialization="view",
        )
    )
    runner.register(
        Model(
            name="scd_orders",
            fn=lambda sp, ref: ref("fact_orders").select(
                "ORDER_ID", "TOTAL_AMOUNT", "PAYMENT_METHOD"
            ),
            deps=("fact_orders",),
            materialization="snapshot",
            unique_key="ORDER_ID",
            tracked_cols=("TOTAL_AMOUNT", "PAYMENT_METHOD"),
        )
    )
    return runner


def test_pipeline_two_batches(spark, store):
    # batch 1: bootstrap
    r1 = _build_runner(spark, store, batch=1)
    run1 = r1.run()
    fo = store.read("fact_orders")
    assert {r["ORDER_ID"] for r in fo.collect()} == {"O1", "O2"}  # null routed out
    errs = store.read("error_orders")
    assert errs.count() == 1 and errs.first()["error_reason"] == "Missing ORDER_ID"
    view = spark.table("orders_by_method")
    assert {r["PAYMENT_METHOD"]: r["revenue"] for r in view.collect()} == {
        "COD": 100.0,
        "Prepaid": 200.0,
    }
    scd = store.read("scd_orders")
    assert scd.count() == 2 and all(r["is_current"] for r in scd.collect())

    # batch 2: incremental merge (watermark excludes replays), SCD2 history
    r2 = _build_runner(spark, store, batch=2)
    run2 = r2.run()
    fo2 = store.read("fact_orders")
    rows = {r["ORDER_ID"]: r["TOTAL_AMOUNT"] for r in fo2.collect()}
    assert rows == {"O1": 100.0, "O2": 250.0, "O3": 300.0}

    scd2 = store.read("scd_orders")
    # O1 unchanged (1 row), O2 changed (closed + new), O3 new → 4 rows
    assert scd2.count() == 4
    o2 = [r.asDict() for r in scd2.filter(F.col("ORDER_ID") == "O2").collect()]
    assert {(r["TOTAL_AMOUNT"], r["is_current"]) for r in o2} == {(200.0, False), (250.0, True)}

    # audit log: one row per model per run, SUCCESS
    audit = r2.audit_log()
    assert audit.filter(F.col("status") == "SUCCESS").count() == 8
    assert {r["run_id"] for r in audit.collect()} == {run1, run2}


def test_runner_cycle_detection(spark, store):
    runner = ModelRunner(spark, store)
    runner.register(Model(name="a", fn=lambda sp, ref: ref("b"), deps=("b",)))
    runner.register(Model(name="b", fn=lambda sp, ref: ref("a"), deps=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        runner.run()


def test_runner_failure_is_audited(spark, store):
    def boom(sp, ref):
        raise RuntimeError("model exploded")

    runner = ModelRunner(spark, store)
    runner.register(Model(name="bad", fn=boom, materialization="table"))
    with pytest.raises(RuntimeError, match="model exploded"):
        runner.run()
    audit = runner.audit_log()
    assert audit.filter((F.col("job_name") == "bad") & (F.col("status") == "FAILED")).count() == 1


def _fanout_runner(spark, store, width=2):
    """src -> (leaf_0 … leaf_{width-1}): the second level runs on the
    thread pool, one thread per leaf."""
    runner = ModelRunner(spark, store, threads=width)
    runner.register(Model(name="src", fn=lambda sp, ref: sp.range(20).selectExpr("id", "id % 3 AS k")))
    for k in range(width):
        runner.register(
            Model(name=f"leaf_{k}", fn=lambda sp, ref, k=k: ref("src").filter(F.col("k") == k), deps=("src",))
        )
    return runner


def test_runner_pool_threads_keep_callers_job_group(spark, store, jobs_in_group):
    """Models run on pool threads must carry the caller's job group, or
    ``cancelJobGroup`` cannot stop a run."""
    runner = _fanout_runner(spark, store)
    grouped, ungrouped = jobs_in_group(runner.run)
    assert grouped
    assert ungrouped == set(), f"jobs {sorted(ungrouped)} ran outside the caller's group"
    assert store.read("leaf_0").count() == 7 and store.read("leaf_1").count() == 7


def test_runner_pool_threads_own_their_local_properties(spark, store):
    """Concurrent models must not share one JVM ``Properties`` object: a
    shared one lets a model overwrite another's ``spark.sql.execution.id``
    and start a job under an execution that has already ended."""
    runner = _fanout_runner(spark, store)
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=60)
    seen = {}
    for name in ("leaf_0", "leaf_1"):
        m = runner.models[name]

        def fn(sp, ref, name=name, inner=m.fn):
            sc.setLocalProperty("test.model", name)
            barrier.wait()  # both leaves have set their property
            seen[name] = sc.getLocalProperty("test.model")
            return inner(sp, ref)

        m.fn = fn
    runner.run()
    assert seen == {"leaf_0": "leaf_0", "leaf_1": "leaf_1"}


def test_runner_one_audit_append_per_run(spark, store):
    """Pool threads (more than cores, with frequent thread switches) all
    buffer their audit rows; the run commits them in ONE append."""
    import sys

    runner = _fanout_runner(spark, store, width=8)
    want = sorted(["src"] + [f"leaf_{k}" for k in range(8)])
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        run1 = runner.run()
        v1 = store.current_version("etl_audit_log")
        run2 = runner.run()
    finally:
        sys.setswitchinterval(switch)
    assert store.current_version("etl_audit_log") == v1 + 1
    for run_id in (run1, run2):
        rows = runner.audit_log().filter(F.col("run_id") == run_id).collect()
        assert sorted(r["job_name"] for r in rows) == want
        assert {r["status"] for r in rows} == {"SUCCESS"}


def test_on_failure_hook_sees_committed_failed_row(spark, store):
    seen = []

    def hook(model, run_id, exc):
        audit = runner.audit_log().filter(F.col("run_id") == run_id)
        seen.append([(r["job_name"], r["status"]) for r in audit.collect()])

    def boom(sp, ref):
        raise RuntimeError("model exploded")

    runner = ModelRunner(spark, store, on_failure=hook)
    runner.register(Model(name="bad", fn=boom))
    with pytest.raises(RuntimeError, match="model exploded"):
        runner.run()
    assert seen == [[("bad", "FAILED")]]


def _incremental_runner(spark, store):
    """One incremental model merging the store's ``raw`` table by ``k``,
    with ``ts`` as its watermark."""
    runner = ModelRunner(spark, store)
    runner.register(
        Model(
            name="inc",
            fn=lambda sp, ref: store.read("raw"),
            materialization="incremental",
            unique_key="k",
            watermark_col="ts",
            dedup_order=("ts",),
        )
    )
    return runner


def _raw(spark, rows, dtype="timestamp"):
    """(k, v, ts-string) rows with ``ts`` cast to ``dtype`` under the
    session time zone."""
    df = spark.createDataFrame(rows, "k int, v string, ts string")
    return df.withColumn("ts", F.col("ts").cast(dtype))


def _recorded_scans(monkeypatch) -> list[str]:
    """Record the columns the runner scans with ``high_watermark``."""
    scans = []

    def recorded(target, col):
        scans.append(col)
        return high_watermark(target, col)

    monkeypatch.setattr(runner_mod, "high_watermark", recorded)
    return scans


def test_incremental_watermark_commits_with_the_write(spark, store, monkeypatch):
    """The watermark observed during the write lands in the version's
    _META.json, and the next run filters by it without a max() scan."""
    store.overwrite("raw", _raw(spark, [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-02 00:00:00")]))
    runner = _incremental_runner(spark, store)
    runner.run()
    assert store.meta("inc")["watermarks"] == {"ts": "2024-01-02 00:00:00"}
    scans = _recorded_scans(monkeypatch)
    # k=3 is older than the watermark, so the incremental filter drops it
    store.append("raw", _raw(spark, [(1, "a2", "2024-01-03 00:00:00"), (3, "c", "2024-01-01 12:00:00")]))
    runner.run()
    assert scans == []
    assert {r["k"]: r["v"] for r in store.read("inc").collect()} == {1: "a2", 2: "b"}
    assert store.meta("inc")["watermarks"] == {"ts": "2024-01-03 00:00:00"}


@pytest.mark.parametrize(
    "dtype,wm,after",
    [
        ("timestamp", "2024-07-01 12:34:56.123456", "2024-07-01 12:34:56.123457"),
        ("date", "2024-07-01", "2024-07-02"),
    ],
)
def test_incremental_watermark_round_trips_exactly(spark, store, monkeypatch, dtype, wm, after):
    """Under a non-UTC session time zone, the committed watermark casts
    back to the exact max: a row AT it is filtered, a row one unit after
    it (a microsecond, a day) is merged."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        store.overwrite("raw", _raw(spark, [(1, "a", "2024-06-01"), (2, "b", wm)], dtype))
        runner = _incremental_runner(spark, store)
        runner.run()
        assert store.meta("inc") == {
            "watermarks": {"ts": wm},
            "watermark_time_zone": "America/Los_Angeles",
        }
        scans = _recorded_scans(monkeypatch)
        store.append("raw", _raw(spark, [(3, "at", wm), (4, "after", after)], dtype))
        runner.run()
        assert scans == []
        assert sorted(r["k"] for r in store.read("inc").collect()) == [1, 2, 4]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_incremental_watermark_follows_rollback(spark, store, monkeypatch):
    """Rolling a model back restores the watermark of that version, so
    the next run re-merges what the rolled-back version had merged."""
    store.overwrite("raw", _raw(spark, [(1, "a", "2024-01-01 00:00:00")]))
    runner = _incremental_runner(spark, store)
    runner.run()
    v1 = store.current_version("inc")
    store.append("raw", _raw(spark, [(2, "b", "2024-01-02 00:00:00")]))
    runner.run()
    store.rollback("inc", v1)
    assert store.meta("inc")["watermarks"] == {"ts": "2024-01-01 00:00:00"}
    scans = _recorded_scans(monkeypatch)
    runner.run()
    assert scans == []
    assert sorted(r["k"] for r in store.read("inc").collect()) == [1, 2]


def test_incremental_version_without_watermark_scans(spark, store, monkeypatch):
    """A version written before watermarks were committed (no meta key)
    falls back to the max() scan, once, and the run commits one."""
    store.overwrite("inc", _raw(spark, [(1, "a", "2024-01-02 00:00:00")]))
    store.overwrite("raw", _raw(spark, [(1, "old", "2024-01-01 00:00:00"), (2, "b", "2024-01-03 00:00:00")]))
    scans = _recorded_scans(monkeypatch)
    _incremental_runner(spark, store).run()
    assert scans == ["ts"]
    assert {r["k"]: r["v"] for r in store.read("inc").collect()} == {1: "a", 2: "b"}
    assert store.meta("inc")["watermarks"] == {"ts": "2024-01-03 00:00:00"}


def test_incremental_watermark_from_another_time_zone_scans(spark, store, monkeypatch):
    """A watermark rendered under another session time zone would cast
    back to another instant, so the next run scans for the max instead."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    store.overwrite("raw", _raw(spark, [(1, "a", "2024-01-02 00:00:00")]))
    runner = _incremental_runner(spark, store)
    runner.run()
    scans = _recorded_scans(monkeypatch)
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata" if tz != "Asia/Kolkata" else "UTC")
    try:
        store.append("raw", _raw(spark, [(2, "b", "2024-01-01 12:00:00")]))
        runner.run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert scans == ["ts"]
    assert sorted(r["k"] for r in store.read("inc").collect()) == [1]


def test_runner_starts_a_model_when_its_own_deps_finish(spark, store):
    """a -> b plus an independent c: b starts while c is still running
    (level-by-level scheduling would hold b until c finished)."""
    b_started = threading.Event()
    seen = {}

    def slow_c(sp, ref):
        seen["b started while c ran"] = b_started.wait(timeout=60)
        return sp.range(1)

    def b(sp, ref):
        b_started.set()
        return ref("a")

    runner = ModelRunner(spark, store, threads=2)
    runner.register(Model(name="a", fn=lambda sp, ref: sp.range(3)))
    runner.register(Model(name="b", fn=b, deps=("a",)))
    runner.register(Model(name="c", fn=slow_c))
    runner.run()
    assert seen == {"b started while c ran": True}
    assert store.read("b").count() == 3


def test_runner_failure_stops_downstream_models(spark, store):
    """A model downstream of a failing one never runs and leaves no audit
    row; an independent model already running finishes."""
    ran = []

    def boom(sp, ref):
        raise RuntimeError("model exploded")

    def downstream(sp, ref):
        ran.append("b")
        return ref("a")

    runner = ModelRunner(spark, store, threads=3)
    runner.register(Model(name="a", fn=boom))
    runner.register(Model(name="b", fn=downstream, deps=("a",)))
    runner.register(Model(name="c", fn=lambda sp, ref: sp.range(2)))
    with pytest.raises(RuntimeError, match="model exploded"):
        runner.run()
    assert ran == []
    audit = {(r["job_name"], r["status"]) for r in runner.audit_log().collect()}
    assert audit == {("a", "FAILED"), ("c", "SUCCESS")}


def test_table_store_versioning_time_travel_and_rollback(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    store.overwrite("t", df1)
    assert store.versions("t") == [1]
    store.overwrite("t", df2)
    assert store.versions("t") == [1, 2]
    assert store.current_version("t") == 2
    # time travel
    assert [r["v"] for r in store.read("t").collect()] == ["b"]
    assert [r["v"] for r in store.read("t", version=1).collect()] == ["a"]
    # rollback is a pointer swap
    store.rollback("t", 1)
    assert store.current_version("t") == 1
    assert [r["v"] for r in store.read("t").collect()] == ["a"]
    # append snapshots: hardlinked new version, old snapshot intact
    store.append("t", df2)
    assert store.current_version("t") == 3
    assert {r["v"] for r in store.read("t").collect()} == {"a", "b"}
    assert [r["v"] for r in store.read("t", version=1).collect()] == ["a"]


def test_table_store_append_compact_preserve_meta(spark, tmp_path):
    """append/compact must carry _META.json forward: the metadata holds
    stream replay guards (last applied batch id) whose silent loss would
    let a crash-replayed micro-batch double-fold non-idempotent sketch
    state."""
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    store.overwrite("t", df, meta={"last_batch_id": 7})
    # hardlink-path append (schema match) keeps prior meta
    store.append("t", spark.createDataFrame([(2, "b")], "id long, v string"))
    assert store.meta("t") == {"last_batch_id": 7}
    # schema-drift append (unionByName rewrite) keeps prior meta
    store.append("t", spark.createDataFrame([(3, "c", 1.5)], "id long, v string, w double"))
    assert store.meta("t") == {"last_batch_id": 7}
    # explicit meta on append replaces it
    store.append(
        "t",
        spark.createDataFrame([(4, "d", 2.5)], "id long, v string, w double"),
        meta={"last_batch_id": 8},
    )
    assert store.meta("t") == {"last_batch_id": 8}
    # compaction rewrites files but not metadata
    store.compact("t")
    assert store.meta("t") == {"last_batch_id": 8}
    assert store.read("t").count() == 4


def test_table_store_rewrites_keep_meta(spark, tmp_path):
    """purge_keys, compact and optimize_zorder rewrite the current
    snapshot; each must keep its _META.json (a stream's replay guard)."""
    from logistics_data_pipeline_project_spark.plans.materialize import optimize_zorder

    store = TableStore(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    store.overwrite("t", df, meta={"last_batch_id": 7})
    purged, _ = store.purge_keys("t", "id", spark.createDataFrame([(1,)], "id long"))
    assert purged == 1
    assert store.meta("t") == {"last_batch_id": 7}, "purge_keys dropped the meta"
    store.compact("t")
    assert store.meta("t") == {"last_batch_id": 7}, "compact dropped the meta"
    optimize_zorder(store, "t", ["id"], n_files=2, bits=4)
    assert store.meta("t") == {"last_batch_id": 7}, "optimize_zorder dropped the meta"
    assert sorted(r["id"] for r in store.read("t").collect()) == [2, 3]


def test_table_store_subclass_sees_every_commit(spark, tmp_path):
    """A subclass that wraps the public writes, as the benchmark's traced
    store does (its own ``_commit(kind, ...)`` around ``overwrite`` and
    ``append``, reading ``current_version``/``_vdir``), sees every commit:
    internal rewrites go through ``self.overwrite``/``self.append``, and
    TableStore defines no ``_commit`` of its own to shadow."""
    assert not hasattr(TableStore, "_commit")
    seen = []

    class Recording(TableStore):
        def _commit(self, kind, name, df, meta):
            before = self.current_version(name)
            getattr(super(), kind)(name, df, meta)
            after = self.current_version(name)
            assert os.path.isdir(self._vdir(name, after))
            seen.append((kind, before, after))

        def overwrite(self, name, df, meta=None):
            self._commit("overwrite", name, df, meta)

        def append(self, name, df, meta=None):
            self._commit("append", name, df, meta)

    store = Recording(spark, str(tmp_path / "wh"), retain_versions=10)
    store.overwrite("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    store.append("t", spark.createDataFrame([(2, "b")], "id long, v string"))
    store.append("t", spark.createDataFrame([(3, "c", 1.5)], "id long, v string, w double"))
    store.compact("t")
    store.purge_keys("t", "id", spark.createDataFrame([(1,)], "id long"))
    assert seen == [
        ("overwrite", None, 1),
        ("append", 1, 2),  # hardlink path
        ("overwrite", 2, 3),  # schema drift: the rewrite, inside ...
        ("append", 2, 3),  # ... the append that chose it
        ("overwrite", 3, 4),  # compact
        ("overwrite", 4, 5),  # purge_keys
    ]
    assert store.versions("t") == [1, 2, 3, 4, 5]


def test_table_store_retention_gc(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=2)
    for i in range(4):
        store.overwrite("t", spark.createDataFrame([(i,)], "id long"))
    assert store.versions("t") == [3, 4]
    assert store.read("t").first()["id"] == 3  # 0-indexed writes, v4 = i=3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.read("t", version=1)


def test_table_store_migrates_legacy_layout(spark, tmp_path):
    wh = tmp_path / "wh"
    legacy = wh / "t"
    spark.createDataFrame([(1,)], "id long").write.parquet(str(legacy))
    store = TableStore(spark, str(wh))
    assert store.exists("t")
    assert store.read("t").first()["id"] == 1
    store.overwrite("t", spark.createDataFrame([(2,)], "id long"))
    assert store.versions("t") == [1, 2]
    # the pre-versioning data is preserved as version 1
    assert store.read("t", version=1).first()["id"] == 1
    assert store.read("t").first()["id"] == 2


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    rows = [
        # (day, key, v) — three "daily" slices
        (1, "a", 10.0), (1, "b", 5.0),
        (2, "a", 7.0), (2, "c", 1.0),
        (3, "b", 2.0), (3, "a", 4.0),
    ]
    full = spark.createDataFrame(rows, "day int, k string, v double")
    measures = {
        "n": ("*", "count"),
        "total": ("v", "sum"),
        "vmin": ("v", "min"),
        "vmax": ("v", "max"),
    }
    # feed slices incrementally (cursor = day)
    for d in (1, 2, 3):
        incremental_rollup(
            store, "rollup", full.filter(F.col("day") <= d), ["k"], measures, "day"
        )
    got = {
        r["k"]: (r["n"], float(r["total"]), r["vmin"], r["vmax"])
        for r in read_rollup(store, "rollup").collect()
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
    # idempotent when no new rows arrive
    before = store.current_version("rollup")
    incremental_rollup(store, "rollup", full, ["k"], measures, "day")
    again = {
        r["k"]: (r["n"], float(r["total"]), r["vmin"], r["vmax"])
        for r in read_rollup(store, "rollup").collect()
    }
    assert again == want
    # the no-delta run still commits a snapshot; history lets us roll back
    assert store.current_version("rollup") == before + 1


def test_read_rollup_dtypes_stable_across_runs(spark, tmp_path):
    """Folding a new increment keeps every stored measure's dtype: the
    decimal sum is decimal(37,2) after run 1 and stays so, instead of
    widening one digit per fold."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    full = spark.createDataFrame(
        [(d, k, float(d * 3 + i)) for d in (1, 2, 3) for i, k in enumerate("abc")],
        "day int, k string, v double",
    )
    measures = {
        "n": ("*", "count"),
        "total": ("v", "sum"),
        "vmin": ("v", "min"),
        "vmax": ("day", "max"),
        "users": ("k", "approx_distinct"),
    }
    seen = []
    for d in (1, 2, 3):
        incremental_rollup(
            store, "rollup", full.filter(F.col("day") <= d), ["k"], measures, "day"
        )
        seen.append(read_rollup(store, "rollup").dtypes)
    assert dict(seen[0])["total"] == "decimal(37,2)"
    assert seen[1] == seen[0] and seen[2] == seen[0], seen


def test_table_store_append_schema_evolution(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    store.overwrite("t", spark.createDataFrame([(1, "x")], "id long, a string"))
    # drifted schema: new column b, missing column a
    store.append("t", spark.createDataFrame([(2, 9.5)], "id long, b double"))
    rows = {r["id"]: (r["a"], r["b"]) for r in store.read("t").collect()}
    assert rows == {1: ("x", None), 2: (None, 9.5)}
    # snapshot has ONE coherent schema; no mergeSchema needed
    assert set(store.read("t").columns) == {"id", "a", "b"}
    # time travel still shows the narrow pre-evolution schema
    assert set(store.read("t", version=1).columns) == {"id", "a"}
    # matching schema appends keep taking the fast path and stay readable
    store.append(
        "t",
        spark.createDataFrame([(3, "y", 1.5)], "id long, a string, b double"),
    )
    assert store.read("t").count() == 3


def test_incremental_rollup_hll_distinct_matches_full(spark, tmp_path):
    """approx_distinct partials: HLL sketch registers merge by max, so the
    incrementally-maintained sketch is identical to one full recompute
    regardless of how history was sliced — estimates must match exactly
    (no tolerance), and the maintained estimate must equal the true
    distinct count on this small domain."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
        rollup_distinct_estimate,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    rows = [
        (1, "a", 101), (1, "a", 102), (1, "b", 101),
        (2, "a", 102), (2, "a", 103), (2, "b", 104),
        (3, "b", 104), (3, "b", 105), (3, "a", 101),
    ]
    full = spark.createDataFrame(rows, "day int, k string, user bigint")
    measures = {"users": ("user", "approx_distinct"), "n": ("*", "count")}
    for d in (1, 2, 3):
        incremental_rollup(
            store, "actives", full.filter(F.col("day") <= d), ["k"], measures, "day"
        )
    got = {
        r["k"]: (r["users"], r["n"])
        for r in rollup_distinct_estimate(
            read_rollup(store, "actives"), ["users"]
        ).collect()
    }
    want = {
        r["k"]: (r["users"], r["n"])
        for r in rollup_distinct_estimate(
            full.groupBy("k").agg(
                F.hll_sketch_agg("user").alias("users"),
                F.count(F.lit(1)).alias("n"),
            ),
            ["users"],
        ).collect()
    }
    assert got == want
    exact = {
        r["k"]: r["d"]
        for r in full.groupBy("k").agg(F.countDistinct("user").alias("d")).collect()
    }
    assert {k: v[0] for k, v in got.items()} == exact


def test_model_checks_gate_the_write(spark, store):
    """A failing constraint suite must abort the model BEFORE anything is
    committed (FAILED audit row, on_failure alert, store untouched) —
    stricter than dbt's materialize-then-test ordering."""
    import pytest

    from logistics_data_pipeline_project_spark.plans import quality
    from logistics_data_pipeline_project_spark.plans.runner import (
        DataQualityError,
        Model,
        ModelRunner,
    )

    alerts = []
    runner = ModelRunner(
        spark, store, on_failure=lambda m, rid, exc: alerts.append((m, type(exc)))
    )

    def bad_model(s, ref):
        return s.createDataFrame([(1, "a"), (None, "b")], "k int, v string")

    def suite(df):
        return quality.run_checks(
            [("k_not_null", "bad", lambda: quality.not_null(df, ["k"]))]
        )

    runner.register(Model(name="bad", fn=bad_model, checks=suite))
    with pytest.raises(DataQualityError, match="k_not_null"):
        runner.run(["bad"])
    assert not store.exists("bad")
    assert alerts == [("bad", DataQualityError)]
    audit = runner.audit_log().filter("job_name = 'bad'").collect()
    assert [r["status"] for r in audit] == ["FAILED"]

    def good_model(s, ref):
        return s.createDataFrame([(1, "a"), (2, "b")], "k int, v string")

    runner2 = ModelRunner(spark, store)
    runner2.register(Model(name="good", fn=good_model, checks=suite))
    runner2.run(["good"])
    assert store.read("good").count() == 2


def test_table_store_compaction(spark, tmp_path):
    """compact() rewrites an append-fragmented snapshot into few files as
    a NEW version — data identical, old snapshot still readable, rollback
    intact."""
    store = TableStore(spark, str(tmp_path / "wh"))
    import os

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    store.overwrite("t", df.repartition(8))
    for _ in range(3):
        store.append("t", spark.range(1000, 1200).withColumnRenamed("id", "k").repartition(8))
    v_before = store.current_version("t")
    files_before = sum(
        1 for f in os.listdir(store.path("t")) if f.endswith(".parquet")
    )
    assert files_before >= 16
    n_after = store.compact("t")
    assert n_after < files_before
    assert store.current_version("t") == v_before + 1
    assert store.read("t").count() == 1000 + 3 * 200
    # old snapshot untouched and still time-travel readable
    assert store.read("t", version=v_before).count() == 1000 + 3 * 200


def test_changes_keyed_cdc(spark, tmp_path):
    """Keyed change feed between snapshot versions: insert/delete/update
    classification with null-safe value comparison."""
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30)], "k int, s string, v int"
    )
    store.overwrite("t", v1)
    fromv = store.current_version("t")
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "b2", None), (4, "d", 40)], "k int, s string, v int"
    )
    store.overwrite("t", v2)

    ch = {
        (r.k, r._change_type): (r.s, r.v)
        for r in store.changes("t", fromv, keys=["k"]).collect()
    }
    assert ch == {
        (2, "update_postimage"): ("b2", None),
        (3, "delete"): ("c", 30),
        (4, "insert"): ("d", 40),
    }
    # with preimages the updated key also reports its old row
    pre = store.changes("t", fromv, keys=["k"], include_preimages=True)
    rows = {(r.k, r._change_type) for r in pre.collect()}
    assert (2, "update_preimage") in rows and len(rows) == 4
    # unchanged key 1 never appears
    assert not [r for r in pre.collect() if r.k == 1]


def test_changes_multiset_diff(spark, tmp_path):
    """Keyless change feed is a duplicate-correct multiset diff."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        "t", spark.createDataFrame([("x",), ("x",), ("y",)], "s string")
    )
    fromv = store.current_version("t")
    store.overwrite(
        "t", spark.createDataFrame([("x",), ("z",), ("z",)], "s string")
    )
    ch = sorted(
        (r.s, r._change_type) for r in store.changes("t", fromv).collect()
    )
    assert ch == [
        ("x", "delete"),
        ("y", "delete"),
        ("z", "insert"),
        ("z", "insert"),
    ]


def test_changes_across_schema_evolution(spark, tmp_path):
    """Diffing across an evolving append: the new column reads as NULL on
    the older side, so pre-existing rows don't spuriously report."""
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=4)
    store.overwrite("t", spark.createDataFrame([(1, "a")], "k int, s string"))
    fromv = store.current_version("t")
    store.append(
        "t", spark.createDataFrame([(2, "b", 9.5)], "k int, s string, score double")
    )
    ch = {r.k: (r._change_type, r.score) for r in store.changes("t", fromv, keys=["k"]).collect()}
    assert ch == {2: ("insert", 9.5)}


def test_purge_keys_hard_delete(spark, tmp_path):
    """Right-to-be-forgotten purge: targeted rows gone from the new
    snapshot, count reported, old snapshot retained until GC."""
    store = TableStore(spark, str(tmp_path / "wh"), retain_versions=2)
    store.overwrite(
        "t",
        spark.createDataFrame(
            [(1, "keep"), (2, "erase"), (2, "erase2"), (3, "keep")],
            "user_id int, payload string",
        ),
    )
    v0 = store.current_version("t")
    purged, v1 = store.purge_keys(
        "t", "user_id", spark.createDataFrame([(2,)], "user_id int")
    )
    assert purged == 2 and v1 == v0 + 1
    assert sorted(r.user_id for r in store.read("t").collect()) == [1, 3]
    # rollback window still holds the pre-purge snapshot (two-phase erasure)
    assert store.read("t", version=v0).count() == 4
    # after retention turnover the purged snapshot is gone from disk
    store.overwrite("t", store.read("t").localCheckpoint(eager=True))
    store.overwrite("t", store.read("t").localCheckpoint(eager=True))
    assert v0 not in store.versions("t")
