"""Tests for driver-side ingestion (S1/S2/K9), the K10 failure hook, and
the approximate scale-path queries (q32 LSH-ANN, q33 sketch aggregates)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.io_utils import load
from logistics_data_pipeline_project_spark.plans.materialize import TableStore
from logistics_data_pipeline_project_spark.plans.runner import Model, ModelRunner
from logistics_data_pipeline_project_spark.queries import REGISTRY
from logistics_data_pipeline_project_spark.sources.ingest import (
    archive_processed,
    fetch_api_to_landing,
)


def test_fetch_api_lands_json_readable_by_spark(spark, tmp_path):
    landing = str(tmp_path / "landing")

    def fake_fetcher(url, headers, params):
        assert headers == {"Authorization": "Bearer tok"}
        assert params == {"count": 2}
        return [
            {"shipment_id": "A", "cost": 10.0},
            {"shipment_id": "B", "cost": 20.0},
        ]

    path = fetch_api_to_landing(
        "https://api.example.com/shipments",
        landing,
        token="tok",
        params={"count": 2},
        fetcher=fake_fetcher,
        filename="batch_0001.json",
    )
    assert os.path.basename(path) == "batch_0001.json"
    df = spark.read.option("multiLine", "true").json(landing)
    assert df.count() == 2
    assert set(df.columns) == {"shipment_id", "cost"}


def test_fetch_without_client_raises(tmp_path):
    with pytest.raises(Exception):
        fetch_api_to_landing(
            "https://api.invalid/x",
            str(tmp_path),
            fetcher=lambda u, h, p: (_ for _ in ()).throw(RuntimeError("down")),
        )


def test_archive_processed_moves_batch(tmp_path):
    landing = tmp_path / "unprocessed"
    landing.mkdir()
    for i in range(3):
        (landing / f"f{i}.json").write_text("{}")
    (landing / "keep.csv").write_text("x")

    moved = archive_processed(
        str(landing), str(tmp_path / "archive"), batch_id="b1", pattern_suffix=".json"
    )
    assert len(moved) == 3
    assert sorted(os.listdir(landing)) == ["keep.csv"]
    assert sorted(os.listdir(tmp_path / "archive" / "b1")) == [
        "f0.json",
        "f1.json",
        "f2.json",
    ]


def test_runner_on_failure_hook_fires(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    alerts = []
    runner = ModelRunner(
        spark, store, on_failure=lambda m, r, e: alerts.append((m, str(e)))
    )
    runner.register(
        Model(name="boom", fn=lambda s, ref: (_ for _ in ()).throw(ValueError("bad")))
    )
    with pytest.raises(Exception):
        runner.run(["boom"])
    assert alerts and alerts[0][0] == "boom" and "bad" in alerts[0][1]
    # the FAILED audit row is still written (hook does not replace auditing)
    assert runner.audit_log().filter(F.col("status") == "FAILED").count() == 1


def test_q32_lsh_ann_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["query_id"], r["cand_id"])
        for r in REGISTRY["q025_ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    approx = REGISTRY["q032_ann_lsh_bucketed"].fn(spark, sf_dir).collect()
    cand = {(r[0], r[1]) for r in approx}
    # bucketed search must recover a meaningful share of the true top-10
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_q33_sketches_bound_error(spark, sf_dir):
    prof = {
        r["event_type"]: r
        for r in REGISTRY["q066_approx_event_profile"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("median"),
        )
        .collect()
    }
    assert set(prof) == set(exact)
    for et, row in prof.items():
        users, median = exact[et]["users"], exact[et]["median"]
        assert abs(row["approx_users"] - users) <= max(2, 0.05 * users)
        lo, mid, hi = row["value_quartiles"]
        assert lo <= mid <= hi
        assert abs(mid - median) <= max(1e-6, 0.05 * abs(median) + 1e-3)


def test_domain_cap_skewed_mega_domain(spark):
    """The two-phase per-domain cap must select EXACTLY the rows the
    single-window definition selects even when one domain is half the
    corpus — the skew crawl domains actually have, and the shape the
    256-way phase-1 fan-out exists for."""
    from pyspark.sql import Window, functions as F

    from logistics_data_pipeline_project_spark.operators.mixing import (
        domain_cap,
    )

    # 4000 docs: 'mega' holds 50%, the rest spread over 20 small domains
    rows = [
        (i, "mega" if i % 2 == 0 else f"dom{i % 20}") for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        (r["source"], r["doc_id"], r["dom_rank"])
        for r in domain_cap(df, "source", "doc_id", 7, salt="sk").collect()
    }
    w = Window.partitionBy("source").orderBy("__rk", "doc_id")
    want = {
        (r["source"], r["doc_id"], r["dom_rank"])
        for r in df.withColumn(
            "__rk",
            F.md5(F.concat(F.lit("sk:"), F.col("doc_id").cast("string"))),
        )
        .withColumn("dom_rank", F.row_number().over(w))
        .filter(F.col("dom_rank") <= 7)
        .drop("__rk")
        .collect()
    }
    assert got == want
    # every domain capped at 7; the mega domain actually hit the cap
    per_src = {}
    for s, _i, _r in got:
        per_src[s] = per_src.get(s, 0) + 1
    assert per_src["mega"] == 7
    assert all(v <= 7 for v in per_src.values())
    # stability: a repartitioned input selects the identical set
    got2 = {
        (r["source"], r["doc_id"], r["dom_rank"])
        for r in domain_cap(
            df.repartition(13), "source", "doc_id", 7, salt="sk"
        ).collect()
    }
    assert got2 == got
