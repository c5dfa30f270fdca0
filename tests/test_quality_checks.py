"""Constraint-check suite: unit semantics of each check plus the
reference's schema.yml test shapes applied to the synthetic star schema
(24-test-style gate, SURVEY §5 level 1)."""

from __future__ import annotations

import threading
import time

from pyspark.sql import Row, functions as F

from logistics_data_pipeline_project_spark.io_utils import load
from logistics_data_pipeline_project_spark.plans.quality import (
    accepted_values,
    between,
    not_null,
    relationships,
    run_checks,
    unique,
)


def test_check_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, v=10, s="a"),
            Row(k=1, v=None, s="b"),
            Row(k=2, v=5000, s="zz"),
            Row(k=None, v=3, s="a"),
        ]
    )
    assert not_null(df, ["k"]) == 1
    assert not_null(df, ["k", "v"]) == 2
    assert unique(df, ["k"]) == 1  # k=1 twice
    assert between(df, "v", min_value=0, max_value=5000, strict=True) == 1  # 5000 excluded
    assert between(df, "v", min_value=0, max_value=5000, strict=False) == 0
    assert accepted_values(df, "s", ["a", "b"]) == 1  # "zz"

    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    assert relationships(df, "k", parent, "pk") == 0  # NULL child not a violation
    parent_missing = spark.createDataFrame([Row(pk=2)])
    assert relationships(df, "k", parent_missing, "pk") == 2  # both k=1 rows orphaned


def test_star_schema_gate(spark, sf_dir):
    """The reference's schema.yml suite shape over the synthetic tables:
    key not_null/unique per dim, relationships child→parent, range check."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    results = run_checks(
        [
            ("not_null_c_custkey", "customer", lambda: not_null(customer, ["c_custkey"])),
            ("unique_c_custkey", "customer", lambda: unique(customer, ["c_custkey"])),
            ("not_null_o_orderkey", "orders", lambda: not_null(orders, ["o_orderkey"])),
            ("unique_o_orderkey", "orders", lambda: unique(orders, ["o_orderkey"])),
            (
                "unique_p_partkey",
                "part",
                lambda: unique(load(spark, sf_dir, "part"), ["p_partkey"]),
            ),
            (
                "unique_s_suppkey",
                "supplier",
                lambda: unique(load(spark, sf_dir, "supplier"), ["s_suppkey"]),
            ),
            (
                "rel_orders_customer",
                "orders",
                lambda: relationships(orders, "o_custkey", customer, "c_custkey"),
            ),
            (
                "rel_lineitem_orders",
                "lineitem",
                lambda: relationships(lineitem, "l_orderkey", orders, "o_orderkey"),
            ),
            (
                "rel_customer_nation",
                "customer",
                lambda: relationships(customer, "c_nationkey", nation, "n_nationkey"),
            ),
            (
                "rel_nation_region",
                "nation",
                lambda: relationships(nation, "n_regionkey", region, "r_regionkey"),
            ),
            (
                "quantity_between",
                "lineitem",
                lambda: between(lineitem, "l_quantity", 0, 51, strict=True),
            ),
            (
                "discount_between",
                "lineitem",
                lambda: between(lineitem, "l_discount", 0, 1),
            ),
        ]
    )
    failed = [r for r in results if not r.passed]
    assert not failed, failed
    assert len(results) == 12

    # negative control: the gate must actually catch violations — the
    # synthetic lineitem's (orderkey, linenumber) is deliberately NOT a key
    bad = run_checks(
        [
            (
                "unique_lineitem_pk",
                "lineitem",
                lambda: unique(lineitem, ["l_orderkey", "l_linenumber"]),
            )
        ]
    )
    assert not bad[0].passed and bad[0].violations > 0


def test_run_checks_concurrent_results_keep_input_order(spark):
    """Checks run concurrently (the first two wait for each other), later
    ones finish first, and the results still come back in input order."""
    barrier = threading.Barrier(min(2, spark.sparkContext.defaultParallelism), timeout=60)

    def check(i):
        def thunk():
            if i < 2:
                barrier.wait()
            time.sleep(0.05 * (4 - i))
            return spark.range(10).filter(F.col("id") < i).count()

        return thunk

    results = run_checks([(f"c{i}", "t", check(i)) for i in range(4)])
    assert [(r.name, r.violations, r.passed) for r in results] == [
        ("c0", 0, True),
        ("c1", 1, False),
        ("c2", 2, False),
        ("c3", 3, False),
    ]


def test_run_checks_jobs_carry_callers_job_group(spark, jobs_in_group):
    """Every check's jobs run under the caller's job group, so cancelling
    the group stops the whole suite."""
    df = spark.range(100)
    checks = [(f"c{i}", "t", lambda i=i: not_null(df.filter(F.col("id") < i), ["id"])) for i in range(4)]
    grouped, ungrouped = jobs_in_group(lambda: run_checks(checks))
    assert len(grouped) >= 4
    assert ungrouped == set(), f"jobs {sorted(ungrouped)} ran outside the caller's group"
