"""TableStore commits each version's read schema (``_SCHEMA.json``) with
the data, so ``read`` skips parquet footer inference. The committed schema
must be exactly the one inference would give, after every kind of write."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from logistics_data_pipeline_project_spark.plans import TableStore

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField(
            "addr",
            StructType(
                [
                    StructField("city", StringType(), False),
                    StructField("zip", IntegerType()),
                ]
            ),
        ),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("sku", StringType()),
                        StructField("qty", IntegerType(), False),
                    ]
                ),
                containsNull=False,
            ),
        ),
        StructField("tags", MapType(StringType(), DoubleType(), valueContainsNull=False)),
        StructField("ts", TimestampType()),
        StructField("d", DateType()),
        StructField("amt", DecimalType(12, 2)),
    ]
)


def _rows(ids):
    return [
        (
            i,
            (f"c{i}", 10000 + i),
            [(f"s{i}", i), (f"t{i}", 2 * i)],
            {"w": i / 2},
            dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(hours=i),
            dt.date(2024, 1, 1) + dt.timedelta(days=i),
            Decimal(f"{i}.25"),
        )
        for i in ids
    ]


def _assert_schema_matches_inference(spark, store, name, version=None):
    path = store.path(name, version)
    assert os.path.isfile(os.path.join(path, "_SCHEMA.json"))
    assert store.read(name, version).schema == spark.read.parquet(path).schema


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"), retain_versions=10)


def test_schema_round_trips_through_every_write(spark, store):
    store.overwrite("t", spark.createDataFrame(_rows(range(4)), SCHEMA))
    _assert_schema_matches_inference(spark, store, "t")
    v1 = store.current_version("t")

    # hardlink append: the prior version's files carry over by name
    store.append("t", spark.createDataFrame(_rows(range(4, 6)), SCHEMA))
    old = {f for f in os.listdir(store.path("t", v1)) if f.endswith(".parquet")}
    assert old <= set(os.listdir(store.path("t")))
    _assert_schema_matches_inference(spark, store, "t")

    # drift append: a new column forces the unionByName rewrite
    drifted = spark.createDataFrame(_rows([6]), SCHEMA).withColumn("note", F.lit("x"))
    store.append("t", drifted)
    assert store.read("t").columns[-1] == "note"
    _assert_schema_matches_inference(spark, store, "t")

    store.compact("t")
    _assert_schema_matches_inference(spark, store, "t")

    purged, _ = store.purge_keys("t", "id", spark.createDataFrame([(0,)], "id long"))
    assert purged == 1
    _assert_schema_matches_inference(spark, store, "t")
    got = {r["id"]: r for r in store.read("t").collect()}
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    assert got[3]["addr"]["city"] == "c3" and got[3]["items"][1]["qty"] == 6
    assert got[3]["tags"] == {"w": 1.5} and got[3]["amt"] == Decimal("3.25")
    assert got[6]["note"] == "x" and got[5]["note"] is None

    # time travel and rollback read the older version's own schema
    _assert_schema_matches_inference(spark, store, "t", version=v1)
    assert "note" not in store.read("t", version=v1).columns
    store.rollback("t", v1)
    _assert_schema_matches_inference(spark, store, "t")
    assert store.read("t").count() == 4


def test_version_without_schema_file_is_inferred(spark, store):
    store.overwrite("t", spark.createDataFrame(_rows(range(3)), SCHEMA))
    os.remove(os.path.join(store.path("t"), "_SCHEMA.json"))
    df = store.read("t")
    assert df.schema == spark.read.parquet(store.path("t")).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2]
    # the next hardlink append commits the inferred schema forward
    store.append("t", spark.createDataFrame(_rows([3]), SCHEMA))
    _assert_schema_matches_inference(spark, store, "t")
    assert store.read("t").count() == 4


def test_legacy_flat_layout_reads(spark, tmp_path):
    wh = tmp_path / "wh"
    spark.createDataFrame(_rows(range(2)), SCHEMA).write.parquet(str(wh / "t"))
    store = TableStore(spark, str(wh))
    df = store.read("t")
    assert df.schema == spark.read.parquet(str(wh / "t")).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1]


def test_read_schema_starts_no_job(spark, store, jobs_in_group):
    store.overwrite("t", spark.createDataFrame(_rows(range(3)), SCHEMA))
    grouped, ungrouped = jobs_in_group(lambda: store.read("t").schema)
    assert grouped == set() and ungrouped == set()
    # control: without the committed schema, inference runs a footer job
    os.remove(os.path.join(store.path("t"), "_SCHEMA.json"))
    grouped, _ = jobs_in_group(lambda: store.read("t").schema)
    assert grouped
