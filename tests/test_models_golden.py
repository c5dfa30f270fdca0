"""Golden given/expect tests for the gold marts — verbatim ports of the
reference's dbt unit tests (SURVEY §5 level 2):

- dbt/dbt-project/tests/test__delivery_performance_by_courier.yml:1-24
- dbt/dbt-project/tests/unit_tests/test__delivery_sla_rootcause.yml:1-48
- dbt/dbt-project/tests/unit_tests/test__seller_performance.yml:1-27
- dbt/dbt-project/tests/unit_tests/test__seller_product_profitability.yml:1-49

These encode the trickiest semantics: conditional aggregation, ratio
rounding (91.33 via ROUND(x,4)*100), DATEDIFF day-boundary math, and the
orders⋈inventory fan-out reproduced as written.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from logistics_data_pipeline_project_spark.models import gold


def _rows(df):
    return sorted([r.asDict() for r in df.collect()], key=repr)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_delivery_performance_by_courier(spark):
    shipments = spark.createDataFrame(
        [
            Row(CARRIER_ID="C001", CARRIER_NAME="Delhivery", DELIVERY_TAT_DAYS=2, DELAY_FLAG=True),
            Row(CARRIER_ID="C001", CARRIER_NAME="Delhivery", DELIVERY_TAT_DAYS=3, DELAY_FLAG=False),
            Row(CARRIER_ID="C002", CARRIER_NAME="BlueDart", DELIVERY_TAT_DAYS=5, DELAY_FLAG=True),
        ]
    )
    couriers = spark.createDataFrame(
        [Row(COURIER_ID="C001", NAME="Delhivery"), Row(COURIER_ID="C002", NAME="BlueDart")]
    )
    out = {r["CARRIER_NAME"]: r for r in _rows(gold.delivery_performance_by_courier(shipments, couriers))}
    assert out["Delhivery"]["total_shipments"] == 2
    assert out["Delhivery"]["avg_delivery_days"] == pytest.approx(2.5)
    assert out["Delhivery"]["delay_percentage"] == pytest.approx(50.0)
    assert out["BlueDart"]["total_shipments"] == 1
    assert out["BlueDart"]["avg_delivery_days"] == pytest.approx(5.0)
    assert out["BlueDart"]["delay_percentage"] == pytest.approx(100.0)


def test_delivery_sla_rootcause(spark):
    orders = spark.createDataFrame(
        [
            Row(ORDER_ID="O1", ORDER_DATE=ts("2024-01-01"), PRODUCT_ID="P1", CUSTOMER_ID="C1", TOTAL_AMOUNT=500.0, PAYMENT_METHOD="COD"),
            Row(ORDER_ID="O2", ORDER_DATE=ts("2024-01-02"), PRODUCT_ID="P1", CUSTOMER_ID="C2", TOTAL_AMOUNT=700.0, PAYMENT_METHOD="Prepaid"),
        ]
    )
    shipments = spark.createDataFrame(
        [
            Row(SHIPMENT_ID="S1", ORDER_ID="O1", SELLER_ID="S001", CARRIER_ID="C100", CHANNEL="App",
                CREATED_AT=ts("2024-01-02"), DELIVERED_AT=ts("2024-01-05"), DELIVERY_TAT_DAYS=2,
                DELAY_FLAG=True, RTO_FLAG=True, DESTINATION_PINCODE="560001", STATUS="Delivered"),
            Row(SHIPMENT_ID="S2", ORDER_ID="O2", SELLER_ID="S001", CARRIER_ID="C100", CHANNEL="Web",
                CREATED_AT=ts("2024-01-03"), DELIVERED_AT=ts("2024-01-04"), DELIVERY_TAT_DAYS=2,
                DELAY_FLAG=False, RTO_FLAG=False, DESTINATION_PINCODE="560001", STATUS="Delivered"),
        ]
    )
    sellers = spark.createDataFrame([Row(SELLER_ID="S001", SELLER_NAME="ShopX")])
    couriers = spark.createDataFrame([Row(COURIER_ID="C100", NAME="Delhivery")])
    locations = spark.createDataFrame([Row(PINCODE="560001", CITY="Bangalore")])

    rows = _rows(gold.delivery_sla_rootcause(orders, shipments, sellers, couriers, locations))
    assert len(rows) == 1
    r = rows[0]
    assert r["SELLER_NAME"] == "ShopX"
    assert r["CARRIER_NAME"] == "Delhivery"
    assert r["destination_city"] == "Bangalore"
    assert r["total_deliveries"] == 2
    assert r["delayed_shipments"] == 1
    assert r["avg_delivery_time"] == pytest.approx(3.0)
    assert r["avg_fulfillment_lag"] == pytest.approx(1.0)
    assert r["avg_courier_lag"] == pytest.approx(2.0)
    assert r["seller_root_causes"] == 0
    assert r["courier_root_causes"] == 1
    assert r["delay_rate_percentage"] == pytest.approx(50.0)


def test_seller_performance_fanout(spark):
    orders = spark.createDataFrame([Row(ORDER_ID="O1", PRODUCT_ID="P1"), Row(ORDER_ID="O2", PRODUCT_ID="P1")])
    shipments = spark.createDataFrame(
        [
            Row(SHIPMENT_ID="S1", ORDER_ID="O1", DELIVERY_TAT_DAYS=2, RTO_FLAG=True),
            Row(SHIPMENT_ID="S2", ORDER_ID="O2", DELIVERY_TAT_DAYS=3, RTO_FLAG=False),
        ]
    )
    inventory = spark.createDataFrame([Row(PRODUCT_ID="P1", SELLER_ID="S001")])
    sellers = spark.createDataFrame([Row(SELLER_ID="S001", SELLER_NAME="ShopX")])
    rows = _rows(gold.seller_performance(orders, shipments, inventory, sellers))
    assert len(rows) == 1
    r = rows[0]
    assert r["SELLER_ID"] == "S001"
    assert r["SELLER_NAME"] == "ShopX"
    assert r["total_orders"] == 2
    assert r["total_shipments"] == 2
    assert r["avg_delivery_time"] == pytest.approx(2.5)
    assert r["rto_percentage"] == pytest.approx(50.0)


def test_seller_product_profitability_margin_rounding(spark):
    orders = spark.createDataFrame(
        [
            Row(ORDER_ID="O1", ORDER_DATE=ts("2024-06-01"), PRODUCT_ID="P1", CUSTOMER_ID="C1", TOTAL_AMOUNT=1000.0, PAYMENT_METHOD="COD"),
            Row(ORDER_ID="O2", ORDER_DATE=ts("2024-06-02"), PRODUCT_ID="P1", CUSTOMER_ID="C2", TOTAL_AMOUNT=500.0, PAYMENT_METHOD="Prepaid"),
        ]
    )
    shipments = spark.createDataFrame(
        [
            Row(SHIPMENT_ID="S1", ORDER_ID="O1", SELLER_ID="S001", CARRIER_ID="C001", CHANNEL="Web",
                SHIPPING_COST=50.0, FUEL_SURCHARGE=20.0, COD_FEE=10.0, INSURANCE=5.0,
                DELAY_FLAG=False, RTO_FLAG=False, DELIVERY_TAT_DAYS=2, DELIVERED_AT=ts("2024-06-04"),
                DESTINATION_PINCODE="560001", STATUS="Delivered"),
            Row(SHIPMENT_ID="S2", ORDER_ID="O2", SELLER_ID="S001", CARRIER_ID="C001", CHANNEL="App",
                SHIPPING_COST=30.0, FUEL_SURCHARGE=10.0, COD_FEE=0.0, INSURANCE=5.0,
                DELAY_FLAG=False, RTO_FLAG=False, DELIVERY_TAT_DAYS=2, DELIVERED_AT=ts("2024-06-03"),
                DESTINATION_PINCODE="560001", STATUS="Delivered"),
        ]
    )
    inventory = spark.createDataFrame(
        [Row(ID=1, PRODUCT_ID="P1", SELLER_ID="S001", STOCK=50, LAST_UPDATED=ts("2024-06-01"))]
    )
    sellers = spark.createDataFrame([Row(SELLER_ID="S001", SELLER_NAME="MegaStore")])
    products = spark.createDataFrame([Row(PRODUCT_ID="P1", PRODUCT_NAME="Smartwatch", CATEGORY="Electronics")])
    locations = spark.createDataFrame([Row(PINCODE="560001", CITY="Bangalore", STATE="Karnataka", ZONE="South")])

    rows = _rows(
        gold.seller_product_profitability(orders, shipments, inventory, locations, products, sellers)
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["SELLER_NAME"] == "MegaStore"
    assert r["CATEGORY"] == "Electronics"
    assert r["PRODUCT_NAME"] == "Smartwatch"
    assert r["DELIVERY_REGION"] == "South"
    assert r["total_orders"] == 2
    assert r["revenue"] == pytest.approx(1500.00)
    assert r["logistics_expense"] == pytest.approx(130.00)
    assert r["gross_profit"] == pytest.approx(1370.00)
    assert r["gross_margin_pct"] == pytest.approx(91.33)


def test_shipment_delay_summary_window_and_day_boundaries(spark):
    from pyspark.sql import functions as F

    # as_of 2024-02-01 -> 30-day cutoff 2024-01-02: the December row is
    # outside the window; DATEDIFF counts date crossings (23:00 -> 01:00
    # is one day)
    shipments = spark.createDataFrame(
        [
            Row(CARRIER_NAME="Delhivery", DESTINATION_CITY="Bangalore",
                STATUS_CREATED_AT=ts("2024-01-10 10:00"), STATUS_DELIVERED_AT=ts("2024-01-12 09:00"),
                DELAY_FLAG=True),
            Row(CARRIER_NAME="Delhivery", DESTINATION_CITY="Bangalore",
                STATUS_CREATED_AT=ts("2024-01-20 23:00"), STATUS_DELIVERED_AT=ts("2024-01-21 01:00"),
                DELAY_FLAG=False),
            Row(CARRIER_NAME="Delhivery", DESTINATION_CITY="Bangalore",
                STATUS_CREATED_AT=ts("2023-12-01 00:00"), STATUS_DELIVERED_AT=ts("2023-12-09 00:00"),
                DELAY_FLAG=True),
            Row(CARRIER_NAME="BlueDart", DESTINATION_CITY="Mumbai",
                STATUS_CREATED_AT=ts("2024-01-15 08:00"), STATUS_DELIVERED_AT=ts("2024-01-20 08:00"),
                DELAY_FLAG=True),
        ]
    )
    rows = [
        r.asDict()
        for r in gold.shipment_delay_summary(shipments, as_of=F.lit(dt.date(2024, 2, 1))).collect()
    ]
    assert rows == [
        {"courier_name": "BlueDart", "delivery_zone": "Mumbai", "total_shipments": 1,
         "avg_delivery_days": 5.0, "delayed_shipments": 1, "delay_rate_pct": 100.0},
        {"courier_name": "Delhivery", "delivery_zone": "Bangalore", "total_shipments": 2,
         "avg_delivery_days": 1.5, "delayed_shipments": 1, "delay_rate_pct": 50.0},
    ]


def test_courier_sla_breach_inner_join(spark):
    shipments = spark.createDataFrame(
        [
            Row(CARRIER_ID="C1", DELAY_FLAG=True),
            Row(CARRIER_ID="C1", DELAY_FLAG=True),
            Row(CARRIER_ID="C1", DELAY_FLAG=False),
            Row(CARRIER_ID="C2", DELAY_FLAG=False),
            Row(CARRIER_ID="C9", DELAY_FLAG=True),  # no courier row: dropped
        ]
    )
    couriers = spark.createDataFrame(
        [
            Row(COURIER_ID="C1", NAME="Delhivery"),
            Row(COURIER_ID="C2", NAME="BlueDart"),
            Row(COURIER_ID="C3", NAME="Ekart"),  # no shipments: absent
        ]
    )
    rows = [r.asDict() for r in gold.courier_sla_breach(shipments, couriers).collect()]
    assert rows == [
        {"courier_name": "Delhivery", "total_shipments": 3, "sla_breaches": 2, "breach_pct": 66.67},
        {"courier_name": "BlueDart", "total_shipments": 1, "sla_breaches": 0, "breach_pct": 0.0},
    ]


def test_geo_delivery_summary_inner_join(spark):
    shipments = spark.createDataFrame(
        [
            Row(DESTINATION_PINCODE="560001", DELIVERY_TAT_DAYS=2, DELAY_FLAG=True),
            Row(DESTINATION_PINCODE="560001", DELIVERY_TAT_DAYS=3, DELAY_FLAG=False),
            Row(DESTINATION_PINCODE="560001", DELIVERY_TAT_DAYS=3, DELAY_FLAG=False),
            Row(DESTINATION_PINCODE="400001", DELIVERY_TAT_DAYS=5, DELAY_FLAG=True),
            Row(DESTINATION_PINCODE="999999", DELIVERY_TAT_DAYS=9, DELAY_FLAG=True),  # unmatched
        ]
    )
    locations = spark.createDataFrame(
        [Row(PINCODE="560001", CITY="Bangalore"), Row(PINCODE="400001", CITY="Mumbai")]
    )
    out = {r["DESTINATION_PINCODE"]: r for r in _rows(gold.geo_delivery_summary(shipments, locations))}
    assert set(out) == {"560001", "400001"}
    assert out["560001"] == {"DESTINATION_PINCODE": "560001", "CITY": "Bangalore", "shipment_count": 3,
                             "avg_delivery_days": 2.67, "delay_rate": pytest.approx(100.0 / 3)}
    assert out["400001"] == {"DESTINATION_PINCODE": "400001", "CITY": "Mumbai", "shipment_count": 1,
                             "avg_delivery_days": 5.0, "delay_rate": 100.0}


def test_silver_error_inventory_first_match_reason_and_watermark(spark):
    from logistics_data_pipeline_project_spark.models import silver

    def inv(id_, stock, seller, product, at):
        return Row(ID=id_, STOCK=stock, SELLER_ID=seller, PRODUCT_ID=product,
                   _AIRBYTE_EXTRACTED_AT=ts(at))

    schema = "ID string, STOCK int, SELLER_ID string, PRODUCT_ID string, _AIRBYTE_EXTRACTED_AT timestamp"
    existing = spark.createDataFrame([inv("I0", 100, "S1", "P1", "2024-01-05")], schema)
    raw = spark.createDataFrame(
        [
            inv("I1", 10, "S1", "P1", "2024-01-06"),
            inv("I2", 6000, "S1", "P1", "2024-01-06"),
            inv("I3", None, None, "P1", "2024-01-06"),  # two violations: first wins
            inv("I4", 100, "S1", "P1", "2024-01-06"),  # valid
            inv("I5", 5, "S1", "P1", "2024-01-04"),  # at/below the watermark: skipped
            inv(None, 50, "S1", "P1", "2024-01-07"),
            inv("I6", 20, "S1", None, "2024-01-07"),  # boundary: 20 is too low
            inv("I7", 5000, "S1", None, "2024-01-07"),  # 5000 is in range
        ],
        schema,
    )
    out = silver.silver_error_inventory(raw, existing)
    assert "error_logged_at" in out.columns
    got = sorted((r["ID"] or "", r["error_reason"]) for r in out.collect())
    assert got == [
        ("", "Missing ID"),
        ("I1", "STOCK too low (<= 20)"),
        ("I2", "STOCK too high (> 5000)"),
        ("I3", "Missing STOCK"),
        ("I6", "STOCK too low (<= 20)"),
        ("I7", "Missing PRODUCT_ID"),
    ]
