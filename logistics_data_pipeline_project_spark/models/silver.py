"""Silver layer: typed, validated, deduplicated entities.

Re-expresses the reference's 10 dbt incremental models
(dbt/dbt-project/models/silver/*.sql) and their error-table siblings as
pure DataFrame transforms. Each model function takes the raw source (plus
the current target for incremental watermarking) and returns the new rows;
``plans.runner`` merges them by unique key (dbt
``incremental_strategy='merge'`` ≡ operators.merge.merge_upsert).

Validity predicates and error reasons are verbatim ports (cited per
function); the valid/error split shares one scan via
operators.router.validity_router.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.merge import high_watermark, incremental_filter
from ..operators.router import validity_router

WATERMARK_COL = "_AIRBYTE_EXTRACTED_AT"


def _incremental(raw: DataFrame, existing: DataFrame | None, wm_col: str = WATERMARK_COL) -> DataFrame:
    """dbt is_incremental() watermark filter
    (dbt/.../models/silver/dim_customers.sql:22-25):
    WHERE extracted_at > COALESCE((SELECT MAX(...) FROM this), '2000-01-01')."""
    if existing is None:
        return raw
    return incremental_filter(raw, wm_col, high_watermark(existing, wm_col))


# -- customers (dbt/.../silver/dim_customers.sql, silver_error_customers.sql)

def _customer_rules() -> list[tuple[str, Column]]:
    return [
        ("Missing CUSTOMER_ID", F.col("CUSTOMER_ID").isNull()),
        ("Missing EMAIL", F.col("EMAIL").isNull()),
    ]


def dim_customers(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """Valid branch: CUSTOMER_ID & EMAIL not null (dim_customers.sql:28-33)."""
    valid, _ = validity_router(_incremental(raw, existing), _customer_rules())
    return valid


def silver_error_customers(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """Error branch with first-match reason (silver_error_customers.sql:24-37)."""
    _, errors = validity_router(_incremental(raw, existing), _customer_rules())
    return errors.withColumnRenamed("ERROR_REASON", "error_reason").withColumn(
        "error_logged_at", F.current_timestamp()
    )


# -- orders (dbt/.../silver/fact_orders.sql:24-31, silver_error_orders.sql:24-41)

def _order_rules() -> list[tuple[str, Column]]:
    return [
        ("Missing ORDER_ID", F.col("ORDER_ID").isNull()),
        ("Missing ORDER_DATE", F.col("ORDER_DATE").isNull()),
        ("Missing CUSTOMER_ID", F.col("CUSTOMER_ID").isNull()),
        ("Missing PRODUCT_ID", F.col("PRODUCT_ID").isNull()),
    ]


def fact_orders(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    valid, _ = validity_router(_incremental(raw, existing), _order_rules())
    return valid


def silver_error_orders(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    _, errors = validity_router(_incremental(raw, existing), _order_rules())
    return errors.withColumnRenamed("ERROR_REASON", "error_reason").withColumn(
        "error_logged_at", F.current_timestamp()
    )


# -- inventory (dbt/.../silver/fact_inventory.sql:24-32: 20 < STOCK <= 5000)

def _inventory_rules() -> list[tuple[str, Column]]:
    return [
        ("Missing ID", F.col("ID").isNull()),
        ("Missing STOCK", F.col("STOCK").isNull()),
        ("STOCK too low (<= 20)", F.col("STOCK") <= 20),
        ("STOCK too high (> 5000)", F.col("STOCK") > 5000),
        ("Missing SELLER_ID", F.col("SELLER_ID").isNull()),
        ("Missing PRODUCT_ID", F.col("PRODUCT_ID").isNull()),
    ]


def fact_inventory(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    valid, _ = validity_router(_incremental(raw, existing), _inventory_rules())
    return valid


def silver_error_inventory(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    _, errors = validity_router(_incremental(raw, existing), _inventory_rules())
    return errors.withColumnRenamed("ERROR_REASON", "error_reason").withColumn(
        "error_logged_at", F.current_timestamp()
    )


# -- pass-through typed dims (dim_couriers/locations/products/sellers:
#    watermark filter + projection only; dbt/.../silver/dim_*.sql)


def dim_couriers(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """CDC dim (dim_couriers.sql:7-17; cursor _AB_CDC_UPDATED_AT)."""
    return _incremental(raw, existing, wm_col="_AB_CDC_UPDATED_AT")


def dim_locations(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return _incremental(raw, existing)


def dim_products(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return _incremental(raw, existing)


def dim_sellers(raw: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return _incremental(raw, existing)
