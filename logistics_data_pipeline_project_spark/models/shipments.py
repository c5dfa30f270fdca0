"""The flagship shipment ingestion flow (SURVEY §3.1, entry point A):
raw JSON shipment batches → nested FLATTEN → status-tracking extraction
with window dedup → 22-column typed projection → composite-key MERGE into
FACT_SHIPMENTS.

Re-expresses dags/2_logistics-shipment-dag.py:89-209 Spark-first:
- The bronze layer is schema-on-read: ``spark.read.json`` infers the
  nested struct (the VARIANT equivalent); one file = a JSON array of
  shipment documents, so the scan itself is the first LATERAL FLATTEN.
- ``explode(status_tracking)`` replaces the correlated LATERAL FLATTEN for
  status timestamps; the per-status latest-wins QUALIFY becomes a
  max-aggregation (equivalent to ROW_NUMBER…rn=1 on a single column, but
  one hash agg instead of a sort — cheaper at scale).
- TRY_TO_TIMESTAMP_NTZ → try_to_timestamp (NULL on garbage, never abort).
- The 3-key window pre-dedup + MERGE is the engine's one upsert policy,
  operators.merge (latest_rows + upsert) — Snowflake errors on duplicate
  source matches, which the pre-dedup guarantees can't happen (SURVEY §M3).

Scale: the explode fans out ~#status-events per shipment, aggregated
straight back down — partial aggregation keeps the shuffle small. The
merge shuffles both sides on (order_id, carrier_id, seller_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.merge import latest_rows, upsert

MERGE_KEYS = ("order_id", "carrier_id", "seller_id")

#: typed projection: column name → (json path, spark type)
_PROJECTION: dict[str, tuple[str, str]] = {
    "shipment_id": ("shipment_id", "string"),
    "carrier_id": ("carrier.carrier_id", "string"),
    "carrier_name": ("carrier.carrier_name", "string"),
    "origin_city": ("route.origin.city", "string"),
    "origin_pincode": ("route.origin.pincode", "string"),
    "warehouse_id": ("route.origin.warehouse_id", "string"),
    "destination_city": ("route.destination.city", "string"),
    "destination_pincode": ("route.destination.pincode", "string"),
    "customer_address_type": ("route.destination.customer_address_type", "string"),
    "order_id": ("order_reference.order_id", "string"),
    "seller_id": ("order_reference.seller_id", "string"),
    "channel": ("order_reference.channel", "string"),
    "shipping_cost": ("charges.shipping_cost", "double"),
    "fuel_surcharge": ("charges.fuel_surcharge", "double"),
    "insurance": ("charges.insurance", "double"),
    "cod_fee": ("charges.cod_fee", "double"),
    "status": ("shipment_details.status", "string"),
    "rto_flag": ("shipment_details.rto_flag", "boolean"),
    "delay_flag": ("shipment_details.delay_flag", "boolean"),
    "delivery_tat_days": ("shipment_details.delivery_tat_days", "int"),
}


def _ts(path: str) -> Column:
    return F.try_to_timestamp(F.col(path).cast("string"))


def flatten_shipments(raw: DataFrame) -> DataFrame:
    """Bronze → typed silver rows (pre-merge): the 22-column projection
    (dags/2_logistics-shipment-dag.py:125-146) plus latest Created /
    Delivered status timestamps extracted from the status_tracking array
    (:105-122).

    ``raw`` is the inferred-schema read of shipment JSON documents (one
    row per shipment — spark.read.json of an array file already yields
    element rows).
    """
    cols = [
        F.col(path).cast(typ).alias(name) for name, (path, typ) in _PROJECTION.items()
    ]
    cols.append(_ts("shipment_details.created_at").alias("created_at"))
    cols.append(_ts("shipment_details.delivered_at").alias("delivered_at"))
    base = raw.select(*cols, F.col("shipment_details.status_tracking").alias("__tracking"))

    # Latest per-status timestamps: explode + conditional max aggregation
    # (equivalent to the reference's two QUALIFY rn=1 subqueries, :105-122,
    # but a single pass and no sort).
    st = base.select(
        "shipment_id", F.explode_outer("__tracking").alias("ev")
    ).select(
        "shipment_id",
        F.col("ev.status").cast("string").alias("ev_status"),
        F.try_to_timestamp(F.col("ev.timestamp").cast("string")).alias("ev_ts"),
    )
    status_ts = st.groupBy("shipment_id").agg(
        F.max(F.when(F.col("ev_status") == "Created", F.col("ev_ts"))).alias(
            "status_created_at"
        ),
        F.max(F.when(F.col("ev_status") == "Delivered", F.col("ev_ts"))).alias(
            "status_delivered_at"
        ),
    )
    return base.drop("__tracking").join(status_ts, "shipment_id", "left")


def merge_fact_shipments(target: DataFrame | None, src: DataFrame) -> DataFrame:
    """Composite-key MERGE with mandatory pre-dedup (SURVEY §M3;
    dags/2_logistics-shipment-dag.py:149-205): keep the latest row per
    (order_id, carrier_id, seller_id) by created_at desc (shipment_id as
    deterministic tiebreaker — the reference leaves ties arbitrary), then
    upsert. ``target=None`` bootstraps the fact table."""
    keys = list(MERGE_KEYS)
    latest = latest_rows(src, keys, [F.desc("created_at"), F.desc("shipment_id")])
    return upsert(target, latest, keys)


def ingest_shipment_batch(raw: DataFrame, target: DataFrame | None = None) -> DataFrame:
    """Full entry-point-A flow: flatten → dedup → merge."""
    return merge_fact_shipments(target, flatten_shipments(raw))
