"""The four benchmark workloads and their correctness gates.

Each workload turns a seed into inputs (``prepare``), exposes its units
(``units``), runs one unit (``run_unit``) and checks its outputs outside
the timed window (``check``). A unit is one catalog query (registry call
plus a ``noop`` write) or one medallion refresh. The engine is driven only
through its public entry points: the ``queries`` registry, ``ModelRunner``
and ``TableStore`` from ``plans``, and ``stream_merge_upsert``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(HERE, "workloads.json")) as _f:
    SPEC = json.load(_f)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return str(v)
    return v


def _close(x, y, tol: float) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return abs(x - y) <= tol
    return x == y


def _key(row: tuple):
    return (repr(tuple(v for v in row if not isinstance(v, float))), repr(row))


def same_rows(cols_a, rows_a, cols_b, rows_b, tol: float = 0.0) -> str | None:
    """Order-insensitive compare with columns sorted by lowercase name (the
    rule of ``tests/driver_sim.py``); returns a mismatch reason or None.
    Floats must match exactly unless ``tol`` allows a difference."""
    ca = [c.lower() for c in cols_a]
    cb = [c.lower() for c in cols_b]
    if sorted(ca) != sorted(cb):
        return f"columns {ca} != {cb}"
    oa = sorted(range(len(ca)), key=lambda i: ca[i])
    ob = sorted(range(len(cb)), key=lambda i: cb[i])
    a = sorted((tuple(_norm(r[i]) for i in oa) for r in rows_a), key=_key)
    b = sorted((tuple(_norm(r[i]) for i in ob) for r in rows_b), key=_key)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for x, y in zip(a, b):
        if len(x) != len(y) or not all(_close(u, v, tol) for u, v in zip(x, y)):
            return f"values differ, first: {x!r} != {y!r}"
    return None


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in gen.CATALOG_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):  # written by Spark: a directory of parts
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# ---------------------------------------------------------------------------
# catalog workloads: marts, curation, dedup_scaled
# ---------------------------------------------------------------------------


class CatalogWorkload:
    """Registry queries written to the ``noop`` sink."""

    def __init__(self, name: str, work_dir: str, seed: int, tracer, smoke: bool):
        from logistics_data_pipeline_project_spark.queries import REGISTRY

        self.name = name
        self.spec = SPEC[name]
        self.registry = REGISTRY
        self.seed = seed
        self.tracer = tracer
        self.sf = 0.001 if smoke else self.spec["sf"]
        self.factor = 1 if smoke else self.spec.get("factor", 1)
        self.base_dir = os.path.join(work_dir, "inputs", f"catalog-sf{self.sf}-seed{seed}")
        self.data_dir = self.base_dir
        if self.factor > 1:
            self.data_dir = f"{self.base_dir}-x{self.factor}"
        self.warm_dir = os.path.join(work_dir, "inputs", "catalog-sf0.001-warm")
        self.sizes: dict = {}

    def prepare(self) -> dict:
        """Generate the inputs (not Spark-dependent part); returns sizes."""
        self.sizes["rows"] = _cached(self.base_dir, lambda d: gen.write_catalog_tables(d, self.sf, self.seed))
        _cached(self.warm_dir, lambda d: gen.write_catalog_tables(d, 0.001, 0))
        self.sizes.update(sf=self.sf, factor=self.factor)
        return self.sizes

    def prepare_spark(self, spark) -> None:
        """Inputs that need Spark to build (the scaled shards)."""
        if self.factor > 1:
            _cached(self.data_dir, lambda d: gen.write_scaled_tables(self.base_dir, d, self.factor, spark))
        self.sizes["input_bytes"] = _dir_bytes(self.data_dir)

    def units(self) -> list[str]:
        return list(self.spec["timed"])

    def pass_order(self, rng) -> list[str]:
        order = self.units()
        rng.shuffle(order)
        return order

    def before_unit(self, spark) -> None:
        """Nothing to land: every unit reads the same inputs."""

    def warmup(self, spark) -> None:
        """Set-up warm-up: the workload's ``warmup`` queries on sf0.001
        inputs, which start the Python workers and their imports. Code that
        only the timed units run is still cold in the first pass, which
        does not count."""
        for name in self.spec["warmup"]:
            self.registry[name].fn(spark, self.warm_dir).write.format("noop").mode("overwrite").save()

    def run_unit(self, spark, unit: str, tag: str) -> dict:
        sc = spark.sparkContext
        sc.setJobGroup(f"{tag}/build", tag)  # jobs the registry call runs eagerly
        with self.tracer.span("queries.build"):
            df = self.registry[unit].fn(spark, self.data_dir)
        sc.setJobGroup(tag, tag)
        with self.tracer.span("action.noop_write"):
            df.write.format("noop").mode("overwrite").save()
        return {}

    def check(self, spark, n: int) -> list[tuple[str, str]]:
        """Compare ``n`` seed-chosen units with their DuckDB oracle (rows-only
        for queries without one); returns (unit, reason) mismatches."""
        units = self.units()
        picked = random.Random(self.seed).sample(units, min(n, len(units)))
        con = _duck(self.data_dir)
        bad = []
        try:
            for name in picked:
                spec = self.registry[name]
                df = spec.fn(spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                if spec.oracle is None:
                    if not rows:
                        bad.append((name, "no rows"))
                    continue
                cur = con.execute(spec.oracle)
                why = same_rows(df.columns, rows, [d[0] for d in cur.description], cur.fetchall())
                if why:
                    bad.append((name, why))
        finally:
            con.close()
        return bad

    def close(self) -> None:
        """Inputs stay cached under the work directory for later runs."""


def _cached(path: str, build):
    """Build ``path`` once; a ``_DONE`` marker holds ``build``'s result."""
    done = os.path.join(path, "_DONE.json")
    if os.path.isfile(done):
        with open(done) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    out = build(path)
    with open(done, "w") as f:
        json.dump(out, f)
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# medallion_refresh: the write path
# ---------------------------------------------------------------------------

_SHIP_COLS = {
    "SHIPMENT_ID": ("shipment_id", "string"),
    "SEQ": ("seq", "long"),
    "CARRIER_ID": ("carrier.carrier_id", "string"),
    "CARRIER_NAME": ("carrier.carrier_name", "string"),
    "DESTINATION_PINCODE": ("route.destination.pincode", "string"),
    "ORDER_ID": ("order_reference.order_id", "long"),
    "SELLER_ID": ("order_reference.seller_id", "long"),
    "SHIPPING_COST": ("charges.shipping_cost", "double"),
    "FUEL_SURCHARGE": ("charges.fuel_surcharge", "double"),
    "INSURANCE": ("charges.insurance", "double"),
    "COD_FEE": ("charges.cod_fee", "double"),
    "RTO_FLAG": ("shipment_details.rto_flag", "boolean"),
    "DELAY_FLAG": ("shipment_details.delay_flag", "boolean"),
    "DELIVERY_TAT_DAYS": ("shipment_details.delivery_tat_days", "int"),
    "UPDATED_AT": ("shipment_details.updated_at", "timestamp"),
}
_SILVER = {
    # silver model -> (raw table, models.silver function name)
    "dim_customers": ("customers", "dim_customers"),
    "fact_orders": ("orders", "fact_orders"),
    "fact_inventory": ("inventory", "fact_inventory"),
    "dim_products": ("products", "dim_products"),
}
_AS_OF = dt.date(2024, 3, 1)


def _traced_store_cls(tracer, counters: dict):
    from logistics_data_pipeline_project_spark.plans import TableStore

    class TracedStore(TableStore):
        """TableStore whose commits are timed and whose new files are
        counted (hardlinked files carried over by ``append`` are not)."""

        def _commit(self, kind, name, df, meta):
            before = set()
            cur = self.current_version(name)
            if cur is not None:
                before = {
                    os.stat(os.path.join(self._vdir(name, cur), f)).st_ino
                    for f in os.listdir(self._vdir(name, cur))
                }
            with tracer.span(f"store.{kind}"):
                getattr(super(), kind)(name, df, meta)
            vdir = self._vdir(name, self.current_version(name))
            for f in os.listdir(vdir):
                st = os.stat(os.path.join(vdir, f))
                if st.st_ino not in before and f.endswith(".parquet"):
                    counters["store.bytes_written"] += st.st_size
                    counters["store.files_written"] += 1

        def overwrite(self, name, df, meta=None):
            self._commit("overwrite", name, df, meta)

        def append(self, name, df, meta=None):
            self._commit("append", name, df, meta)

    return TracedStore


class MedallionWorkload:
    """Silver merges, SCD2 snapshot, quality checks, gold rebuild and a
    streamed shipment batch, one refresh per change batch."""

    def __init__(self, name: str, work_dir: str, seed: int, tracer, smoke: bool):
        self.name = name
        self.spec = SPEC[name]
        self.seed = seed
        self.tracer = tracer
        self.rows = 200 if smoke else self.spec["rows"]
        self.batches = 2 if smoke else self.spec["batches"]
        self.root = os.path.join(work_dir, "medallion", f"seed{seed}-{os.getpid()}")
        self.sizes: dict = {}
        self.counters = {"store.bytes_written": 0, "store.files_written": 0}
        self.change_bytes = 0
        self.landed = self.applied = 0

    def prepare(self) -> dict:
        self.boot, self.changes = gen.medallion_inputs(self.seed, self.rows, self.batches)
        self.sizes.update(
            rows=self.rows,
            batches=self.batches,
            bootstrap_rows={t: (len(v) if isinstance(v, list) else v.num_rows) for t, v in self.boot.items()},
            batch_rows=[
                {t: (len(v) if isinstance(v, list) else v.num_rows) for t, v in b.items()}
                for b in self.changes
            ],
        )
        return self.sizes

    def units(self) -> list[str]:
        return ["refresh"]

    def pass_order(self, rng) -> list[str]:
        return self.units()

    # -- pipeline ------------------------------------------------------------

    def _fresh(self, spark):
        """A new warehouse bootstrapped from generated rows (input preparation)."""
        from logistics_data_pipeline_project_spark.models import gold, silver
        from logistics_data_pipeline_project_spark.plans import Model, ModelRunner
        from pyspark.sql import functions as F

        base = self.root
        shutil.rmtree(base, ignore_errors=True)
        self.base = base
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        store = _traced_store_cls(self.tracer, self.counters)(spark, os.path.join(base, "wh"))
        runner = ModelRunner(spark, store, threads=3)
        for model, (raw, fn_name) in _SILVER.items():
            fn = getattr(silver, fn_name)
            wm = silver.WATERMARK_COL
            runner.register(Model(
                name=model,
                fn=lambda s, ref, _raw=raw, _fn=fn: _fn(store.read(f"raw_{_raw}")),
                materialization="incremental",
                unique_key=gen.MEDALLION_KEYS[raw],
                watermark_col=wm,
                dedup_order=(wm,),
            ))
        runner.register(Model(
            name="snap_customers",
            fn=lambda s, ref: ref("dim_customers").select("CUSTOMER_ID", "NAME", "EMAIL", "CITY"),
            deps=("dim_customers",),
            materialization="snapshot",
            unique_key="CUSTOMER_ID",
            tracked_cols=("NAME", "EMAIL", "CITY"),
        ))
        as_of = F.lit(_AS_OF)
        runner.register(Model(
            name="gold_inventory_orders",
            fn=lambda s, ref: gold.inventory_order_summary(
                ref("fact_inventory"), ref("fact_orders"), ref("dim_products"), as_of=as_of
            ),
            deps=("fact_inventory", "fact_orders", "dim_products"),
        ))
        self.store, self.runner = store, runner
        self.stream_no = 0
        self._land(spark, self.boot)
        with self.tracer.span("runner.run"):
            runner.run()
        self._stream(spark)
        self._gold_shipments(spark)

    def _land(self, spark, batch: dict) -> None:
        """Append one batch of raw rows and land its shipment JSON file."""
        for t in gen.MEDALLION_KEYS:
            data = gen.table_bytes(batch[t])
            self.change_bytes += len(data)
            self.store.append(f"raw_{t}", spark.createDataFrame(batch[t].to_pandas()))
        payload = gen.shipments_json(batch["shipments"])
        self.change_bytes += len(payload)
        self.stream_no += 1
        with open(os.path.join(self.landing, f"shipments_{self.stream_no:04d}.json"), "wb") as f:
            f.write(payload)

    def _stream(self, spark) -> dict:
        from logistics_data_pipeline_project_spark.streaming import stream_merge_upsert
        from pyspark.sql import functions as F

        ship_schema = spark.read.json(self.landing).schema if self.stream_no == 1 else self.ship_schema
        self.ship_schema = ship_schema
        src = spark.readStream.schema(ship_schema).json(self.landing).select(
            *[F.col(p).cast(t).alias(c) for c, (p, t) in _SHIP_COLS.items()]
        )
        with self.tracer.span("streaming.run"):
            q = stream_merge_upsert(
                src, self.store, "fact_shipments", keys=["SHIPMENT_ID"],
                cursor_col="UPDATED_AT", tiebreak_col="SEQ",
                checkpoint_dir=os.path.join(self.base, "ckpt"), available_now=True,
            )
            q.awaitTermination()
        prog = q.recentProgress
        return {
            "streaming.batch_s": sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3,
            "streaming.rows": sum(p.get("numInputRows", 0) for p in prog),
        }

    def _gold_shipments(self, spark) -> None:
        from logistics_data_pipeline_project_spark.models import gold

        with self.tracer.span("gold.shipments"):
            self.store.overwrite(
                "gold_shipment_cost", gold.shipment_cost_summary(self.store.read("fact_shipments"))
            )

    def _quality(self) -> list:
        from logistics_data_pipeline_project_spark.plans.quality import not_null, run_checks, unique

        checks = []
        for model, (raw, _) in _SILVER.items():
            key = gen.MEDALLION_KEYS[raw]
            df = self.store.read(model)
            checks.append((f"unique_{key}", model, lambda df=df, key=key: unique(df, [key])))
        orders = self.store.read("fact_orders")
        checks.append(("not_null_CUSTOMER_ID", "fact_orders", lambda: not_null(orders, ["CUSTOMER_ID"])))
        with self.tracer.span("quality.check"):
            results = run_checks(checks)
        failed = [r for r in results if not r.passed]
        if failed:
            raise RuntimeError(f"quality checks failed: {failed}")
        return results

    def prepare_spark(self, spark) -> None:
        """Bootstrap the warehouse the refreshes apply to: the initial load
        is input preparation, timed on its own and not part of set-up."""
        self._fresh(spark)
        self.counters.update({k: 0 for k in self.counters})
        self.change_bytes = 0

    def warmup(self, spark) -> None:
        """Set-up warm-up on the write path: a small table written through
        ``TableStore`` and read back (the catalog queries would warm code a
        refresh never runs)."""
        from logistics_data_pipeline_project_spark.plans import TableStore

        path = self.root + "-warm"
        shutil.rmtree(path, ignore_errors=True)
        store = TableStore(spark, path)
        store.overwrite("warm", spark.range(1000).selectExpr("id", "id % 7 AS k"))
        store.read("warm").groupBy("k").count().collect()
        shutil.rmtree(path)

    def before_unit(self, spark) -> None:
        """Land the next change batch (the raw sync, not the refresh)."""
        if self.landed == self.applied < len(self.changes):
            self._land(spark, self.changes[self.applied])
            self.landed += 1

    def run_unit(self, spark, unit: str, tag: str) -> dict:
        if self.landed == self.applied:
            raise RuntimeError(f"all {self.batches} change batches applied; raise 'batches'")
        self.applied += 1
        with self.tracer.span("runner.run"):
            self.runner.run()
        self._quality()
        out = self._stream(spark)
        self._gold_shipments(spark)
        return out

    def check(self, spark, n: int) -> list[tuple[str, str]]:
        """Replay the applied batches in DuckDB and compare silver, snapshot
        and gold tables with the warehouse."""
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        bad = []
        try:
            applied = [self.boot] + self.changes[: self.applied]
            for t, key in gen.MEDALLION_KEYS.items():
                con.register(f"raw_{t}", pa.concat_tables([b[t] for b in applied]))
            ships = [r for b in applied for r in b["shipments"]]
            con.register("raw_ship", pa.Table.from_pylist([_flat_ship(r) for r in ships]))
            for model, (raw, _) in _SILVER.items():
                sql = _silver_sql(raw)
                con.execute(f"CREATE VIEW {model} AS {sql}")
                self._compare(con, model, f"SELECT * FROM {model}", bad)
            con.execute(
                "CREATE VIEW fact_shipments AS SELECT * EXCLUDE (rn) FROM ("
                " SELECT *, row_number() OVER (PARTITION BY SHIPMENT_ID"
                " ORDER BY UPDATED_AT DESC, SEQ DESC) rn FROM raw_ship) WHERE rn = 1"
            )
            self._compare(con, "fact_shipments", "SELECT * FROM fact_shipments", bad)
            self._compare(con, "gold_inventory_orders", _GOLD_INV_ORDERS_SQL, bad)
            self._compare(con, "gold_shipment_cost", _GOLD_COST_SQL, bad)
            self._check_snapshot(con, bad)
        finally:
            con.close()
        return bad

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _compare(self, con, table: str, sql: str, bad: list) -> None:
        df = self.store.read(table)
        cur = con.execute(sql)
        want = cur.fetchall()
        tol = 0.0
        if table == "gold_shipment_cost":
            # the mart rounds averages of doubles to cents; the two engines
            # sum in different orders, so a half-cent average may round
            # either way
            want = [tuple(_spark_round(v) if isinstance(v, float) else v for v in r) for r in want]
            tol = 0.010001
        why = same_rows(df.columns, [tuple(r) for r in df.collect()], [d[0] for d in cur.description], want, tol)
        if why:
            bad.append((table, why))

    def _check_snapshot(self, con, bad: list) -> None:
        """Current snapshot rows equal silver; every key has one current
        row; versions per key = 1 + refreshes that changed its values."""
        snap = self.store.read("snap_customers")
        cur = snap.filter("is_current").select("CUSTOMER_ID", "NAME", "EMAIL", "CITY")
        c = con.execute("SELECT CUSTOMER_ID, NAME, EMAIL, CITY FROM dim_customers")
        why = same_rows(cur.columns, [tuple(r) for r in cur.collect()], [d[0] for d in c.description], c.fetchall())
        if why:
            bad.append(("snap_customers", why))
        want = _snapshot_versions(self.boot, self.changes[: self.applied])
        got = {r[0]: r[1] for r in snap.groupBy("CUSTOMER_ID").count().collect()}
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:3]
            bad.append(("snap_customers", f"version counts differ for keys {diff}"))


def _spark_round(x: float, digits: int = 2) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def _flat_ship(r: dict) -> dict:
    def get(path):
        v = r
        for p in path.split("."):
            v = v[p]
        return v

    out = {c: get(p) for c, (p, _) in _SHIP_COLS.items()}
    out["ORDER_ID"] = int(out["ORDER_ID"])
    out["SELLER_ID"] = int(out["SELLER_ID"])
    out["UPDATED_AT"] = dt.datetime.strptime(out["UPDATED_AT"], "%Y-%m-%d %H:%M:%S")
    return out


_VALID = {
    "customers": "CUSTOMER_ID IS NOT NULL AND EMAIL IS NOT NULL",
    "orders": "ORDER_ID IS NOT NULL AND ORDER_DATE IS NOT NULL AND CUSTOMER_ID IS NOT NULL"
              " AND PRODUCT_ID IS NOT NULL",
    "inventory": "ID IS NOT NULL AND STOCK IS NOT NULL AND STOCK > 20 AND STOCK <= 5000"
                 " AND SELLER_ID IS NOT NULL AND PRODUCT_ID IS NOT NULL",
}


def _silver_sql(raw: str) -> str:
    key = gen.MEDALLION_KEYS[raw]
    where = _VALID.get(raw, "TRUE")
    return (
        f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY {key}"
        f" ORDER BY _AIRBYTE_EXTRACTED_AT DESC) rn FROM raw_{raw} WHERE {where}) WHERE rn = 1"
    )


_GOLD_INV_ORDERS_SQL = f"""
SELECT i.PRODUCT_ID, p.PRODUCT_NAME, i.STOCK, count(o.ORDER_ID) AS orders_last_30_days
FROM fact_inventory i
LEFT JOIN fact_orders o ON i.PRODUCT_ID = o.PRODUCT_ID
     AND o.ORDER_DATE >= DATE '{_AS_OF.isoformat()}' - INTERVAL 30 DAYS
JOIN dim_products p ON i.PRODUCT_ID = p.PRODUCT_ID
GROUP BY i.PRODUCT_ID, p.PRODUCT_NAME, i.STOCK
"""
_GOLD_COST_SQL = """
SELECT CARRIER_NAME, avg(SHIPPING_COST) AS avg_shipping_cost,
       avg(FUEL_SURCHARGE) AS avg_fuel_surcharge, avg(INSURANCE) AS avg_insurance,
       avg(COD_FEE) AS avg_cod_fee
FROM fact_shipments GROUP BY CARRIER_NAME
"""


def _snapshot_versions(boot: dict, changes: list) -> dict:
    """Expected SCD2 row count per customer key after replaying refreshes."""
    tracked = ("NAME", "EMAIL", "CITY")
    current: dict = {}
    versions: dict = {}
    for batch in [boot] + changes:
        latest = {}
        for row in batch["customers"].to_pylist():
            if row["CUSTOMER_ID"] is None or row["EMAIL"] is None:
                continue
            latest[row["CUSTOMER_ID"]] = tuple(row[c] for c in tracked)
        # the incremental merge keeps the last valid version: the snapshot
        # sees silver's state after this refresh
        for k, vals in latest.items():
            if current.get(k) != vals:
                versions[k] = versions.get(k, 0) + 1
                current[k] = vals
    return versions


WORKLOADS = {
    "marts": CatalogWorkload,
    "curation": CatalogWorkload,
    "dedup_scaled": CatalogWorkload,
    "medallion_refresh": MedallionWorkload,
}
