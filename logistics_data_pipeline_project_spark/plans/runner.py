"""dbt-style model runner (SURVEY §3.2's Spark re-architecture and §4
custom-work item 2): a registry of DataFrame-producing model functions
with declared dependencies, toposorted and executed with a thread pool
(mirroring dbt ``threads: 3`` / the Airflow fan-out at
dags/snowflake-EDW-ETL-dag.py:549-561), each materialized per its config:

- ``view``         → temp view (dbt materialized='view')
- ``table``        → atomic parquet overwrite (CTAS)
- ``incremental``  → first run CTAS; then source-watermark + merge by
                     unique_key (dbt incremental_strategy='merge', §M5)
- ``snapshot``     → SCD2 history via operators.merge.scd2_apply (§M6)

Every model run records a row for the ETL_AUDIT_LOG table (§M7,
dbt/.../macros/log_audit_event.sql:1-21): model, run id, status, started/
finished timestamps, rows processed. The rows are buffered and committed
as ONE append per ``run()`` (plus one per failing model, so a failure
alert always finds its FAILED row committed).

Threading note: Spark sessions are thread-safe for job submission; running
independent models concurrently lets the scheduler interleave their stages
exactly like dbt's thread pool does against a warehouse. Pool threads
inherit the caller's Spark local properties (job group, scheduler pool),
so ``cancelJobGroup`` stops a whole run. Each submitted model makes its own
``inheritable_thread_target(spark)`` call: the call clones the caller's
properties once and installs that one JVM object in every thread running
a function it wrapped, so a shared call lets concurrent models overwrite
each other's ``spark.sql.execution.id`` (a job then starts under an
execution that already ended).
"""

from __future__ import annotations

import datetime as dt
import threading
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, Row, SparkSession, functions as F

from ..operators.merge import (
    high_watermark,
    incremental_filter,
    latest_rows,
    scd2_apply,
    upsert,
)
from .materialize import TableStore
from .quality import DataQualityError, gate  # noqa: F401 (DataQualityError: re-export)

AUDIT_TABLE = "etl_audit_log"

#: model fn signature: (spark, resolve) -> DataFrame, where resolve(name)
#: returns a dependency's DataFrame (ref()) — reading the *materialized*
#: table, matching the reference's through-storage stage chaining
#: (SURVEY §3.3 step 3).
ModelFn = Callable[[SparkSession, Callable[[str], DataFrame]], DataFrame]


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: Sequence[str] = field(default_factory=tuple)
    materialization: str = "table"  # view | table | incremental | snapshot
    unique_key: str | None = None  # incremental merge / snapshot key
    watermark_col: str | None = None  # incremental high-watermark column
    tracked_cols: Sequence[str] = field(default_factory=tuple)  # snapshot
    dedup_order: Sequence[str] = field(default_factory=tuple)  # pre-merge dedup
    #: dbt-style data tests, gated BEFORE the write: a callable over the
    #: model's output returning quality.CheckResult rows; any failed check
    #: aborts the model (FAILED audit + on_failure alert) with the store
    #: untouched — stricter than dbt, which materializes first and tests
    #: after, leaving bad data committed when a test fails.
    checks: Callable[[DataFrame], Sequence] | None = None


class ModelRunner:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        threads: int = 3,
        on_failure: Callable[[str, str, Exception], None] | None = None,
    ):
        """``on_failure(model_name, run_id, exc)`` is the K10 failure-alert
        hook (dags/utils/aws_utils.py:6-38 publishes to SNS; here any
        callable — pager, log shipper — can subscribe). It fires after the
        FAILED audit row is written and before the exception propagates."""
        self.spark = spark
        self.store = store
        self.on_failure = on_failure
        self.threads = threads
        self.models: dict[str, Model] = {}
        self._lock = threading.Lock()
        self._audit_rows: list[Row] = []

    def register(self, model: Model) -> Model:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name!r}")
        self.models[model.name] = model
        return model

    # -- resolution ---------------------------------------------------------

    def ref(self, name: str) -> DataFrame:
        """Read a dependency's materialized output (table/parquet) or view."""
        m = self.models.get(name)
        if m and m.materialization == "view":
            return self.spark.table(name)
        return self.store.read(name)

    # -- execution ----------------------------------------------------------

    def _toposort(self, selected: set[str]) -> list[list[str]]:
        """Kahn's algorithm returning *levels* (independent groups run
        concurrently)."""
        pending = {n: {d for d in self.models[n].deps if d in selected} for n in selected}
        levels: list[list[str]] = []
        while pending:
            ready = sorted(n for n, ds in pending.items() if not ds)
            if not ready:
                raise ValueError(f"dependency cycle among {sorted(pending)}")
            levels.append(ready)
            for n in ready:
                del pending[n]
            for ds in pending.values():
                ds.difference_update(ready)
        return levels

    def _audit(self, model: str, run_id: str, status: str, started: dt.datetime, rows: int) -> None:
        """Buffer one audit row; ``_flush_audit`` commits the buffer."""
        row = Row(
            job_name=model,
            run_id=run_id,
            status=status,
            started_at=started,
            finished_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            rows_processed=rows,
        )
        with self._lock:
            self._audit_rows.append(row)

    def _flush_audit(self) -> None:
        with self._lock:
            rows, self._audit_rows = self._audit_rows, []
            if rows:
                self.store.append(AUDIT_TABLE, self.spark.createDataFrame(rows))

    def _write_counted(self, name: str, df: DataFrame) -> int:
        """Atomic overwrite + audit row count in ONE job: an Observation
        accumulates count(*) while the parquet write runs, replacing the
        read-back-and-count second scan (2× the write-path I/O at scale)."""
        obs = Observation()
        self.store.overwrite(name, df.observe(obs, F.count(F.lit(1)).alias("rows")))
        return obs.get["rows"]

    def _materialize(self, m: Model, df: DataFrame) -> int:
        if m.materialization == "view":
            df.createOrReplaceTempView(m.name)
            return df.count()
        if m.materialization == "table":
            return self._write_counted(m.name, df)
        if not self.store.exists(m.name):
            # first run: CTAS; a snapshot opens every row's history
            if m.materialization == "snapshot":
                df = (
                    df.withColumn("valid_from", F.current_timestamp())
                    .withColumn("valid_to", F.lit(None).cast("timestamp"))
                    .withColumn("is_current", F.lit(True))
                )
            return self._write_counted(m.name, df)
        if m.materialization == "incremental":
            target = self.store.read(m.name)
            source = df
            if m.watermark_col:
                source = incremental_filter(
                    source, m.watermark_col, high_watermark(target, m.watermark_col)
                )
            latest = latest_rows(source, [m.unique_key], [F.desc(c) for c in m.dedup_order])
            return self._write_counted(m.name, upsert(target, latest, [m.unique_key]))
        if m.materialization == "snapshot":
            history = self.store.read(m.name)
            updated = scd2_apply(
                history,
                df,
                key=m.unique_key,
                tracked_cols=list(m.tracked_cols),
                effective_ts=F.current_timestamp(),
            )
            return self._write_counted(m.name, updated)
        raise ValueError(f"unknown materialization {m.materialization!r}")

    def _run_one(self, name: str, run_id: str) -> None:
        m = self.models[name]
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        try:
            df = m.fn(self.spark, self.ref)
            gate(name, m.checks, df)
            rows = self._materialize(m, df)
            self._audit(name, run_id, "SUCCESS", started, rows)
        except Exception as exc:
            self._audit(name, run_id, "FAILED", started, -1)
            self._flush_audit()
            if self.on_failure is not None:
                try:
                    self.on_failure(name, run_id, exc)
                except Exception:
                    pass  # alerting must never mask the real failure
            raise

    def run(self, select: Sequence[str] | None = None) -> str:
        """Run selected models (default all) in dependency order; returns
        the run id. Models within a level run concurrently."""
        selected = set(select) if select else set(self.models)
        for n in selected:
            if n not in self.models:
                raise KeyError(f"unknown model {n!r}")
        run_id = uuid.uuid4().hex[:12]
        try:
            for level in self._toposort(selected):
                if len(level) == 1:
                    self._run_one(level[0], run_id)
                else:
                    with ThreadPoolExecutor(max_workers=self.threads) as pool:
                        futures = []
                        for n in level:  # one properties clone per task: see the threading note
                            run_one = inheritable_thread_target(self.spark)(self._run_one)
                            futures.append(pool.submit(run_one, n, run_id))
                        for f in futures:
                            f.result()
        finally:
            self._flush_audit()
        return run_id

    def audit_log(self) -> DataFrame:
        return self.store.read(AUDIT_TABLE)
