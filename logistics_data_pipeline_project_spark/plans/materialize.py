"""Versioned, atomic table materialization over a parquet warehouse.

The reference's writes are Snowflake CTAS / MERGE — implicitly atomic and
(in Snowflake) time-travelable. Over files the same guarantees come from a
tiny commit protocol, the essence of what Delta/Iceberg do with manifest
files (SURVEY §7 Phase 2):

- every write lands in a NEW immutable version directory
  (``warehouse/name/v_000001`` …) that is invisible to readers,
- the read schema (``_SCHEMA.json``, every level nullable — exactly what
  parquet read-back yields) and optional metadata (``_META.json``) are
  written into that directory, so ``read`` needs no footer-inference job,
- a one-line ``_LATEST`` pointer file is then swapped atomically
  (``os.replace``) — readers see either the old or the new snapshot,
  never a partial write,
- old versions are retained (``retain_versions``) for time-travel reads
  (``read(name, version=n)``) and instant ``rollback`` (a pointer swap,
  no data copy), then garbage-collected.

``append`` snapshots cheaply: the new version hardlinks the current
version's files and adds the appended part files next to them — O(files)
metadata, zero data copy, and the previous snapshot stays intact.

A write never touches the directory it may be reading from (the next
version is always a fresh directory, and GC runs after the pointer swap),
so a model may overwrite its own table with a plan over its current
snapshot without checkpointing it first. The rewrites of the current
snapshot (``compact``, ``purge_keys``, ``optimize_zorder``, a drifting
``append``) all commit through ``overwrite`` and keep the snapshot's
``_META.json``.

An incremental model can therefore safely read its own previous state
while computing the next one, and a bad batch is undone in O(1). The API
(read/exists/overwrite/append/versions/rollback) is format agnostic so a
lakehouse format can back it without touching callers.

Pre-versioning layouts (parquet files directly under ``warehouse/name``)
are migrated into ``v_000001`` on the next write. Directories without
``_SCHEMA.json`` (those layouts, or versions written before the schema was
committed) are read with schema inference.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_POINTER = "_LATEST"
_VPREFIX = "v_"
_META = "_META.json"
_STATS = "_STATS.json"
_SCHEMA = "_SCHEMA.json"


def _dump_json(vdir: str, fname: str, obj) -> None:
    with open(os.path.join(vdir, fname), "w") as f:
        json.dump(obj, f)


def _load_json(vdir: str, fname: str):
    """The committed JSON file's content, or None if it was never written."""
    p = os.path.join(vdir, fname)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _nullable(t: DataType) -> DataType:
    """``t`` with every level nullable — the schema Spark reads back from
    parquet whatever nullability was written (Scala ``asNullable``)."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class TableStore:
    """Name → versioned parquet directory mapping with atomic commits."""

    def __init__(
        self, spark: SparkSession, warehouse_dir: str, retain_versions: int = 3
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.retain_versions = max(1, retain_versions)
        os.makedirs(warehouse_dir, exist_ok=True)

    # -- layout ---------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"{_VPREFIX}{version:06d}")

    def versions(self, name: str) -> list[int]:
        """All retained snapshot versions, oldest first."""
        d = self._table_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith(_VPREFIX) and f[len(_VPREFIX) :].isdigit():
                out.append(int(f[len(_VPREFIX) :]))
        return sorted(out)

    def current_version(self, name: str) -> int | None:
        """The committed version the ``_LATEST`` pointer names (falls back
        to the newest version directory if a crash lost the pointer)."""
        ptr = os.path.join(self._table_dir(name), _POINTER)
        if os.path.isfile(ptr):
            with open(ptr) as f:
                v = f.read().strip()
            if v.isdigit() and os.path.isdir(self._vdir(name, int(v))):
                return int(v)
        vs = self.versions(name)
        return vs[-1] if vs else None

    def _has_legacy_files(self, name: str) -> bool:
        d = self._table_dir(name)
        return os.path.isdir(d) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(d)
        )

    def _migrate_legacy(self, name: str) -> None:
        """Move a pre-versioning flat layout into v_000001 + pointer."""
        d = self._table_dir(name)
        v1 = self._vdir(name, 1)
        os.makedirs(v1)
        for f in os.listdir(d):
            if f != os.path.basename(v1) and not f.startswith(_VPREFIX):
                os.rename(os.path.join(d, f), os.path.join(v1, f))
        self._commit_pointer(name, 1)

    def _resolve(self, name: str, version: int | None) -> str:
        if self._has_legacy_files(name):
            return self._table_dir(name)
        cur = self.current_version(name)
        if version is None:
            version = cur
        if version is None:
            return self._table_dir(name)  # nonexistent; let Spark error
        if version not in self.versions(name):
            raise ValueError(
                f"table {name!r} has no version {version}; "
                f"retained: {self.versions(name)}"
            )
        return self._vdir(name, version)

    def _commit_pointer(self, name: str, version: int) -> None:
        d = self._table_dir(name)
        tmp = os.path.join(d, f"{_POINTER}.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(d, _POINTER))  # atomic on POSIX

    def _gc(self, name: str) -> None:
        cur = self.current_version(name)
        keep = set(self.versions(name)[-self.retain_versions :])
        if cur is not None:
            keep.add(cur)
        for v in self.versions(name):
            if v not in keep:
                shutil.rmtree(self._vdir(name, v), ignore_errors=True)

    def _require(self, name: str) -> int:
        """The current version of an existing table (KeyError otherwise)."""
        cur = self.current_version(name)
        if cur is None:
            raise KeyError(f"no table {name!r}")
        return cur

    def _publish(self, name: str, version: int, schema: StructType, meta: dict | None) -> None:
        """Every write's commit tail once its data files are in place:
        schema and meta files, pointer swap, GC."""
        vdir = self._vdir(name, version)
        _dump_json(vdir, _SCHEMA, _nullable(schema).jsonValue())
        if meta is not None:
            _dump_json(vdir, _META, meta)
        self._commit_pointer(name, version)
        self._gc(name)

    def _rewrite(self, name: str, df: DataFrame, meta: dict | None = None) -> None:
        """Commit ``df``, a plan over the current snapshot, keeping the
        snapshot's metadata (a stream's replay guard) unless ``meta``
        replaces it — through ``overwrite``, which subclasses may wrap."""
        self.overwrite(name, df, (self.meta(name) or None) if meta is None else meta)

    # -- public API -----------------------------------------------------

    def path(self, name: str, version: int | None = None) -> str:
        """Resolved data directory of a (versioned) snapshot."""
        return self._resolve(name, version)

    def exists(self, name: str) -> bool:
        if self._has_legacy_files(name):
            return True
        return self.current_version(name) is not None

    def _reader(self, vdir: str):
        """A parquet reader carrying ``vdir``'s committed schema, which
        spares Spark the footer-reading inference job; directories without
        one fall back to inference."""
        schema = _load_json(vdir, _SCHEMA)
        if schema is None:
            return self.spark.read
        return self.spark.read.schema(StructType.fromJson(schema))

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version``."""
        vdir = self._resolve(name, version)
        return self._reader(vdir).parquet(vdir)

    def overwrite(
        self, name: str, df: DataFrame, meta: dict | None = None
    ) -> None:
        """Commit ``df`` as a new snapshot version (atomic pointer swap).

        ``meta`` (a small JSON-able dict, e.g. a stream's last applied
        batch id) is written INTO the version directory before the pointer
        swap, so it commits atomically with the data — readers can never
        see a snapshot without its metadata or vice versa. The read schema
        commits the same way. Spark ignores ``_``-prefixed files, so the
        parquet scan is unaffected."""
        if self._has_legacy_files(name):
            self._migrate_legacy(name)
        os.makedirs(self._table_dir(name), exist_ok=True)
        nxt = (self.versions(name) or [0])[-1] + 1
        # the version dir is invisible to readers until the pointer swap,
        # so Spark can write it in place; a crash leaves an uncommitted
        # orphan dir that the next write's numbering skips and GC removes
        df.write.mode("overwrite").parquet(self._vdir(name, nxt))
        self._publish(name, nxt, df.schema, meta)

    def meta(self, name: str, version: int | None = None) -> dict:
        """The snapshot's committed metadata dict ({} if none was given)."""
        return _load_json(self._resolve(name, version), _META) or {}

    def append(
        self, name: str, df: DataFrame, meta: dict | None = None
    ) -> None:
        """Commit a new snapshot = current files (hardlinked, zero copy)
        + ``df``'s part files.

        If ``df``'s schema drifts from the current snapshot (new, missing,
        or re-typed columns), the append falls back to a unionByName
        rewrite — existing rows get NULLs for new columns, incoming rows
        get NULLs for columns they lack — so the committed snapshot always
        has ONE coherent schema (readers never need mergeSchema). The
        zero-copy hardlink path is taken only on an exact schema match.

        ``meta`` replaces the snapshot metadata; when omitted, the prior
        version's ``_META.json`` is carried forward unchanged — an append
        must never silently erase a stream's replay guard (last applied
        batch id), or a crash-replayed micro-batch would be re-folded into
        non-idempotent sketch state."""
        if self._has_legacy_files(name):
            self._migrate_legacy(name)
        cur = self.current_version(name)
        if cur is None:
            self.overwrite(name, df, meta)
            return
        if meta is None:
            meta = self.meta(name) or None
        current = self.read(name)
        # nullability (at any nesting level) is not drift: parquet
        # read-back is always nullable, so a stricter incoming column
        # appends safely — only name/type differences force the unionByName
        # rewrite (which would also needlessly drop file stats and rewrite
        # the whole table)
        def _lax(schema):
            return [(f.name, _nullable(f.dataType)) for f in schema.fields]

        if _lax(current.schema) != _lax(df.schema):
            self._rewrite(name, current.unionByName(df, allowMissingColumns=True), meta)
            return
        nxt = self.versions(name)[-1] + 1
        src, dst = self._vdir(name, cur), self._vdir(name, nxt)
        os.makedirs(dst)
        carried = set()
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.link(os.path.join(src, f), os.path.join(dst, f))
                carried.add(f)
        df.write.mode("append").parquet(dst)
        # data-skipping stats maintain incrementally: hardlinked files keep
        # their names (their stats entries stay valid); only the NEW part
        # files get scanned — O(batch), never O(table)
        prior_stats = self.stats(name)
        if prior_stats is not None:
            new_files = [
                f
                for f in os.listdir(dst)
                if f.endswith(".parquet") and f not in carried
            ]
            merged = {
                "columns": prior_stats["columns"],
                "files": dict(prior_stats["files"]),
            }
            if new_files:
                merged["files"].update(
                    self._file_stats(
                        [os.path.join(dst, f) for f in new_files],
                        prior_stats["columns"],
                    )
                )
            _dump_json(dst, _STATS, merged)
        # the schema matched the current snapshot's, so it carries forward
        self._publish(name, nxt, current.schema, meta)

    def compact(self, name: str, target_file_mb: int = 128) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current
        snapshot into ~``target_file_mb``-sized parquet files and commit
        the result as a new version (same atomic pointer swap — readers
        of the old snapshot are untouched, rollback still works).

        Repeated appends accumulate one part-file set per batch; at scale
        the resulting small files dominate scan cost (per-file open +
        footer read + scheduler overhead beat actual IO). Returns the new
        file count. Worth running when file count far exceeds
        bytes/target_file_mb — the same trigger heuristic lakehouse
        OPTIMIZE jobs use."""
        src = self._vdir(name, self._require(name))
        total_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        self._rewrite(name, self.read(name).coalesce(n_files))
        new = self._vdir(name, self.current_version(name))
        return sum(1 for f in os.listdir(new) if f.endswith(".parquet"))

    def rollback(self, name: str, version: int) -> None:
        """Point the table back at an earlier retained snapshot — a pure
        pointer swap, O(1), no data copy."""
        if version not in self.versions(name):
            raise ValueError(
                f"cannot rollback {name!r} to {version}; "
                f"retained: {self.versions(name)}"
            )
        self._commit_pointer(name, version)

    def changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Row-level change feed between two retained snapshots — the
        engine's Delta/Iceberg CDF analogue. Returns the ``to`` snapshot's
        columns plus ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} (preimages only with ``include_preimages``).

        With ``keys``: a single full-outer join on the key columns, the
        non-key columns collapsed to ONE struct comparison per row (null-
        safe), so the diff costs one shuffle per side regardless of column
        count — and feeds exactly the (key, postimage) stream an
        incremental MERGE consumer (operators/merge.py) or a maintained
        rollup (plans/incremental.py) wants, without re-reading history.

        Without ``keys``: a multiset diff — groupBy whole row, count per
        side, emit |Δcount| inserts/deletes; order-insensitive and
        duplicate-correct, for tables with no natural key.
        """
        old = self.read(name, from_version)
        new = self.read(name, to_version)
        cols = new.columns
        if old.columns != cols:
            # schema evolution between the snapshots: compare on the union
            # schema (missing columns read as NULL on the older side)
            allc = list(dict.fromkeys(old.columns + cols))
            for c in allc:
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None))
                if c not in cols:
                    new = new.withColumn(c, F.lit(None))
            cols = allc
        if keys is None:
            o = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_old"))
            n = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_new"))
            cond = [o[c].eqNullSafe(n[c]) for c in cols]
            j = o.join(n, cond, "full_outer").select(
                *[F.coalesce(o[c], n[c]).alias(c) for c in cols],
                F.coalesce("_n_old", F.lit(0)).alias("_n_old"),
                F.coalesce("_n_new", F.lit(0)).alias("_n_new"),
            )
            delta = (F.col("_n_new") - F.col("_n_old")).alias("_delta")
            changed = j.select(*cols, delta).filter(F.col("_delta") != 0)
            return changed.select(
                *cols,
                F.explode(
                    F.expr(
                        "transform(sequence(1, abs(_delta)),"
                        " i -> CASE WHEN _delta > 0 THEN 'insert' ELSE 'delete' END)"
                    )
                ).alias("_change_type"),
            )
        val_cols = [c for c in cols if c not in keys]
        o = old.select(
            *keys, F.struct(*val_cols).alias("_vo"), F.lit(True).alias("_in_old")
        )
        n = new.select(
            *keys, F.struct(*val_cols).alias("_vn"), F.lit(True).alias("_in_new")
        )
        cond = [o[k].eqNullSafe(n[k]) for k in keys]
        j = o.join(n, cond, "full_outer").select(
            *[F.coalesce(o[k], n[k]).alias(k) for k in keys],
            "_vo",
            "_vn",
            F.coalesce("_in_old", F.lit(False)).alias("_in_old"),
            F.coalesce("_in_new", F.lit(False)).alias("_in_new"),
        )
        ins = j.filter(~F.col("_in_old")).select(
            *keys,
            *[F.col(f"_vn.{c}").alias(c) for c in val_cols],
            F.lit("insert").alias("_change_type"),
        )
        dels = j.filter(~F.col("_in_new")).select(
            *keys,
            *[F.col(f"_vo.{c}").alias(c) for c in val_cols],
            F.lit("delete").alias("_change_type"),
        )
        upd = j.filter(
            F.col("_in_old") & F.col("_in_new") & ~F.col("_vo").eqNullSafe(F.col("_vn"))
        )
        post = upd.select(
            *keys,
            *[F.col(f"_vn.{c}").alias(c) for c in val_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        out = ins.unionByName(dels).unionByName(post)
        if include_preimages:
            pre = upd.select(
                *keys,
                *[F.col(f"_vo.{c}").alias(c) for c in val_cols],
                F.lit("update_preimage").alias("_change_type"),
            )
            out = out.unionByName(pre)
        # restore the snapshot's column order, change type last
        return out.select(*cols, "_change_type")

    def purge_keys(
        self, name: str, key_col: str, keys: DataFrame
    ) -> tuple[int, int]:
        """Hard-delete every row whose ``key_col`` appears in ``keys`` and
        commit the result as a new snapshot — the right-to-be-forgotten
        primitive. Returns (rows_purged, new_version).

        The deletion is ONE broadcast anti-join over the current snapshot
        (the key list is small by nature), so at 100 TB the purge costs a
        single scan+rewrite, and the atomic pointer swap means readers
        never observe a half-purged table; the snapshot's metadata carries
        over, as in every rewrite. NOTE: retained older snapshots
        still contain the purged rows (that is what makes rollback safe);
        for a compliance-complete erasure, follow with retention GC by
        committing ``retain_versions`` new versions or lowering retention
        — the same two-phase contract Delta's VACUUM has."""
        self._require(name)
        df = self.read(name)
        klist = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
        kept = df.join(F.broadcast(klist), key_col, "left_anti")
        before = df.count()
        self._rewrite(name, kept)
        after = self.read(name).count()
        return before - after, self.current_version(name)

    # -- file-level data skipping ----------------------------------------

    def analyze(self, name: str, cols: list[str]) -> dict:
        """Compute per-file min/max/null-count statistics for ``cols`` on
        the CURRENT snapshot and commit them as ``_STATS.json`` inside the
        version directory — the data-skipping index Delta/Iceberg keep in
        their manifests. One Spark job over the snapshot (grouped by
        ``input_file_name``); the result is O(files), driver-sized.

        Stats are derived metadata: adding them does not change committed
        data, and readers that predate them simply skip nothing. Columns
        must be of orderable scalar types whose ordering survives JSON
        (integers, floats, strings, dates/timestamps — the latter stored
        as ISO strings, whose lexicographic order IS chronological order).
        Returns the stats dict."""
        vdir = self._vdir(name, self._require(name))
        stats = {"columns": cols, "files": self._file_stats([vdir], cols)}
        _dump_json(vdir, _STATS, stats)
        return stats

    def _file_stats(self, paths: list[str], cols: list[str]) -> dict:
        """Per-file stats entries for the parquet files under ``paths`` —
        one grouped aggregate, O(files) result."""
        df = self.spark.read.parquet(*paths)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__min__{c}"),
                F.max(c).alias(f"__max__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"),
            ]
        rows = (
            df.groupBy(F.input_file_name().alias("__file")).agg(*aggs).collect()
        )
        files = {}
        for r in rows:
            base = os.path.basename(r["__file"])
            entry = {"n": r["__n"], "cols": {}}
            for c in cols:
                entry["cols"][c] = {
                    "min": _stats_encode(r[f"__min__{c}"]),
                    "max": _stats_encode(r[f"__max__{c}"]),
                    "nulls": r[f"__nulls__{c}"],
                }
            files[base] = entry
        return files

    def stats(self, name: str, version: int | None = None) -> dict | None:
        """The snapshot's data-skipping stats, or None if never analyzed."""
        return _load_json(self._resolve(name, version), _STATS)

    def read_pruned(
        self, name: str, col: str, op: str, value, value2=None
    ) -> tuple[DataFrame, int, int]:
        """Read the current snapshot with FILE-LEVEL pruning: only the
        part files whose [min, max] interval for ``col`` can contain rows
        matching ``col <op> value`` are opened; the predicate is then
        applied to the survivors, so results are exactly equal to an
        unpruned filter. ``op`` ∈ {=, <, <=, >, >=, between} (between
        takes ``value2`` as the inclusive upper bound).

        Returns (DataFrame, files_kept, files_total). Files without stats
        for ``col`` (or with no stats at all) are conservatively kept —
        pruning is an optimization, never a correctness gamble. At 100 TB
        this is the difference between scanning a table and scanning the
        handful of files a clustered/z-ordered layout confines the
        predicate to — the same skipping a lakehouse manifest gives."""
        vdir = self._vdir(name, self._require(name))
        all_files = sorted(f for f in os.listdir(vdir) if f.endswith(".parquet"))
        st = self.stats(name)
        v = _stats_encode(value)
        v2 = _stats_encode(value2) if value2 is not None else None
        kept = []
        for fname in all_files:
            entry = (st or {}).get("files", {}).get(fname, {}).get("cols", {}).get(col)
            if entry is None or entry["min"] is None or entry["max"] is None:
                kept.append(fname)  # no stats / all-null file: cannot prune =
                # (all-null files match no range predicate, but min/max None
                # also means "unknown" for legacy stats — keep conservatively)
                continue
            lo, hi = entry["min"], entry["max"]
            if op == "=":
                keep = lo <= v <= hi
            elif op == "<":
                keep = lo < v
            elif op == "<=":
                keep = lo <= v
            elif op == ">":
                keep = hi > v
            elif op == ">=":
                keep = hi >= v
            elif op == "between":
                if v2 is None:
                    raise ValueError("between needs value2")
                keep = hi >= v and lo <= v2
            else:
                raise ValueError(f"unsupported op {op!r}")
            if keep:
                kept.append(fname)
        c = F.col(col)
        pred = {
            "=": c == value,
            "<": c < value,
            "<=": c <= value,
            ">": c > value,
            ">=": c >= value,
            "between": c.between(value, value2),
        }[op]
        if not kept:
            # empty result with the right schema, zero files opened
            empty = self.read(name).where(F.lit(False))
            return empty, 0, len(all_files)
        df = self._reader(vdir).parquet(*[os.path.join(vdir, f) for f in kept])
        return df.where(pred), len(kept), len(all_files)


def _stats_encode(v):
    """JSON-safe encoding that PRESERVES ordering within a column's type:
    numbers stay numbers; strings stay strings (Python str comparison is
    code-point order == UTF-8 byte order == Spark's string order); dates/
    timestamps become ISO strings (lexicographic == chronological)."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # str() breaks ordering across digit counts ("9.5" > "10.0") and
        # float() could flip order at the min/max boundary — honest
        # refusal; callers cast the column for stats purposes
        raise TypeError("decimal stats unsupported; cast to double/long first")
    raise TypeError(f"unsupported stats type {type(v).__name__}")


def optimize_zorder(
    store: TableStore,
    name: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> dict:
    """OPTIMIZE ZORDER BY: rewrite the current snapshot range-partitioned
    on the interleaved-bit key of ``cols`` (operators.scale.zorder_key),
    commit atomically, and refresh the data-skipping stats for the same
    columns — after which ``read_pruned`` on ANY of the clustered columns
    opens a file subset (multi-dimensional clustering + file skipping,
    the Delta OPTIMIZE ZORDER pairing). Returns the new stats dict."""
    from ..operators.scale import zorder_key

    store._require(name)
    clustered = store.read(name).repartitionByRange(n_files, zorder_key(cols, bits=bits))
    store._rewrite(name, clustered)
    return store.analyze(name, cols)
