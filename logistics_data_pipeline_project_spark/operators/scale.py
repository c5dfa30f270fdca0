"""Physical-layout and skew operators for cluster scale.

These are the knobs SURVEY §7's scale stance promises beyond what AQE does
automatically (session.py): co-located joins via bucketing, two-phase
salted aggregation for skewed keys, salted replicated joins, and
date-partitioned table layout so incremental loads (§M4) prune at the
scan instead of filtering after it.

All helpers are declarative DataFrame/catalog operations — the physical
win is visible in `.explain()` (no Exchange for bucket-joins,
PartitionFilters for pruned scans) and tests/test_scale_layout.py asserts
those plan properties, not just results.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .sketch import fold_partials


def fan_out(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Round-robin repartition an under-partitioned input to the cluster's
    default parallelism before a CPU-heavy derivation (shingling, hashing,
    tokenization).

    Parquet scan parallelism follows *bytes* (`files.maxPartitionBytes`),
    but derivation cost follows *work per row* — a few-MB documents file
    arrives as one task and serializes an explode that fans every row out
    a thousandfold. When the incoming partition count is below
    ``min_fraction`` of ``defaultParallelism``, insert one round-robin
    exchange of the (small) raw rows so the expensive downstream stage
    runs wide; at real scale the scan is already wide and this is a no-op
    (no exchange is added). The check reads the logical plan's partition
    count only — nothing is executed.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    name: str,
    keys: Sequence[str],
    n_buckets: int,
    path: str,
    sorted_by: Sequence[str] | None = None,
) -> None:
    """Materialize ``df`` as a catalog table bucketed (and optionally
    sorted) on ``keys``.

    Two tables bucketed on the same keys with the same bucket count
    equi-join WITHOUT a shuffle — the join becomes a zip of co-numbered
    buckets. This is the 100 TB answer for the recurring fact⋈fact joins
    (orders⋈lineitem on orderkey, orders⋈shipments on order_id): pay the
    shuffle once at write time, never again per query.
    """
    writer = df.write.mode("overwrite").option("path", path)
    writer = writer.bucketBy(n_buckets, *keys)
    if sorted_by:
        writer = writer.sortBy(*sorted_by)
    writer.saveAsTable(name)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (keys, salt) — the hot key's rows spread over
    ``n_salts`` reducers; phase 2 merges the partials on keys alone.
    ``aggs`` maps each output column to its phase-1 expression and its
    kind (``sum | count | min | max | approx_distinct``); phase 2 merges
    by that kind through `operators.sketch.fold_partials`, so a
    ``F.min(...)`` declared ``"min"`` merges by min whatever its alias.
    Each column keeps its phase-1 dtype.

    Results are identical to a plain groupBy because every kind is
    decomposable; deterministic because the salt is a hash of the whole
    row, not rand().
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).alias("__salt")
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *[col.alias(alias) for alias, (col, _) in aggs.items()]
    )
    return fold_partials(
        [partial], keys, {alias: kind for alias, (_, kind) in aggs.items()}
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys and ``small`` is too big to
    broadcast outright: salt the skewed side (hash of full row → n ways),
    replicate the other side once per salt, join on (key, salt).

    The hot key's rows land on ``n_salts`` different reducers instead of
    one straggler. AQE's skew-join split (enabled in session.py) handles
    moderate skew automatically; this operator is for the pathological
    case where one key dominates the whole dataset and must be declared
    upfront. Column set of the result matches a plain inner join.
    """
    skew_cols, small_cols = skewed.columns, small.columns
    salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*skew_cols), F.lit(n_salts))
    )
    replicated = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted.join(replicated, [key, "__salt"])
    return out.select(
        *[skewed[c] for c in skew_cols],
        *[small[c] for c in small_cols if c != key],
    )


def overwrite_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> DataFrame:
    """Write a table partitioned by ``partition_cols`` (e.g. ingest date)
    and return a reader over it.

    The §M4 high-watermark filter (``ts > watermark``) then prunes whole
    partitions at planning time — the scan's PartitionFilters — instead of
    reading 100 TB to discard 99% of it. This is the batch analogue of a
    streaming checkpoint: bronze partitioned by load date makes every
    incremental run O(new data).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return spark.read.parquet(path)


def backfill_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> DataFrame:
    """Selective backfill: replace ONLY the partitions present in ``df``
    (dynamic partition overwrite), leaving every other partition's files
    untouched.

    This is the correction-run primitive: re-deriving one bad load date
    of a 100 TB date-partitioned bronze rewrites that day, not the table.
    The overwrite granularity is the whole partition — ``df`` must carry
    the COMPLETE corrected content of every partition it mentions (the
    same contract as Hive/Delta dynamic overwrite). The mode is set only
    for this write and restored after."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.read.parquet(path)


def day_partition(ts_col: str, name: str = "load_date") -> Column:
    """Derive the standard daily partition column from an event/ingest
    timestamp (the layout convention overwrite_partitioned expects)."""
    return F.to_date(F.col(ts_col)).alias(name)


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton/Z-order key: interleave the low ``bits`` bits of each
    (non-negative, pre-scaled integer) column into one Long sort key.

    Sorting/range-partitioning files by this key clusters rows that are
    close in EVERY dimension into the same file, so parquet min/max
    stats prune multi-dimensional predicates — a linear sort clusters
    only its leading column and leaves every file spanning the full
    range of the others. Pure bit-arithmetic column expression
    (whole-stage codegen, no UDF); ``bits * len(cols)`` must fit a Long.
    """
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a Long sort key")
    out = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        for i in range(bits):
            # bit i of column ci lands at interleaved position i*n + ci
            out = out + F.shiftright(col, i).bitwiseAND(F.lit(1)).cast(
                "long"
            ) * F.lit(1 << (i * n + ci))
    return out


def write_zordered(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out in Z-order over ``cols``.

    Each column is min/max scaled to ``bits`` bits (two tiny scalar
    aggregates), interleaved with :func:`zorder_key`, then
    ``repartitionByRange`` + ``sortWithinPartitions`` on the key produce
    ``n_files`` files whose per-file min/max spans shrink on EVERY
    z-ordered column (~n_files^(-1/len(cols)) of the global span each,
    vs. the full span on all non-leading columns under a linear sort).
    The one range exchange here is paid at write time; every later scan
    with predicates on any subset of ``cols`` prunes row groups for
    free. This is the same layout idea as Delta/Iceberg OPTIMIZE ZORDER,
    expressed with stock DataFrame ops."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = df.agg(*aggs).first()
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        span = (hi - lo) or 1
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c) - F.lit(lo)) * (float(top) / float(span))).cast(
                    "long"
                ),
            )
        )
    keyed = df.withColumn("__z", zorder_key(scaled, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str,
    manifest_cols: Sequence[str] | None = None,
) -> dict:
    """Deterministic training-data export: write ``df`` into exactly
    ``n_shards`` parquet shard directories (``shard=K``), rows assigned
    by md5(key) — the SAME uniform, partitioning-stable draw as the
    engine's samplers (q045) and ring sharding (q177) — and commit a
    ``_MANIFEST.json`` recording per-shard row counts and an
    order-insensitive content checksum (sum of per-row xxhash64 over
    ``manifest_cols``, wrapped to uint64). A trainer (or a re-export on
    a different cluster layout) verifies integrity per shard without
    re-reading the source.

    Shard assignment depends only on row KEYS, so re-running on any
    partitioning/cluster size reproduces byte-identical shard
    membership; one shuffle on the shard id. The source lineage is
    evaluated EXACTLY ONCE (the write job); the manifest aggregate is
    then derived from the shard files just written — a scan of the
    columnar OUTPUT, never a second pass over the source — so the
    checksum certifies the bytes a trainer will actually read and
    there is no window for source mutation between write and manifest.
    Returns the manifest dict."""
    import json
    import os

    cols = list(manifest_cols or df.columns)
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(n_shards),
    ).alias("shard")
    tagged = df.withColumn("shard", shard).repartition(n_shards, "shard")
    tagged.write.mode("overwrite").partitionBy("shard").parquet(path)
    written = (
        df.sparkSession.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.xxhash64(*cols)).cast("long").alias("content_sum"),
        )
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "key": key,
        "manifest_cols": cols,
        "shards": {
            str(r["shard"]): {
                "n_rows": r["n_rows"],
                "content_sum": r["content_sum"],
            }
            for r in written
        },
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def verify_shards(spark, path: str) -> dict:
    """Re-derive every shard's row count and content checksum from the
    written files and compare with ``_MANIFEST.json``. Returns
    {shard: 'ok' | 'mismatch' | 'missing'} — the integrity gate a
    training job runs before consuming an exported corpus."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    df = spark.read.parquet(path)
    cols = manifest["manifest_cols"]
    got = {
        str(r["shard"]): (r["n_rows"], r["content_sum"])
        for r in df.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.xxhash64(*cols)).cast("long").alias("content_sum"),
        )
        .collect()
    }
    out = {}
    for shard, want in manifest["shards"].items():
        if shard not in got:
            out[shard] = "missing"
        elif got[shard] == (want["n_rows"], want["content_sum"]):
            out[shard] = "ok"
        else:
            out[shard] = "mismatch"
    return out
