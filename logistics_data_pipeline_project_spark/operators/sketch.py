"""Probabilistic-sketch operators: count-min counters, Bloom-filter
membership, geometric quantile histograms, and HyperLogLog distinct
registers — all deterministic (md5 bucket hashing / literal bin edges /
integer-exact harmonic sums) so every result is reproducible across
engines, partitionings, and re-runs (the engine-wide determinism policy
— see queries/registry.py).

Why these exist at 100 TB: exact per-key state (counts, membership) is
O(distinct keys); both sketches here are O(depth × 16^hex_chars) — a few
KB — and their state is *mergeable* (counters are sum-decomposable,
Bloom bit-sets are union-decomposable), so partial sketches combine
map-side exactly like any algebraic aggregate, and incremental refreshes
merge new-batch sketches into stored ones without re-reading history.
`fold_partials` is the one merge rule for such partials; the salted
aggregate, plans/incremental.py and the streaming ledgers call it too.

Buckets are hex-prefix strings rather than integers: ``substr(md5(
"<row>:" || key), 1, hex_chars)`` is engine-portable (Spark and DuckDB
md5 agree bit-for-bit) and needs no hex→int conversion, giving
``16^hex_chars`` buckets per hash row.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


#: How each kind of partial merges. Counts merge by summing the partial
#: counts; an HLL sketch (``hll_sketch_agg``) merges by register union.
_FOLD = {
    "sum": F.sum,
    "count": F.sum,
    "min": F.min,
    "max": F.max,
    "approx_distinct": F.hll_union_agg,
}


def fold_partials(
    frames: Sequence[DataFrame], keys: Sequence[str], kinds: Mapping[str, str]
) -> DataFrame:
    """Merge partial aggregates into one: union ``frames``, group by
    ``keys`` and merge each measure column by its kind in ``kinds``
    (``sum | count | min | max | approx_distinct``). Every kind is
    associative and commutative, so the fold equals a one-shot aggregate
    of the concatenated input however it was split into partials. This
    is the one merge rule of the salted two-phase aggregate, the sketch
    merges, the incremental rollups and the streaming ledgers.

    The output is the keys, then the measures in the given order. Each
    measure is cast back to its input dtype, so a decimal sum folded
    again and again keeps its type instead of widening by one digit per
    fold. Other columns of ``frames`` are dropped."""
    for col, kind in kinds.items():
        if kind not in _FOLD:
            raise ValueError(f"measure {col!r}: kind must be one of {sorted(_FOLD)}")
    cols = [*keys, *kinds]
    out = frames[0].select(cols)
    for f in frames[1:]:
        out = out.unionByName(f.select(cols))
    return out.groupBy(*keys).agg(
        *[
            _FOLD[kind](col).cast(out.schema[col].dataType).alias(col)
            for col, kind in kinds.items()
        ]
    )


def _bucket(key: Column, row: int, hex_chars: int) -> Column:
    return F.substring(
        F.md5(F.concat(F.lit(f"{row}:"), key.cast("string"))), 1, hex_chars
    )


def cms_counters(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 3,
    hex_chars: int = 2,
) -> DataFrame:
    """Count-min sketch as a DataFrame: one counter row per (hash row,
    bucket), ``counter`` = total weight of keys landing in the bucket.

    Cormode & Muthukrishnan 2005: estimate(key) = min over rows of its
    bucket's counter — never under, over only on collisions. The explode
    to ``depth`` rows happens map-side (Expand), and the single groupBy
    shuffles at most depth·16^hex_chars aggregated rows after partial
    aggregation — the fact stream itself never reshuffles.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    entries = F.array(
        *[
            F.struct(
                F.lit(r).alias("hash_row"),
                _bucket(F.col(key_col), r, hex_chars).alias("bucket"),
            )
            for r in range(1, depth + 1)
        ]
    )
    return (
        df.select(F.explode(entries).alias("e"), w.alias("w"))
        .groupBy(F.col("e.hash_row").alias("hash_row"), F.col("e.bucket").alias("bucket"))
        .agg(F.sum("w").cast("long").alias("counter"))
    )


def cms_estimate(
    items: DataFrame,
    counters: DataFrame,
    key_col: str,
    depth: int = 3,
    hex_chars: int = 2,
) -> DataFrame:
    """Annotate ``items`` with ``cms_est`` — the count-min estimate of
    ``key_col`` from a ``cms_counters`` sketch. The sketch is tiny by
    construction, so the join broadcasts; min-over-rows collapses the
    depth matches back to one row per item."""
    conds = [
        (F.col("c.hash_row") == r)
        & (F.col("c.bucket") == _bucket(F.col(f"i.{key_col}"), r, hex_chars))
        for r in range(1, depth + 1)
    ]
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    others = [f"i.{c}" for c in items.columns]
    return (
        items.alias("i")
        .join(F.broadcast(counters.alias("c")), cond)
        .groupBy(*others)
        .agg(F.min("c.counter").alias("cms_est"))
    )


def bloom_bits(
    df: DataFrame, key_col: str, depth: int = 3, hex_chars: int = 2
) -> DataFrame:
    """Bloom-filter bit-set as a DataFrame: the DISTINCT (hash_row,
    bucket) pairs hit by the member keys. m = depth·16^hex_chars bits;
    union of two filters = union of their rows (mergeable)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(r).alias("hash_row"),
                _bucket(F.col(key_col), r, hex_chars).alias("bucket"),
            )
            for r in range(1, depth + 1)
        ]
    )
    return (
        df.select(F.explode(entries).alias("e"))
        .select(F.col("e.hash_row").alias("hash_row"), F.col("e.bucket").alias("bucket"))
        .distinct()
    )


def geometric_edges(
    lo: float, hi: float, bins_per_octave: int = 4
) -> list[float]:
    """Geometric bin boundaries ``lo · 2^(i/bpo)`` up to the first edge
    ≥ ``hi`` — the HdrHistogram layout: constant RELATIVE bin width
    ``2^(1/bpo) − 1`` (≈19% at bpo=4), so a quantile estimated by
    in-bin interpolation carries a bounded relative error regardless of
    the value's magnitude. The edges are plain Python floats embedded as
    literals on both engines (no runtime log2 whose libm rounding could
    differ across engines and flip a floor at a bin boundary)."""
    if lo <= 0 or hi <= lo:
        raise ValueError("need 0 < lo < hi")
    edges: list[float] = []
    i = 0
    while True:
        b = lo * (2.0 ** (i / bins_per_octave))
        edges.append(b)
        if b >= hi:
            return edges
        i += 1


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    edges: Sequence[float],
    keys: Sequence[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Mergeable quantile-histogram sketch: one row per (keys…, bin) with
    ``cnt`` = rows whose value falls in the bin. ``bin`` = number of
    edges ≤ value (width_bucket semantics over the geometric edges), so
    bin 0 is (−∞, edges[0]) and bin len(edges) is [last edge, ∞).

    This is the quantile analogue of `cms_counters`/`bloom_bits`: state
    is O(|keys| × |edges|) regardless of row count, partials combine
    map-side (counts are sum-decomposable), and two sketches over
    disjoint batches merge into EXACTLY the sketch of their union
    (`merge_histogram_sketches`) — so per-group p50/p99 at 100 TB costs
    one partial-aggregated shuffle of a few-KB state instead of a
    per-group sort, and incremental refreshes fold new days into the
    stored sketch without re-reading history (same contract as
    plans/incremental.py; make ``bin`` a rollup key and ``cnt`` a count
    measure). The binning is a flat sum of edge comparisons — ONE
    whole-stage-codegen expression, no UDF, no log() at runtime. (A
    higher-order `F.aggregate` fold over a literal edge array would be
    equivalent, but a lambda capturing the outer value column mis-binds
    when Catalyst later infers join-key filters from the aliased
    result; plain expression trees have no such hazard.)

    ``weight_col`` switches the bin measure from row counts to exact-
    DECIMAL weight sums (order-independent, per the engine determinism
    policy), turning the quantile walk into a WEIGHTED quantile — e.g.
    "the price below which half the revenue sits" — with the same
    O(bins) state and merge algebra."""
    bin_ = F.lit(0)
    for b in edges:
        bin_ = bin_ + F.when(
            F.col(value_col) >= F.lit(float(b)), F.lit(1)
        ).otherwise(F.lit(0))
    bin_ = bin_.cast("int")
    if weight_col is None:
        measure = F.count(F.lit(1)).cast("long").alias("cnt")
        cols = [*keys, bin_.alias("bin")]
    else:
        measure = (
            F.sum(F.col(weight_col).cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("cnt")
        )
        cols = [*keys, bin_.alias("bin"), F.col(weight_col)]
    return df.select(*cols).groupBy(*keys, "bin").agg(measure)


def merge_histogram_sketches(*sketches: DataFrame) -> DataFrame:
    """Union partial sketches (same keys + edges) into one: counts per
    (keys…, bin) sum — associative/commutative, so the merged sketch is
    identical to sketching the concatenated input no matter how history
    was sliced into batches. The measure keeps its dtype: long for count
    sketches, the exact decimal for weighted ones."""
    keys = [c for c in sketches[0].columns if c != "cnt"]
    return fold_partials(sketches, keys, {"cnt": "sum"})


def histogram_edge_bounds(
    spark: SparkSession, edges: Sequence[float]
) -> DataFrame:
    """Tiny (bin → lo, hi) lookup for a given edge list: interior bin k
    spans [edges[k−1], edges[k]). The two UNBOUNDED bins carry NULL on
    their open side — bin 0 is (−∞, edges[0]) so lo is NULL, the overflow
    bin is [last, ∞) so hi is NULL — because any synthetic bound there
    (e.g. 2·last) would be arbitrarily wrong for heavy-tailed data; a
    quantile whose rank lands in an unbounded bin interpolates to NULL
    instead of a fabricated number. Broadcast-joined onto the sketch by
    `histogram_quantiles`."""
    rows = []
    m = len(edges)
    for k in range(m + 1):
        lo = None if k == 0 else float(edges[k - 1])
        hi = float(edges[k]) if k < m else None
        rows.append((k, lo, hi))
    return spark.createDataFrame(rows, "bin int, lo double, hi double")


def histogram_quantiles(
    sketch: DataFrame,
    edges: Sequence[float],
    qs: dict[str, float],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Estimate quantiles from a `histogram_sketch`: per key group, walk
    the cumulative bin counts and linearly interpolate inside the bin
    where rank ``q·total`` lands. Error is bounded by the bin's relative
    width (edges from `geometric_edges`: 2^(1/bpo) − 1). One window over
    the O(|keys|·|edges|) sketch — the fact stream is long gone.

    ``qs`` maps output column name → quantile in (0, 1]. All arithmetic
    is plain double in a fixed expression shape so an oracle that mirrors
    it (see q135) reproduces the estimate bit-for-bit.

    A quantile whose rank lands in bin 0 or the overflow bin returns
    NULL — those bins are unbounded, so no honest interpolation exists
    (`histogram_edge_bounds` gives them NULL open sides, which propagates
    through the interpolation). Choose ``edges`` to cover the data range
    wherever a non-NULL estimate is required."""
    spark = sketch.sparkSession
    w_cum = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*[F.col(k) for k in keys])
    c = (
        sketch.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("total", F.sum("cnt").over(w_all))
        .join(F.broadcast(histogram_edge_bounds(spark, edges)), "bin")
    )
    aggs = []
    for alias, q in qs.items():
        r = F.col("total").cast("double") * F.lit(float(q))
        before = F.col("cum") - F.col("cnt")
        est = F.col("lo") + (F.col("hi") - F.col("lo")) * (
            (r - before.cast("double")) / F.col("cnt").cast("double")
        )
        aggs.append(F.max(F.when((before < r) & (r <= F.col("cum")), est)).alias(alias))
    return c.groupBy(*keys).agg(*aggs)


def bloom_might_contain(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str,
    depth: int = 3,
    hex_chars: int = 2,
    flag_col: str = "bloom_pass",
) -> DataFrame:
    """Add ``flag_col``: True iff every hash row's bucket of ``key_col``
    is set in ``bits`` — no false negatives, false positives at the
    classic (1−e^{−kn/m})^k rate. Each per-row probe is a broadcast left
    join against a ≤16^hex_chars-row bit list, so the pass/fail decision
    happens map-side on the probe stream — the shape that lets a join
    prune its big side before any shuffle."""
    out = probe
    flags = []
    for r in range(1, depth + 1):
        row_bits = (
            bits.filter(F.col("hash_row") == r)
            .select(F.col("bucket").alias(f"_b{r}"))
        )
        out = out.join(
            F.broadcast(row_bits),
            _bucket(F.col(key_col), r, hex_chars) == F.col(f"_b{r}"),
            "left",
        )
        flags.append(F.col(f"_b{r}").isNotNull())
    cond = flags[0]
    for fl in flags[1:]:
        cond = cond & fl
    return out.withColumn(flag_col, cond).drop(
        *[f"_b{r}" for r in range(1, depth + 1)]
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    keys: Sequence[str] = (),
    index_chars: int = 2,
    rank_chars: int = 12,
) -> DataFrame:
    """HyperLogLog register file as a DataFrame: one row per (keys…,
    idx) with ``reg`` = max rank seen in that register (Flajolet et al.
    2007). m = 16^index_chars registers; rank = 1 + leading zero BITS of
    a ``4·rank_chars``-bit hash suffix, derived entirely from the md5
    hex string (leading-'0' trim + a CASE on the first non-zero hex
    digit) — no integer hashing, so Spark and DuckDB produce identical
    registers bit-for-bit.

    Scale contract (same as `cms_counters`/`bloom_bits`): COUNT(DISTINCT
    key) is a full shuffle of every distinct key; this is a partial-
    aggregated shuffle of ≤ m rows per group. max is idempotent/
    commutative, so register files over arbitrary batch slicings merge
    (`merge_hll_sketches`) into EXACTLY the full-history register file,
    and plans/incremental.py maintains one incrementally with ``idx`` as
    a rollup key and ``reg`` as a ``max`` measure — distinct users over
    all time without ever re-reading history."""
    maxr = 4 * rank_chars + 1
    h = F.md5(F.concat(F.lit("hll:"), F.col(key_col).cast("string")))
    base = (
        df.select(*keys, h.alias("_h"))
        .select(
            *keys,
            F.substring("_h", 1, index_chars).alias("idx"),
            F.substring("_h", index_chars + 1, rank_chars).alias("_s"),
        )
        .withColumn("_t", F.expr("trim(LEADING '0' FROM _s)"))
    )
    first = F.substring("_t", 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = (
        F.when(F.col("_t") == "", F.lit(maxr))
        .otherwise((F.length("_s") - F.length("_t")) * 4 + extra + 1)
        .cast("int")
    )
    return (
        base.select(*keys, "idx", rank.alias("_rank"))
        .groupBy(*keys, "idx")
        .agg(F.max("_rank").alias("reg"))
    )


def merge_hll_sketches(*sketches: DataFrame) -> DataFrame:
    """Union register files (same index/rank params) into one: ``reg``
    per (keys…, idx) maxes — idempotent/associative/commutative, so the
    merged file is identical to sketching the concatenated input, and
    re-delivered batches change nothing (exactly-once not required)."""
    keys = [c for c in sketches[0].columns if c != "reg"]
    return fold_partials(sketches, keys, {"reg": "max"})


def hll_estimate(
    sketch: DataFrame,
    keys: Sequence[str] = (),
    index_chars: int = 2,
    rank_chars: int = 12,
    est_col: str = "distinct_est",
) -> DataFrame:
    """Cardinality estimate from a `hll_registers` file, deterministic to
    the bit: the harmonic sum Σ2^(−reg) is computed as the INTEGER
    Σ shiftleft(1, maxrank − reg) — every term exact, BIGINT addition
    order-independent (a double Σ2^(−reg) would round differently
    depending on aggregation order and diverge between engines/re-runs)
    — then one double division by the literal α·m²·2^maxrank. The
    small-range (linear-counting) branch needs ln(m/V), which has only m
    possible arguments, so it broadcast-joins a literal (V → m·ln(m/V))
    lookup computed once in Python — both engines see the same 53-bit
    doubles instead of trusting their libm to round identically.

    Standard error ≈ 1.04/√m (6.5% at index_chars=2). Registers absent
    from the sketch are empty (rank 0): they contribute 2^maxrank to the
    sum and count toward V."""
    m = 16**index_chars
    maxr = 4 * rank_chars + 1
    alpha = 0.7213 / (1 + 1.079 / m)  # valid for m >= 128
    num = alpha * m * m * float(2**maxr)
    spark = sketch.sparkSession
    agg = sketch.groupBy(*keys).agg(
        F.sum(F.expr(f"shiftleft(1L, {maxr} - reg)")).cast("long").alias("_sp"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    zeros = (F.lit(m).cast("long") - F.col("_n")).alias("_zeros")
    raw = F.lit(num) / (
        F.col("_sp") + F.col("_zeros") * F.lit(2**maxr).cast("long")
    ).cast("double")
    lc_rows = [(v, float(m) * math.log(m / v)) for v in range(1, m + 1)]
    lc = spark.createDataFrame(lc_rows, "_zeros long, _lc double")
    est = F.when(
        (F.col("_raw") <= F.lit(2.5 * m)) & (F.col("_zeros") > 0), F.col("_lc")
    ).otherwise(F.col("_raw"))
    return (
        agg.select(*keys, "_sp", "_n", zeros)
        .withColumn("_raw", raw)
        .join(F.broadcast(lc), "_zeros", "left")
        .select(
            *keys,
            est.alias(est_col),
            F.col("_n").alias("registers_hit"),
        )
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int,
    keys: Sequence[str] = (),
    salt: str = "kmv",
    prefilter_hex: str | None = None,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) sketch: per group the k
    LEXICOGRAPHICALLY SMALLEST distinct md5 hashes of the key, one row
    per hash with its rank ``rk`` (Bar-Yossef et al. 2002; the
    DataSketches theta family). Distinct-count estimate: the k-th
    smallest of n uniform hashes sits near k/n, so n̂ = (k−1)/u_k
    (`kmv_estimate`). What KMV buys over `hll_registers`: the sketch IS
    a uniform sample of the distinct-key universe, so sketches of two
    SETS support union/intersection/Jaccard estimates
    (`kmv_set_estimates`) — "how many users do checkout and refund
    share?" — which register-max state cannot answer.

    Everything is hash-order string comparison; the only arithmetic is
    one exact division by a 52-bit integer — no libm, so results are
    bit-identical across engines/partitionings (see ticket_sample_k's
    docstring for why that is load-bearing). Merging = union distinct +
    re-rank (`merge_kmv_sketches`): associative, commutative,
    duplicate-insensitive.

    Scale: the grouped distinct is the one shuffle (map-side partial
    dedup first). At 100 TB add ``prefilter_hex``: hashes are uniform,
    so a literal prefix threshold c·k/n_lower drops ~everything map-side
    BEFORE the shuffle while keeping the k minima with overwhelming
    probability (c ≥ 8); equivalence to the unfiltered sketch under a
    generous threshold is asserted in tests. The threshold presumes
    every group holds ≥ n_lower distinct keys — a group smaller than
    that keeps only its below-threshold hashes (its estimate degrades
    toward the threshold-capped exact count), so size n_lower from the
    SMALLEST group you care about, not the average."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    d = df.select(*keys, h.alias("h"))
    if prefilter_hex is not None:
        d = d.filter(F.col("h") < F.lit(prefilter_hex))
    win = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("h")
    return (
        d.groupBy(*keys, "h")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
    )


def merge_kmv_sketches(k: int, *sketches: DataFrame) -> DataFrame:
    """Union KMV sketches (same salt/k) into one: distinct hashes,
    re-ranked, bottom-k — exactly the sketch of the concatenated input,
    under any batch slicing or re-delivery."""
    out = sketches[0].select([c for c in sketches[0].columns if c != "rk"])
    for s in sketches[1:]:
        out = out.unionByName(s.select(out.columns))
    keys = [c for c in out.columns if c != "h"]
    win = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("h")
    return (
        out.distinct()
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
    )


def _hex13_unit(h: Column) -> Column:
    """Map a hex hash to u ∈ (0,1): first 13 hex chars as a 52-bit
    integer over 2^52 — conv() agrees between Spark and DuckDB, the
    integer is exact in a double, and /2^52 is a power-of-two scale, so
    u is the same 53-bit double everywhere."""
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(
        float(2**52)
    )


def kmv_estimate(
    sketch: DataFrame, k: int, keys: Sequence[str] = (), est_col: str = "distinct_est"
) -> DataFrame:
    """Distinct-count estimate from a `kmv_sketch`: n̂ = (k−1)/u_k with
    u_k the k-th smallest hash as a unit fraction (unbiased for uniform
    hashes, RSE ≈ 1/√(k−2)). A group with fewer than k distinct hashes
    IS the distinct set — return the exact count."""
    agg = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("_hk"),
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / _hex13_unit(F.col("_hk"))
    )
    return agg.select(*keys, est.alias(est_col))


def kmv_set_estimates(
    pairs: DataFrame,
    sketch: DataFrame,
    set_col: str,
    k: int,
    left_col: str = "set_a",
    right_col: str = "set_b",
) -> DataFrame:
    """Union/intersection/Jaccard estimates for each (set_a, set_b) row
    of ``pairs`` from ONE per-set `kmv_sketch` keyed by ``set_col``:
    X = bottom-k of A ∪ B hashes; ĵ = |X ∩ A ∩ B| / |X| (the bottom-k
    hashes are a uniform sample of the union universe); n̂∪ from X's
    k-th value; n̂∩ = ĵ·n̂∪ (Beyer et al., SIGMOD 2007). The sketch
    subtree is referenced ONCE: the tiny pair list broadcasts onto it
    with an OR-of-equalities condition (each sketch row fans out to the
    pairs that mention its set), so the fact stream is consumed once, by
    `kmv_sketch`, and the expensive subtree is not replicated per
    side."""
    s = sketch.select(F.col(set_col).alias("__t"), "h")
    u = (
        s.join(
            F.broadcast(pairs),
            (F.col("__t") == F.col(left_col))
            | (F.col("__t") == F.col(right_col)),
        )
        .groupBy(left_col, right_col, "h")
        .agg(
            F.max((F.col("__t") == F.col(left_col)).cast("int")).alias("in_a"),
            F.max((F.col("__t") == F.col(right_col)).cast("int")).alias("in_b"),
        )
    )
    win = Window.partitionBy(left_col, right_col).orderBy("h")
    x = u.withColumn("rk", F.row_number().over(win)).filter(F.col("rk") <= k)
    agg = x.groupBy(left_col, right_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("_hk"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("_both"),
    )
    est_union = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / _hex13_unit(F.col("_hk"))
    )
    jacc = F.col("_both").cast("double") / F.col("_n").cast("double")
    return agg.select(
        left_col,
        right_col,
        est_union.alias("union_est"),
        (jacc * est_union).alias("inter_est"),
        jacc.alias("jaccard_est"),
    )
