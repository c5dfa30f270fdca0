"""Analytic-window / grouping-set query catalog — operator classes the
reference never uses (SURVEY §2.5 "not present: grouping sets / cube /
rollup, median/percentile"; §2.6 "frame-spec windows, lag/lead: not
present"; §2.4 "not present: right joins, full-outer, semi-join") —
implemented here as first-class, oracle-checked engine capabilities so a
reference user gets a strictly larger relational surface.

Scale notes: every query is a declarative DataFrame plan — rollup runs as
Spark's Expand + partial/final hash agg (one shuffle); window queries
shuffle once on their partition key; the full-outer and semi joins are
plain shuffled hash joins with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import dec, exact_sum
from ..io_utils import load
from .registry import register

# ---------------------------------------------------------------------------
# q48 — ROLLUP over (source, lang) (grouping sets family)
# ---------------------------------------------------------------------------


@register(
    "q048_source_lang_rollup",
    tags=("A1", "A2"),
    oracle="""
SELECT source, lang,
  CAST(GROUPING(source) * 2 + GROUPING(lang) AS INTEGER) AS lvl,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY ROLLUP (source, lang)
""",
)
def q048_source_lang_rollup(spark: SparkSession, sf_dir: str):
    """Hierarchical corpus accounting: per (source, lang), per source, and
    grand total in ONE pass — `rollup()` compiles to a single Expand +
    hash aggregate, so the three levels cost one shuffle instead of three
    jobs. `grouping_id()` disambiguates subtotal rows from real NULL
    groups (Spark and DuckDB bit order both make `lvl` =
    GROUPING(source)*2 + GROUPING(lang))."""
    d = load(spark, sf_dir, "documents")
    return (
        d.rollup("source", "lang")
        .agg(
            F.grouping_id().cast("int").alias("lvl"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long"))
            .cast("long")
            .alias("total_tokens"),
        )
        .select("source", "lang", "lvl", "n_docs", "total_chars", "total_tokens")
    )


# ---------------------------------------------------------------------------
# q49 — exact percentiles (median/p90/p99) per source
# ---------------------------------------------------------------------------


@register(
    "q049_doc_length_percentiles",
    tags=("A1", "A2", "W1"),
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
  CAST(MAX(n) AS BIGINT) AS n_docs,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS BIGINT) AS p50_chars,
  CAST(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p90_chars,
  CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p99_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM ranked
GROUP BY source
""",
)
def q049_doc_length_percentiles(spark: SparkSession, sf_dir: str):
    """Exact nearest-rank percentiles (median/p90/p99) of document length
    per source — the length-distribution profile every pretraining corpus
    audit starts with. Implemented as rank-selection over a single sort
    window (deterministic tiebreak on doc_id), so results are integers and
    engine-identical — no interpolation-method drift between engines. At
    scale this is one shuffle on source; for a global percentile over
    10^11 rows the same query swaps to approx_percentile (q33 pattern)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    pick = lambda cond, name: F.max(F.when(cond, F.col("n_chars"))).cast("long").alias(name)  # noqa: E731
    n = F.col("n")
    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        pick(F.col("rn") == F.expr("(n + 1) div 2"), "p50_chars"),
        pick(F.col("rn") == F.ceil(F.lit(0.90) * n).cast("long"), "p90_chars"),
        pick(F.col("rn") == F.ceil(F.lit(0.99) * n).cast("long"), "p99_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q50 — lag/lead inter-event gap analytics per user
# ---------------------------------------------------------------------------


@register(
    "q050_user_event_gaps",
    tags=("W1", "A1", "A2"),
    oracle="""
WITH g AS (
  SELECT user_id, event_type,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
    lead(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT user_id,
  COUNT(*) AS n_events,
  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
  CAST(SUM(CASE WHEN event_type = next_type THEN 1 ELSE 0 END) AS BIGINT) AS repeat_transitions
FROM g
GROUP BY user_id
""",
)
def q050_user_event_gaps(spark: SparkSession, sf_dir: str):
    """Per-user event-stream cadence: lag() inter-arrival gaps (exact
    integer microseconds) and lead() transition analysis (how often the
    next event repeats the current type). lag/lead are absent from the
    reference (SURVEY §2.6) — here they're the batch twin of the
    sessionization state machine (q20/streaming.stateful). One shuffle on
    user_id serves both window functions and the final aggregate (same
    key → Catalyst reuses the partitioning, no second exchange)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.select(
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("gap_us").cast("long").alias("sum_gap_us"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.sum(F.when(F.col("event_type") == F.col("next_type"), 1).otherwise(0))
        .cast("long")
        .alias("repeat_transitions"),
    )


# ---------------------------------------------------------------------------
# q51 — ROWS-frame moving average over daily revenue
# ---------------------------------------------------------------------------


@register(
    "q051_daily_revenue_ma7",
    tags=("W1", "A1", "A5"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_day,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev,
    COUNT(*) AS n_orders
  FROM orders
  GROUP BY CAST(o_orderdate AS DATE)
)
SELECT order_day, n_orders,
  CAST(day_rev AS DOUBLE) AS day_rev,
  CAST(ROUND(CAST(SUM(day_rev) OVER w AS DOUBLE) / COUNT(*) OVER w, 2) AS DOUBLE) AS ma7_rev,
  CAST(ROUND(CAST(MAX(day_rev) OVER w AS DOUBLE), 2) AS DOUBLE) AS max7_rev
FROM daily
WINDOW w AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def q051_daily_revenue_ma7(spark: SparkSession, sf_dir: str):
    """7-day trailing revenue statistics: pre-aggregate orders to one row
    per day (shrinks the window input from O(orders) to O(days) BEFORE
    any sort), then a ROWS 6-PRECEDING frame for the moving average/max —
    the frame-spec window class the reference never uses. Window sums run
    on DECIMAL so the moving average is partition-order-independent; the
    single-partition global window is safe because its input is only
    O(days) rows (~2.4k at any SF)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.sum(dec("o_totalprice")).alias("day_rev_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("order_day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_day",
        "n_orders",
        F.col("day_rev_dec").cast("double").alias("day_rev"),
        F.round(
            F.sum("day_rev_dec").over(w).cast("double") / F.count(F.lit(1)).over(w), 2
        )
        .cast("double")
        .alias("ma7_rev"),
        F.round(F.max("day_rev_dec").over(w).cast("double"), 2).alias("max7_rev"),
    )


# ---------------------------------------------------------------------------
# q52 — full-outer join: customer activity across two years
# ---------------------------------------------------------------------------


@register(
    "q052_customer_year_overlap",
    tags=("J1", "A4", "P6"),
    oracle="""
WITH y95 AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev95,
    COUNT(*) AS n95
  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
), y96 AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev96,
    COUNT(*) AS n96
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
)
SELECT COALESCE(y95.o_custkey, y96.o_custkey) AS custkey,
  CAST(COALESCE(y95.n95, 0) AS BIGINT) AS n95,
  CAST(COALESCE(y96.n96, 0) AS BIGINT) AS n96,
  CAST(COALESCE(y95.rev95, 0) AS DOUBLE) AS rev95,
  CAST(COALESCE(y96.rev96, 0) AS DOUBLE) AS rev96,
  CASE WHEN y95.o_custkey IS NULL THEN 'new_in_96'
       WHEN y96.o_custkey IS NULL THEN 'churned_after_95'
       ELSE 'retained' END AS status
FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
""",
)
def q052_customer_year_overlap(spark: SparkSession, sf_dir: str):
    """Customer retention via FULL OUTER join of two per-year aggregates —
    the join type the reference only has implicitly inside MERGE (SURVEY
    §2.4 'not present'; our merge_upsert is built on exactly this
    operator). Aggregating BEFORE the join means the full-outer shuffles
    only O(customers) rows per side, not O(orders); both sides shuffle on
    the same key so AQE can plan a colocated sort-merge join."""
    o = load(spark, sf_dir, "orders")

    def year_agg(yr: int, rev: str, n: str):
        return (
            o.filter(F.year("o_orderdate") == yr)
            .groupBy("o_custkey")
            .agg(
                F.sum(dec("o_totalprice")).alias(rev),
                F.count(F.lit(1)).alias(n),
            )
        )

    a = year_agg(1995, "rev95_d", "n95")
    b = year_agg(1996, "rev96_d", "n96").withColumnRenamed("o_custkey", "custkey96")
    fo = a.join(b, a["o_custkey"] == b["custkey96"], "full_outer")
    return fo.select(
        F.coalesce(F.col("o_custkey"), F.col("custkey96")).alias("custkey"),
        F.coalesce(F.col("n95"), F.lit(0)).cast("long").alias("n95"),
        F.coalesce(F.col("n96"), F.lit(0)).cast("long").alias("n96"),
        F.coalesce(F.col("rev95_d"), F.lit(0)).cast("double").alias("rev95"),
        F.coalesce(F.col("rev96_d"), F.lit(0)).cast("double").alias("rev96"),
        F.when(F.col("o_custkey").isNull(), F.lit("new_in_96"))
        .when(F.col("custkey96").isNull(), F.lit("churned_after_95"))
        .otherwise(F.lit("retained"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# q53 — left-semi join: orders with at least one returned line
# ---------------------------------------------------------------------------


@register(
    "q053_orders_with_returns",
    tags=("J6", "A1", "A4"),
    oracle="""
SELECT o_orderpriority,
  COUNT(*) AS n_return_orders,
  CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS DOUBLE) AS return_order_revenue
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
GROUP BY o_orderpriority
""",
)
def q053_orders_with_returns(spark: SparkSession, sf_dir: str):
    """EXISTS-style LEFT SEMI join (the reference only has the anti
    variant, SURVEY §2.4): orders having >=1 returned lineitem, profiled
    by priority. The semi join deduplicates the probe side inside the
    join operator itself — no DISTINCT pass over lineitem, and only
    matching order keys cross the shuffle. The returnflag filter is
    pushed into the lineitem parquet scan."""
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    hit = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_return_orders"),
        F.round(F.sum(dec("o_totalprice")).cast("double"), 2)
        .cast("double")
        .alias("return_order_revenue"),
    )


# ---------------------------------------------------------------------------
# q56 — right-outer join: every supplier keeps a row
# ---------------------------------------------------------------------------


@register(
    "q056_supplier_line_coverage",
    tags=("J1", "J3", "A2", "P7"),
    oracle="""
WITH li AS (
  SELECT l_suppkey,
    COUNT(*) AS n_lines,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_nationkey,
  CAST(COALESCE(li.n_lines, 0) AS BIGINT) AS n_lines_97,
  CAST(ROUND(CAST(COALESCE(li.rev, 0) AS DOUBLE), 2) AS DOUBLE) AS rev_97,
  li.l_suppkey IS NULL AS dormant
FROM li RIGHT JOIN supplier s ON li.l_suppkey = s.s_suppkey
""",
)
def q056_supplier_line_coverage(spark: SparkSession, sf_dir: str):
    """Supplier activity coverage via a genuine RIGHT OUTER join (a join
    type the reference never issues, SURVEY §2.4): the shipped-lines
    aggregate on the left, the supplier dim preserved on the right, so
    dormant suppliers surface with zeroed metrics instead of vanishing.
    Lineitem is pre-aggregated to O(suppliers) rows before the join and
    the shipdate filter is pushed into the scan; the preserved side is a
    broadcast-size dim, which Spark handles as a broadcast right-outer."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec("l_extendedprice")).alias("rev"),
        )
    )
    s = load(spark, sf_dir, "supplier")
    return li.join(s, li["l_suppkey"] == s["s_suppkey"], "right_outer").select(
        "s_suppkey",
        "s_nationkey",
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines_97"),
        F.round(F.coalesce(F.col("rev"), F.lit(0)).cast("double"), 2)
        .cast("double")
        .alias("rev_97"),
        F.col("l_suppkey").isNull().alias("dormant"),
    )


# ---------------------------------------------------------------------------
# q57 — cross-join scaffold: dense (source × lang) grid with zero-fill
# ---------------------------------------------------------------------------


@register(
    "q057_source_lang_grid",
    tags=("J1", "J3", "A1", "P7"),
    oracle="""
WITH s AS (SELECT DISTINCT source FROM documents),
  l AS (SELECT DISTINCT lang FROM documents),
  counts AS (
    SELECT source, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang
  )
SELECT s.source, l.lang,
  CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs,
  CAST(COALESCE(c.total_chars, 0) AS BIGINT) AS total_chars,
  c.source IS NULL AS is_gap
FROM s CROSS JOIN l
LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
""",
)
def q057_source_lang_grid(spark: SparkSession, sf_dir: str):
    """Dense-grid completion: CROSS JOIN of the distinct source and lang
    domains (the only cross join in the reference is the lateral flatten,
    SURVEY §2.4) scaffolds every combination, then a left join zero-fills
    the holes — the standard fix for downstream consumers that can't
    handle missing matrix cells. Both domain sides are tiny distinct
    aggregates, so the cartesian product is a broadcast nested-loop over
    dozens of rows — the grid never touches the fact-scale data, which is
    reduced by one hash aggregate first."""
    d = load(spark, sf_dir, "documents")
    src = d.select("source").distinct()
    lng = d.select("lang").distinct().withColumnRenamed("lang", "g_lang")
    counts = (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .withColumnRenamed("source", "c_source")
    )
    grid = src.crossJoin(lng)
    return grid.join(
        counts,
        (grid["source"] == counts["c_source"]) & (grid["g_lang"] == counts["lang"]),
        "left",
    ).select(
        "source",
        F.col("g_lang").alias("lang"),
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("total_chars"), F.lit(0)).cast("long").alias("total_chars"),
        F.col("c_source").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# q58 — correlated scalar subquery (per-group threshold, TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@register(
    "q058_small_quantity_revenue",
    tags=("J1", "A1", "A2", "P10"),
    oracle="""
WITH thr AS (
  SELECT l_partkey,
    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS q_thr
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
  COUNT(*) AS n_small_lines,
  CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS DOUBLE) AS small_line_revenue
FROM lineitem l
JOIN thr ON thr.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < thr.q_thr
GROUP BY p.p_brand
""",
)
def q058_small_quantity_revenue(spark: SparkSession, sf_dir: str):
    """Per-group correlated threshold (the TPC-H Q17 shape): lines whose
    quantity is below 20% of their part's average — the reference only
    has UNcorrelated scalar subqueries (SURVEY §2.3 P10); the correlated
    form decorrelates into a per-key aggregate joined back, which is
    exactly how Catalyst rewrites it. The threshold aggregate and the
    probe shuffle on the same key (l_partkey), and the average is
    DECIMAL-sum / count so the threshold is engine-exact."""
    li = load(spark, sf_dir, "lineitem")
    thr = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("q_thr")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_thr"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2)
            .cast("double")
            .alias("small_line_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — set operators: INTERSECT / EXCEPT / UNION cohort accounting
# ---------------------------------------------------------------------------


@register(
    "q059_customer_cohort_setops",
    tags=("A1", "A3", "W4"),
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
  b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'retained' AS cohort, COUNT(*) AS n_customers
  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'churned_after_95', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT 'new_in_96', COUNT(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
UNION ALL
SELECT 'either_year', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)
""",
)
def q059_customer_cohort_setops(spark: SparkSession, sf_dir: str):
    """Cohort accounting through the relational set operators —
    INTERSECT, EXCEPT, and distinct UNION (none appear in the reference,
    which reaches for joins every time): year-over-year retained /
    churned / new / either-year customer counts. Spark executes
    intersect/subtract as semi/anti hash joins over distinct inputs, so
    each cohort is one shuffle on the customer key; the four one-row
    aggregates are unioned into a single summary."""
    o = load(spark, sf_dir, "orders")

    def year_keys(yr: int):
        return (
            o.filter(F.year("o_orderdate") == yr).select("o_custkey").distinct()
        )

    a, b = year_keys(1995), year_keys(1996)

    def tag(df, name: str):
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(name).alias("cohort"), "n_customers"
        )

    return (
        tag(a.intersect(b), "retained")
        .unionByName(tag(a.subtract(b), "churned_after_95"))
        .unionByName(tag(b.subtract(a), "new_in_96"))
        .unionByName(tag(a.union(b).distinct(), "either_year"))
    )


# ---------------------------------------------------------------------------
# q64 — ranking-function family: ntile / percent_rank / cume_dist
# ---------------------------------------------------------------------------


@register(
    "q064_order_value_deciles",
    tags=("W1", "A1"),
    oracle="""
WITH r AS (
  SELECT o_orderpriority,
    NTILE(10) OVER w AS decile,
    PERCENT_RANK() OVER w AS pr,
    CUME_DIST() OVER w AS cd,
    FIRST_VALUE(o_orderkey) OVER w AS top_orderkey,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile,
  COUNT(*) AS n_orders,
  CAST(ROUND(MIN(pr), 6) AS DOUBLE) AS min_pct_rank,
  CAST(ROUND(MAX(cd), 6) AS DOUBLE) AS max_cume_dist,
  CAST(MAX(top_orderkey) AS BIGINT) AS top_orderkey,
  CAST(ROUND(CAST(SUM(price) AS DOUBLE), 2) AS DOUBLE) AS decile_revenue
FROM r
GROUP BY o_orderpriority, decile
""",
)
def q064_order_value_deciles(spark: SparkSession, sf_dir: str):
    """The ranking-function family the reference never touches beyond
    ROW_NUMBER (SURVEY §2.6): NTILE decile assignment, PERCENT_RANK,
    CUME_DIST, and FIRST_VALUE, all over one window (one shuffle on
    o_orderpriority serves every function), rolled up to a 50-row
    decile revenue profile. The window's ORDER BY carries the orderkey
    tiebreak, so the rational rank arithmetic ((rank-1)/(n-1), rounded)
    is engine-exact."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    r = o.select(
        "o_orderpriority",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(w).alias("top_orderkey"),
        dec("o_totalprice").alias("price"),
    )
    return r.groupBy("o_orderpriority", F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("pr"), 6).cast("double").alias("min_pct_rank"),
        F.round(F.max("cd"), 6).cast("double").alias("max_cume_dist"),
        F.max("top_orderkey").cast("long").alias("top_orderkey"),
        F.round(F.sum("price").cast("double"), 2).cast("double").alias("decile_revenue"),
    )


# ---------------------------------------------------------------------------
# q65 — RANGE-frame window over a sparse day axis
# ---------------------------------------------------------------------------


@register(
    "q065_revenue_range_window",
    tags=("W1", "A1", "A5"),
    oracle="""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev,
    COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1
)
SELECT day_no, n_orders,
  CAST(day_rev AS DOUBLE) AS day_rev,
  CAST(ROUND(CAST(SUM(day_rev) OVER w AS DOUBLE), 2) AS DOUBLE) AS rev_7d,
  CAST(COUNT(*) OVER w AS BIGINT) AS days_present_7d
FROM daily
WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def q065_revenue_range_window(spark: SparkSession, sf_dir: str):
    """RANGE-frame trailing 7-day revenue: unlike q51's ROWS frame (6
    physical predecessor rows — wrong on a calendar with holes), a RANGE
    frame bounds the window by the *value* of the day axis, so missing
    days shrink the window instead of silently stretching it. The
    ``days_present_7d`` column exposes exactly where the two frames
    diverge. Day axis = integer epoch-days via pure DATE arithmetic
    (o_orderdate is TIMESTAMP_NTZ — no timezone in play on either
    engine); window input is pre-aggregated to O(days) rows."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no")
    ).agg(
        F.sum(dec("o_totalprice")).alias("day_rev_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        F.col("day_no").cast("long").alias("day_no"),
        "n_orders",
        F.col("day_rev_dec").cast("double").alias("day_rev"),
        F.round(F.sum("day_rev_dec").over(w).cast("double"), 2)
        .cast("double")
        .alias("rev_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_present_7d"),
    )


# ---------------------------------------------------------------------------
# q66 — UNPIVOT (wide → long reshape)
# ---------------------------------------------------------------------------


@register(
    "q033_part_attrs_unpivot",
    tags=("A1", "P8"),
    oracle="""
WITH long_form AS (
  SELECT p_brand, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_brand, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
)
SELECT p_brand, attr,
  COUNT(*) AS n_vals,
  CAST(SUM(CAST(floor(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(MIN(val) AS DOUBLE) AS min_val,
  CAST(MAX(val) AS DOUBLE) AS max_val
FROM long_form
GROUP BY p_brand, attr
""",
)
def q033_part_attrs_unpivot(spark: SparkSession, sf_dir: str):
    """Wide→long reshape via UNPIVOT (the inverse of q09's pivot; absent
    from the reference): part's numeric attributes melt into (attr, val)
    rows — Spark's ``unpivot`` produces them in one map-side Expand, no
    shuffle and no N self-scans like the UNION ALL a SQL user would
    write — then a per-(brand, attr) profile. Sums use floor-cents
    integers (order-independent); min/max are order-free already."""
    p = load(spark, sf_dir, "part")
    long_form = p.select(
        "p_brand",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_brand"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )
    return long_form.groupBy("p_brand", "attr").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum(F.floor(F.col("val") * 100).cast("long")).cast("long").alias("sum_cents"),
        F.min("val").cast("double").alias("min_val"),
        F.max("val").cast("double").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# q60 — as-of (point-in-time) join: purchase → latest prior view
# ---------------------------------------------------------------------------


@register(
    "q060_purchase_asof_view",
    tags=("J4", "W1"),
    oracle="""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_event_id, user_id, ts AS vts
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, v.view_event_id,
  CAST(epoch_us(p.ts) - epoch_us(v.vts) AS BIGINT) AS view_to_buy_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.vts
""",
)
def q060_purchase_asof_view(spark: SparkSession, sf_dir: str):
    """AS-OF join (operators/temporal.py): every purchase event matched
    to the same user's most recent prior view — the point-in-time join
    Spark has no built-in for (and the reference lacks entirely, SURVEY
    §2.4). Implemented as union + one keyed window carrying the latest
    view forward — one shuffle on user_id, no per-row subquery, no
    driver loop; the oracle is DuckDB's native ASOF LEFT JOIN, making
    the custom operator's semantics externally checkable. (by, ts) is
    unique in events, so the match is deterministic without a tiebreak."""
    from ..operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts"
    )
    out = asof_join(
        p, v, by=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["view_event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_matched")))
        .cast("long")
        .alias("view_to_buy_us"),
    )


# ---------------------------------------------------------------------------
# q61 — interval (range) join: events ↔ session intervals via binning
# ---------------------------------------------------------------------------

_SESS_GAP_US = 1800 * 1_000_000


@register(
    "q061_session_interval_events",
    tags=("J4", "W1", "A1"),
    oracle=f"""
WITH t AS (
  SELECT user_id, ts, event_id,
    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
    epoch_us(ts) AS us
  FROM events
), s AS (
  SELECT user_id, ts,
    SUM(CASE WHEN prev_us IS NULL OR us - prev_us > {_SESS_GAP_US} THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM t
), sess AS (
  SELECT user_id, sess_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
    COUNT(*) AS n_events
  FROM s GROUP BY user_id, sess_id
)
SELECT sess.user_id, CAST(sess.sess_id AS BIGINT) AS sess_id,
  CAST(sess.n_events AS BIGINT) AS n_events,
  COUNT(*) AS n_joined,
  CAST(epoch_us(sess.end_ts) - epoch_us(sess.start_ts) AS BIGINT) AS duration_us
FROM sess
JOIN events e ON e.user_id = sess.user_id
  AND e.ts BETWEEN sess.start_ts AND sess.end_ts
GROUP BY sess.user_id, sess.sess_id, sess.n_events,
  epoch_us(sess.end_ts) - epoch_us(sess.start_ts)
""",
)
def q061_session_interval_events(spark: SparkSession, sf_dir: str):
    """Interval (range) join via binning (operators/temporal.py): events
    are joined back to the session windows derived from them (q20's
    30-minute-gap sessions). Spark would plan the raw BETWEEN predicate
    as a broadcast nested loop; the operator instead explodes each
    session to its covered 1-hour bins and equi-joins on (user, bin) —
    the scalable bucketed range join. Differential invariant: n_joined
    must equal n_events for every session (sessions tile the user's
    events), and the DuckDB oracle executes the naive range join to
    certify it."""
    from ..operators.temporal import interval_bin_join

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(prev.isNull() | ((us - prev) > _SESS_GAP_US), 1).otherwise(0),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.withColumn("sess_id", F.sum("new_sess").over(wcum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    pts = ev.select("user_id", "ts")
    joined = interval_bin_join(
        pts, sess, by=["user_id"], ts_col="ts",
        start_col="start_ts", end_col="end_ts",
    )
    return joined.groupBy(
        "user_id",
        F.col("sess_id").cast("long").alias("sess_id"),
        F.col("n_events").cast("long").alias("n_events"),
        (F.unix_micros("end_ts") - F.unix_micros("start_ts"))
        .cast("long")
        .alias("duration_us"),
    ).agg(F.count(F.lit(1)).alias("n_joined"))


# ---------------------------------------------------------------------------
# q72 — decimal-exact Pearson correlation / covariance (stats aggregates)
# ---------------------------------------------------------------------------


@register(
    "q072_qty_price_correlation",
    tags=("A1", "A2", "A5"),
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_lines,
  CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE)
    AS corr_qty_price,
  CAST(ROUND((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 4) AS DOUBLE)
    AS covar_qty_price
FROM s
""",
)
def q072_qty_price_correlation(spark: SparkSession, sf_dir: str):
    """Pearson correlation + sample covariance per return flag, computed
    from DECIMAL moment sums (n, Σx, Σy, Σxy, Σx², Σy²) with the closed
    formula applied in DOUBLE at the very end.

    Spark's built-in ``corr``/``covar_samp`` accumulate running DOUBLE
    state, so their low-order bits depend on partitioning and AQE's
    runtime re-plan — unacceptable under this engine's determinism policy
    (queries/registry.py). Moment sums in DECIMAL are exact and
    order-independent: one map-side-combinable hash aggregate (a single
    shuffle of 6 numbers per group), bit-identical on any plan and any
    engine — this is also the textbook one-pass formulation you want at
    100 TB, never a centered two-pass."""
    li = load(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity", 12, 2), dec("l_extendedprice", 12, 2)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    corr = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n_d * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n_d * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    covar = (F.col("sxy") - F.col("sx") * F.col("sy") / n_d) / (n_d - F.lit(1.0))
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_lines"),
        F.round(corr, 6).cast("double").alias("corr_qty_price"),
        F.round(covar, 4).cast("double").alias("covar_qty_price"),
    )


# ---------------------------------------------------------------------------
# q74 — sequential event funnel (MATCH_RECOGNIZE-style ordered steps)
# ---------------------------------------------------------------------------


@register(
    "q074_event_funnel",
    tags=("A1", "A4", "W1"),
    oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
ta AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS ta
  FROM events GROUP BY user_id
),
tb AS (
  SELECT e.user_id, min(e.ts) AS tb
  FROM events e JOIN ta USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > ta.ta
    AND e.ts <= ta.ta + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
tc AS (
  SELECT e.user_id, min(e.ts) AS tc
  FROM events e JOIN tb USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > tb.tb
    AND e.ts <= tb.tb + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT
  COUNT(*) AS n_users,
  COUNT(ta.ta) AS viewed,
  COUNT(tb.tb) AS clicked_after_view,
  COUNT(tc.tc) AS purchased_after_click,
  CAST(ROUND(100.0 * COUNT(tc.tc) / COUNT(ta.ta), 2) AS DOUBLE) AS conversion_pct,
  CAST(SUM(CASE WHEN tc.tc IS NOT NULL
    THEN epoch_us(tc.tc) - epoch_us(ta.ta) END) AS BIGINT) AS funnel_micros
FROM u
LEFT JOIN ta USING (user_id)
LEFT JOIN tb USING (user_id)
LEFT JOIN tc USING (user_id)
""",
)
def q074_event_funnel(spark: SparkSession, sf_dir: str):
    """Ordered-step funnel (view → click within 24h → purchase within 24h),
    earliest-completion semantics — the MATCH_RECOGNIZE/funnel-analysis
    shape, expressed as three chained conditional window minimums instead
    of three self-joins.

    Each step's timestamp is `min(ts) FILTER (step condition AND ts after
    previous step)` over the user partition; since all three windows and
    the per-user collapse hash on user_id, the whole funnel runs on ONE
    exchange (asserted in tests/test_catalog_plans) — at 100 TB the
    equivalent 3-way self-join would shuffle the event stream four times.
    Funnel latency is summed in integer microseconds (exact)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    steps = (
        e.withColumn(
            "ta", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "tb",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("ta"))
                    & (F.col("ts") <= F.col("ta") + F.expr("INTERVAL 24 HOURS")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("tb"))
                    & (F.col("ts") <= F.col("tb") + F.expr("INTERVAL 24 HOURS")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .groupBy("user_id")
        .agg(F.max("ta").alias("ta"), F.max("tb").alias("tb"), F.max("tc").alias("tc"))
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("ta").alias("viewed"),
        F.count("tb").alias("clicked_after_view"),
        F.count("tc").alias("purchased_after_click"),
        F.round(F.lit(100.0) * F.count("tc") / F.count("ta"), 2)
        .cast("double")
        .alias("conversion_pct"),
        F.sum(
            F.when(
                F.col("tc").isNotNull(),
                F.unix_micros("tc") - F.unix_micros("ta"),
            )
        )
        .cast("long")
        .alias("funnel_micros"),
    )


# ---------------------------------------------------------------------------
# q75 — ordered string aggregation: order-status journey mining
# ---------------------------------------------------------------------------


@register(
    "q075_order_status_journeys",
    tags=("A1", "A2", "W1"),
    oracle="""
WITH j AS (
  SELECT o_custkey,
    string_agg(o_orderstatus, '' ORDER BY o_orderdate, o_orderkey) AS journey,
    COUNT(*) AS n_orders,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT journey,
  COUNT(*) AS customers,
  CAST(SUM(n_orders) AS BIGINT) AS total_orders,
  CAST(ROUND(SUM(revenue), 2) AS DOUBLE) AS revenue
FROM j GROUP BY journey
""",
)
def q075_order_status_journeys(spark: SparkSession, sf_dir: str):
    """Ordered aggregation (SQL string_agg ... ORDER BY): each customer's
    chronological order-status string becomes a "journey" signature, then
    journeys are grouped — the sequence-mining shape behind churn/ops
    analyses (e.g. which status paths precede high revenue).

    Spark has no ordered string_agg; the deterministic equivalent is
    collect_list of (sort-key..., value) structs -> array_sort ->
    transform -> array_join, all inside one hash aggregate: journeys are
    assembled with ONE shuffle on the group key and no window sort.
    Per-group state is bounded by orders-per-customer; the unique
    o_orderkey tiebreaker makes the journey engine-independent."""
    o = load(spark, sf_dir, "orders")
    journey = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("o_orderdate", "o_orderkey", "o_orderstatus"))
            ),
            lambda x: x["o_orderstatus"],
        ),
        "",
    )
    per_cust = o.groupBy("o_custkey").agg(
        journey.alias("journey"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("revenue"),
    )
    return per_cust.groupBy("journey").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("n_orders").cast("long").alias("total_orders"),
        F.round(F.sum("revenue"), 2).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q77 — equi-width histogram (binning family)
# ---------------------------------------------------------------------------


@register(
    "q077_order_value_histogram",
    tags=("A1", "A4"),
    oracle="""
WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
SELECT o_orderpriority,
  CAST(least(9, floor((o_totalprice - b.lo) / (b.hi - b.lo) * 10.0)) AS BIGINT)
    AS bin,
  COUNT(*) AS orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders, b
GROUP BY o_orderpriority, bin
""",
)
def q077_order_value_histogram(spark: SparkSession, sf_dir: str):
    """Equi-width 10-bin histogram of order value per priority class —
    the distribution profile behind any data-drift / data-quality
    dashboard, as a first-class binning operator.

    Two-pass shape: a scalar min/max aggregate (collected to the driver,
    the DataFrame twin of the oracle's scalar subquery) parameterizes the
    bin expression, then one hash aggregate on (priority, bin) — the
    binning itself is a pure codegen projection, so at 100 TB this costs
    one scan + one tiny shuffle. The bin edges use the identical
    double-arithmetic expression on both engines, so bin assignment is
    bit-deterministic."""
    o = load(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    bin_col = F.least(
        F.lit(9),
        F.floor((F.col("o_totalprice") - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * 10.0),
    ).cast("long")
    return (
        o.select("o_orderpriority", bin_col.alias("bin"), "o_totalprice")
        .groupBy("o_orderpriority", "bin")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            exact_sum("o_totalprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q78 — CUBE with grouping flags (grouping-sets family beyond q48's rollup)
# ---------------------------------------------------------------------------


@register(
    "q078_priority_status_cube",
    tags=("A1", "A2", "A4"),
    oracle="""
SELECT o_orderpriority, o_orderstatus,
  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
  COUNT(*) AS orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def q078_priority_status_cube(spark: SparkSession, sf_dir: str):
    """Full CUBE over (priority, status): all four aggregation levels —
    detail, each single-dimension margin, and the grand total — in ONE
    Expand + partial/final hash aggregate (a single shuffle), where four
    separate GROUP BYs would scan and shuffle four times. GROUPING()
    flags disambiguate a genuine NULL key from a rolled-up margin row,
    exactly as in the SQL standard. Complements q48 (ROLLUP) by covering
    the cross-margin the rollup hierarchy omits."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.expr("CAST(grouping(o_orderpriority) AS INT)").alias("g_pri"),
            F.expr("CAST(grouping(o_orderstatus) AS INT)").alias("g_st"),
            F.count(F.lit(1)).alias("orders"),
            exact_sum("o_totalprice", "revenue"),
        )
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "g_pri",
            "g_st",
            "orders",
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# q79 — ratio-to-report (share-of-total window over an aggregate)
# ---------------------------------------------------------------------------


@register(
    "q079_nation_revenue_share",
    tags=("A1", "A5", "W1", "J1"),
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation,
  CAST(ROUND(revenue, 2) AS DOUBLE) AS revenue,
  CAST(ROUND(100.0 * CAST(revenue AS DOUBLE)
    / CAST(SUM(revenue) OVER (PARTITION BY region) AS DOUBLE), 2) AS DOUBLE)
    AS region_share_pct,
  CAST(ROUND(100.0 * CAST(revenue AS DOUBLE)
    / CAST(SUM(revenue) OVER () AS DOUBLE), 2) AS DOUBLE) AS global_share_pct
FROM rev
""",
)
def q079_nation_revenue_share(spark: SparkSession, sf_dir: str):
    """Ratio-to-report: each nation's revenue as a share of its region and
    of the world — the percent-of-total window (Oracle RATIO_TO_REPORT)
    every BI layer needs.

    The window runs over the AGGREGATED rows (O(nations), not O(orders)):
    the fact stream is collapsed by one hash aggregate first, then two
    unbounded window sums — the share denominators — read dozens of rows.
    Denominators stay DECIMAL (exact) until the final double division.
    Dims broadcast onto the fact scan as usual."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(dec("o_totalprice")).alias("rev_dec"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    share = lambda den: F.round(
        F.lit(100.0) * F.col("rev_dec").cast("double") / den.cast("double"), 2
    ).cast("double")
    return rev.select(
        "region",
        "nation",
        F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
        share(F.sum("rev_dec").over(w_region)).alias("region_share_pct"),
        share(F.sum("rev_dec").over(w_all)).alias("global_share_pct"),
    )


# ---------------------------------------------------------------------------
# q80 — customer order-count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------


@register(
    "q080_order_count_distribution",
    tags=("J3", "J4", "A1", "A3"),
    oracle="""
WITH co AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM co GROUP BY c_count
""",
)
def q080_order_count_distribution(spark: SparkSession, sf_dir: str):
    """Frequency-of-frequencies (TPC-H Q13): how many customers placed k
    non-urgent orders, including k=0 — the distribution report behind
    engagement/retention dashboards, and the classic case where the
    filter must live in the LEFT JOIN's ON clause to keep zero-order
    customers.

    Scale: orders are pre-aggregated to one row per customer BEFORE the
    join (the ON-filter becomes a pushed scan predicate), so the join
    shuffles O(customers) rows instead of O(orders) — algebraically
    identical to the textbook join-then-count form, asserted by the
    oracle which uses that form. The final frequency table is dozens of
    rows."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    c = load(spark, sf_dir, "customer")
    co = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count")
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q81 — gaps-and-islands: longest consecutive-day activity streak
# ---------------------------------------------------------------------------


@register(
    "q081_activity_streaks",
    tags=("W1", "A1", "A3"),
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
  SELECT user_id,
    date_diff('day', DATE '2024-01-01', d)
      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS streak_len
  FROM isl GROUP BY user_id, anchor
),
longest AS (
  SELECT user_id, MAX(streak_len) AS max_streak, COUNT(*) AS n_streaks
  FROM streaks GROUP BY user_id
)
SELECT max_streak,
  COUNT(*) AS users,
  CAST(SUM(n_streaks) AS BIGINT) AS total_streaks
FROM longest GROUP BY max_streak
""",
)
def q081_activity_streaks(spark: SparkSession, sf_dir: str):
    """Gaps-and-islands: the longest run of CONSECUTIVE active days per
    user, reported as a streak-length distribution — the retention-streak
    metric, via the classic day_number − row_number() island anchor (two
    rows are in the same island iff the difference is constant).

    Scale: everything after the initial distinct collapses partitions by
    user_id — the distinct, the row_number window, and both follow-up
    aggregates all hash on user_id (or its superset), so the plan re-uses
    one exchange of O(user-days) rows; the final distribution is dozens
    of rows. No self-join, no recursive CTE."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    isl = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) - rn
        ).alias("anchor"),
    )
    streaks = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    return longest.groupBy("max_streak").agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("n_streaks").cast("long").alias("total_streaks"),
    )


# ---------------------------------------------------------------------------
# q82 — sliding-window COUNT DISTINCT (7-day active users)
# ---------------------------------------------------------------------------


@register(
    "q082_rolling_active_users",
    tags=("W1", "A3", "J7"),
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
dom AS (SELECT DISTINCT d FROM days)
SELECT dom.d AS window_end,
  COUNT(DISTINCT days.user_id) AS users_7d
FROM dom JOIN days ON days.d BETWEEN dom.d - 6 AND dom.d
GROUP BY dom.d
""",
)
def q082_rolling_active_users(spark: SparkSession, sf_dir: str):
    """Rolling 7-day distinct active users per day — the DAU/WAU family.
    SQL window frames cannot express COUNT(DISTINCT) over a sliding
    RANGE, and the oracle's domain⋈days range join re-scans 7× rows per
    window; the scalable DataFrame formulation EXPLODES each (user, day)
    into the ≤7 windows it contributes to, semi-joins against the
    observed-day domain (broadcast — it is O(days)), and runs one exact
    distinct aggregate on (window, user).

    Scale: shuffle volume is O(7 · user-days) narrow rows — linear fan-out
    replacing a quadratic-ish range join; the distinct aggregate is the
    standard two-level hash (partial distinct map-side). This is the
    textbook way to get sliding distinct counts at 100 TB (or swap the
    final distinct for HLL partials when approximate is acceptable)."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    dom = days.select("d").distinct().withColumnRenamed("d", "window_end")
    contrib = days.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, date_add(d, 6), interval 1 day)")
        ).alias("window_end"),
    )
    return (
        contrib.join(F.broadcast(dom), "window_end")
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# q84 — cohort retention triangle (first-activity cohort × months since)
# ---------------------------------------------------------------------------


@register(
    "q084_order_cohort_retention",
    tags=("A1", "A3", "W1", "J1"),
    oracle="""
WITH first AS (
  SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
),
act AS (
  SELECT DISTINCT o.o_custkey, f.cohort,
    date_diff('month', f.cohort, date_trunc('month', o.o_orderdate)) AS month_n
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
),
size_ AS (SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY cohort)
SELECT CAST(act.cohort AS DATE) AS cohort_month,
  act.month_n,
  COUNT(*) AS active_customers,
  CAST(MAX(size_.cohort_size) AS BIGINT) AS cohort_size,
  CAST(ROUND(100.0 * COUNT(*) / MAX(size_.cohort_size), 2) AS DOUBLE)
    AS retention_pct
FROM act JOIN size_ ON act.cohort = size_.cohort
GROUP BY act.cohort, act.month_n
""",
)
def q084_order_cohort_retention(spark: SparkSession, sf_dir: str):
    """Cohort retention triangle: customers grouped by first-order month,
    tracked by distinct activity in each subsequent month — the classic
    retention matrix every growth dashboard draws.

    Scale: first-order months and per-(customer, month) activity both
    collapse the fact stream by customer-keyed hash aggregates before
    anything joins; the cohort-size table is O(months) and broadcast.
    The month_n arithmetic uses months_between on truncated dates —
    integer-exact on both engines."""
    o = load(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    act = (
        o.join(first, "o_custkey")
        .select(
            "o_custkey",
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("long")
            .alias("month_n"),
        )
        .distinct()
    )
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.join(F.broadcast(sizes), "cohort")
        .groupBy("cohort", "month_n")
        .agg(
            F.count(F.lit(1)).alias("active_customers"),
            F.max("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.lit(100.0) * F.count(F.lit(1)) / F.max("cohort_size"), 2
            )
            .cast("double")
            .alias("retention_pct"),
        )
        .select(
            F.col("cohort").cast("date").alias("cohort_month"),
            "month_n",
            "active_customers",
            "cohort_size",
            "retention_pct",
        )
    )


# ---------------------------------------------------------------------------
# q85 — bitmap aggregate: activity bitmask + popcount (bitmap-index family)
# ---------------------------------------------------------------------------


@register(
    "q085_activity_bitmap",
    tags=("A2", "A3", "W1"),
    oracle="""
WITH bm AS (
  SELECT user_id,
    bit_or(CAST(1 AS BIGINT) << (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))) AS days_mask
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-02-01'
  GROUP BY user_id
)
SELECT CAST(bit_count(days_mask) AS BIGINT) AS active_days,
  COUNT(*) AS users,
  CAST(MIN(days_mask) AS BIGINT) AS min_mask
FROM bm GROUP BY bit_count(days_mask)
""",
)
def q085_activity_bitmap(spark: SparkSession, sf_dir: str):
    """Bitmap-index distinct counting: each user's active days in a
    32-day window fold into ONE 64-bit mask via bit_or, and popcount
    (bit_count) reads the distinct-day count straight out of the mask.

    The bitmap is the cheap half of a roaring-bitmap pipeline: the
    aggregate state is 8 bytes per user regardless of event volume
    (vs. a hash set for COUNT DISTINCT), it merges associatively —
    perfectly map-side combinable — and set operations between masks
    (AND = both-active days, OR = either) are single instructions.
    The distribution of popcounts + the min mask per bucket make the
    whole structure oracle-checkable bit-for-bit."""
    e = load(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    lo = F.lit("2024-01-01").cast("date")
    bm = (
        e.filter((d >= lo) & (d <= F.lit("2024-02-01").cast("date")))
        .select(
            "user_id",
            F.expr(
                "shiftleft(1L, datediff(cast(ts as date), date'2024-01-01'))"
            ).alias("b"),
        )
        .groupBy("user_id")
        .agg(F.bit_or("b").alias("days_mask"))
    )
    return bm.groupBy(
        F.bit_count("days_mask").cast("long").alias("active_days")
    ).agg(
        F.count(F.lit(1)).alias("users"),
        F.min("days_mask").cast("long").alias("min_mask"),
    )


# ---------------------------------------------------------------------------
# q88 — exact weighted median (weighted order statistics)
# ---------------------------------------------------------------------------


@register(
    "q088_weighted_median_doclen",
    tags=("W1", "A2"),
    oracle="""
WITH w AS (
  SELECT source, n_chars, doc_id,
    len(string_split(text, ' ')) AS wt
  FROM documents
),
c AS (
  SELECT source, n_chars, wt,
    SUM(wt) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(wt) OVER (PARTITION BY source) AS tot
  FROM w
)
SELECT source,
  CAST(MIN(CASE WHEN 2 * cum >= tot THEN n_chars END) AS BIGINT)
    AS weighted_median_chars,
  CAST(MAX(tot) AS BIGINT) AS total_tokens
FROM c GROUP BY source
""",
)
def q088_weighted_median_doclen(spark: SparkSession, sf_dir: str):
    """Token-weighted median document length per source: the document
    length at which half the source's TOKEN MASS sits in shorter docs —
    the right centering statistic when downstream cost follows tokens,
    not document counts (an unweighted median over-weights short docs).

    Weighted order statistics have no built-in aggregate on either
    engine; the formulation is one sort-window cumulative sum and the
    first cumulative-weight crossing of half the total. All-integer
    arithmetic (2·cum ≥ tot avoids division entirely), and the crossing
    VALUE is invariant to tie order, so the result is engine- and
    partitioning-independent. One shuffle on source for the windows plus
    the final per-source collapse on the same key."""
    d = load(spark, sf_dir, "documents")
    w = d.select(
        "source",
        "n_chars",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("wt"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("n_chars", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_win = Window.partitionBy("source")
    c = w.select(
        "source",
        "n_chars",
        F.sum("wt").over(win).alias("cum"),
        F.sum("wt").over(tot_win).alias("tot"),
    )
    return c.groupBy("source").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("n_chars")))
        .cast("long")
        .alias("weighted_median_chars"),
        F.max("tot").cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# q90 — GROUPING SETS (arbitrary level combinations, beyond ROLLUP/CUBE)
# ---------------------------------------------------------------------------


@register(
    "q090_priority_grouping_sets",
    tags=("A1", "A2", "grouping"),
    oracle="""
SELECT o_orderpriority, o_orderstatus,
  GROUPING(o_orderpriority) AS g_pri,
  GROUPING(o_orderstatus) AS g_sta,
  COUNT(*) AS orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus))
""",
)
def q090_priority_grouping_sets(spark: SparkSession, sf_dir: str):
    """Arbitrary GROUPING SETS — the level combination ((a,b),(a),(b)) that
    neither ROLLUP (q48) nor CUBE (q78) can express (no grand total, both
    one-column margins). One Expand (3 replicas per input row) feeding one
    hash aggregate: a single shuffle where three separate GROUP BYs would
    scan the fact three times. GROUPING() flags distinguish margin rows
    from genuine NULL keys, exactly as in the CUBE query."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                [F.col("o_orderpriority"), F.col("o_orderstatus")],
                [F.col("o_orderpriority")],
                [F.col("o_orderstatus")],
            ],
            F.col("o_orderpriority"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.grouping("o_orderpriority").cast("long").alias("g_pri"),
            F.grouping("o_orderstatus").cast("long").alias("g_sta"),
            F.count(F.lit(1)).alias("orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q91 — TPC-H Q21 shape: EXISTS + NOT EXISTS decorrelated to one aggregation
# ---------------------------------------------------------------------------


@register(
    "q091_sole_late_supplier",
    tags=("J6", "J8", "A3", "P6"),
    oracle="""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
agg AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM li GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM agg JOIN supplier s ON agg.late_supp = s.s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s.s_name
""",
)
def q091_sole_late_supplier(spark: SparkSession, sf_dir: str):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order (late = shipped >60 days after order date).

    The textbook formulation is a correlated EXISTS (another supplier on
    the order) plus NOT EXISTS (another LATE supplier) — two extra passes
    over lineitem. Here both quantifiers decorrelate into ONE per-order
    aggregation: n_supp≥2 ⇔ EXISTS, n_late=1 ∧ this-supplier-late ⇔
    NOT EXISTS, and since n_late=1 the late supplier is recoverable as
    MAX(CASE WHEN late). One shuffle on orderkey (lineitem is already
    join-keyed to orders there), one tiny shuffle of O(orders) rows to the
    supplier rollup, supplier dim broadcast. At 100 TB the decorrelated
    form reads lineitem once instead of three times.

    The two COUNT(DISTINCT suppkey) aggregates are cascaded: collapse to
    one row per (orderkey, suppkey) first (late = BOOL_OR over the
    supplier's lines), then count plain rows per orderkey. This replaces
    the Expand (2× replication of the raw joined stream) Spark plans for
    multi-distinct with a second exchange that carries only the collapsed
    O(order × supplier) rows — the cheap side of the trade at scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    # lateness is monotone in shipdate, so MAX(l_shipdate) per
    # (order, supplier) decides "any line late" BEFORE the orders join —
    # the raw line stream collapses ~4× with map-side combine and only
    # three narrow columns ever shuffle
    per_supp = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("max_ship") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    agg = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        agg.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q92 — TPC-H Q22 shape: scalar-subquery threshold + anti-join on recency
# ---------------------------------------------------------------------------


@register(
    "q092_dormant_rich_customers",
    tags=("J6", "P10", "A2"),
    oracle="""
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey,
  COUNT(*) AS numcust,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c, thr
WHERE c.c_acctbal > thr.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-06-01'
  )
GROUP BY c.c_nationkey
""",
)
def q092_dormant_rich_customers(spark: SparkSession, sf_dir: str):
    """TPC-H Q22 shape: above-average-balance customers with NO recent
    orders, rolled up per nation. The positive-balance average is a scalar
    subquery — computed as an exact DECIMAL sum divided once in DOUBLE so
    both engines derive the identical threshold bits regardless of
    summation order. The NOT EXISTS is a LEFT ANTI join whose probe side
    is pre-filtered to recent orders only (the date predicate pushes into
    the orders scan, so the anti join hashes months — not years — of
    orders). Customer side stays un-shuffled at O(customers)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q93 — TPC-H Q15 shape: argmax via scalar-max join-back on exact revenue
# ---------------------------------------------------------------------------


@register(
    "q093_top_revenue_supplier",
    tags=("P10", "A2", "J1"),
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q093_top_revenue_supplier(spark: SparkSession, sf_dir: str):
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue. Revenue stays DECIMAL end-to-end so the `= MAX(...)` equality
    is exact — with DOUBLE sums the argmax could differ between engines
    (and between Spark plans) on last-bit ties. The revenue CTE is
    computed once and reused for both the max scalar and the join-back
    (Spark executes it twice but it is one map-side-combined shuffle of
    O(suppliers) rows; at scale, persist it or let AQE reuse the
    exchange). Supplier dim broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q94 — TPC-H Q11 shape: global-share threshold, all-DECIMAL comparison
# ---------------------------------------------------------------------------


@register(
    "q094_important_part_value",
    tags=("P10", "A2"),
    oracle="""
WITH pv AS (
  SELECT l_partkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(value AS DOUBLE) AS value
FROM pv
WHERE value * 10000 > (SELECT SUM(value) FROM pv)
""",
)
def q094_important_part_value(spark: SparkSession, sf_dir: str):
    """TPC-H Q11 shape: parts whose traded value exceeds 1/10000 of the
    global total. The share test is `value * 10000 > total` in DECIMAL —
    no division, no doubles, so the cut is bit-exact on both engines and
    invariant to partitioning. One map-side-combined shuffle on partkey;
    the grand total is a broadcast scalar over the already-aggregated
    O(parts) rows."""
    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2))).alias(
            "value"
        )
    )
    tot = pv.agg(F.sum("value").alias("total"))
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("value") * 10000 > F.col("total"))
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# q97 — mode (most-frequent value) per group with deterministic tiebreak
# ---------------------------------------------------------------------------


@register(
    "q097_segment_priority_mode",
    tags=("A1", "W1"),
    oracle="""
WITH cnt AS (
  SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_orderpriority
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
            ORDER BY orders DESC, o_orderpriority ASC) AS rn
  FROM cnt
)
SELECT c_mktsegment, o_orderpriority AS modal_priority, orders
FROM r WHERE rn = 1
""",
)
def q097_segment_priority_mode(spark: SparkSession, sf_dir: str):
    """Per-segment modal order priority — the MODE aggregate, which Spark's
    built-in `mode()` implements with engine-specific tie behavior; this
    formulation makes the tie deterministic (highest count, then
    lexicographically smallest priority) so it is oracle-checkable. The
    fact stream collapses to O(segments × priorities) rows in one
    map-side-combined shuffle BEFORE the window touches anything, so the
    row_number sorts dozens of rows regardless of fact size."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cnt = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("orders"))
    )
    win = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("orders"), F.asc("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "orders",
        )
    )


# ---------------------------------------------------------------------------
# q98 — referential-integrity orphan audit (the dbt relationship test as
# a first-class query)
# ---------------------------------------------------------------------------


@register(
    "q098_integrity_orphan_audit",
    tags=("J6", "DQ"),
    oracle="""
SELECT 'lineitem_without_order' AS check_name,
  (SELECT COUNT(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS bad_rows
UNION ALL
SELECT 'order_without_customer',
  (SELECT COUNT(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_null_keys',
  (SELECT COUNT(*) FROM lineitem
   WHERE l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL)
UNION ALL
SELECT 'order_dup_pk',
  (SELECT COUNT(*) FROM
    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
""",
)
def q098_integrity_orphan_audit(spark: SparkSession, sf_dir: str):
    """The reference's dbt `relationships` / `not_null` / `unique` schema
    tests (dbt/dbt-project/models/schema.yml:40-47,77-82) expressed as one
    audit query: orphan counts via LEFT ANTI joins, null-key counts via a
    pushed-down scan predicate, and primary-key duplicate detection via
    groupBy-HAVING. Each check is a count — the audit row stream is four
    single-number rows unioned together, so the sink cost is nil and each
    anti join shuffles only the keys it probes (customer side broadcasts
    when small)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def one(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("check_name"), F.col("cnt").alias("bad_rows")
        )

    orphan_li = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    orphan_o = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == c.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    null_li = li.filter(
        F.col("l_orderkey").isNull()
        | F.col("l_partkey").isNull()
        | F.col("l_suppkey").isNull()
    ).agg(F.count(F.lit(1)).alias("cnt"))
    dup_o = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        one("lineitem_without_order", orphan_li)
        .unionAll(one("order_without_customer", orphan_o))
        .unionAll(one("lineitem_null_keys", null_li))
        .unionAll(one("order_dup_pk", dup_o))
    )


# ---------------------------------------------------------------------------
# q96 — TPC-H Q7 shape: nation-pair trade volume (double dim lineage)
# ---------------------------------------------------------------------------


@register(
    "q096_nation_pair_volume",
    tags=("J2", "A1", "A2"),
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(YEAR(l.l_shipdate) AS BIGINT) AS ship_year,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
""",
)
def q096_nation_pair_volume(spark: SparkSession, sf_dir: str):
    """TPC-H Q7 shape: yearly trade volume between two nations, with the
    nation attributed through TWO different lineages (supplier side and
    customer side) — the double-dim-lookup join pattern. All four dims
    broadcast; only lineitem⋈orders is a real shuffle and its l_shipdate
    range predicate pushes into the parquet scan, so at 100 TB the join
    reads two years, not the whole history. The nation-pair disjunction is
    applied AFTER the broadcasts (cheap codegen filter) but BEFORE the
    aggregate, so the hash agg sees only matching pairs."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year")
    ).agg(
        F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2)))
        .cast("double")
        .alias("volume")
    )


# ---------------------------------------------------------------------------
# q99 — TPC-H Q8 shape: market share (conditional-sum ratio per year)
# ---------------------------------------------------------------------------


@register(
    "q099_nation_market_share",
    tags=("J2", "A4", "A5"),
    oracle="""
WITH vol AS (
  SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS order_year,
    SUM(CASE WHEN n1.n_name = 'NATION_3'
        THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
        ELSE CAST(0 AS DECIMAL(12,2)) END) AS nation_volume,
    SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS total_volume
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  WHERE r.r_name = 'ASIA'
  GROUP BY YEAR(o.o_orderdate)
)
SELECT order_year,
  CAST(nation_volume AS DOUBLE) AS nation_volume,
  CAST(total_volume AS DOUBLE) AS total_volume,
  CAST(nation_volume AS DOUBLE) / CAST(total_volume AS DOUBLE) AS mkt_share
FROM vol
""",
)
def q099_nation_market_share(spark: SparkSession, sf_dir: str):
    """TPC-H Q8 shape: one supplier-nation's share of a region's yearly
    revenue. Numerator and denominator are computed in the SAME hash
    aggregate as a conditional DECIMAL sum — one pass, one shuffle, no
    self-join of the fact — and the share is a single double division at
    the end (identical bits on both engines). Region restriction flows
    customer→nation→region through broadcasts, so the fact stream is
    filtered before the aggregate."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    vol = dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n2_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    )
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("order_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                F.lit(0).cast("decimal(12,2)")
            )
        ).alias("nation_volume_d"),
        F.sum(vol).alias("total_volume_d"),
    )
    return agg.select(
        "order_year",
        F.col("nation_volume_d").cast("double").alias("nation_volume"),
        F.col("total_volume_d").cast("double").alias("total_volume"),
        (
            F.col("nation_volume_d").cast("double")
            / F.col("total_volume_d").cast("double")
        ).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# q100 — TPC-H Q20 shape: semi-join on an aggregated-threshold subquery
# ---------------------------------------------------------------------------


@register(
    "q100_dominant_part_suppliers",
    tags=("J6", "A2", "P10"),
    oracle="""
WITH pq AS (
  SELECT l_partkey, l_suppkey,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey, SUM(supp_qty) AS part_qty, COUNT(*) AS n_supp
  FROM pq GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name,
  COUNT(*) AS dominated_parts
FROM pq JOIN tot ON pq.l_partkey = tot.l_partkey
JOIN supplier s ON pq.l_suppkey = s.s_suppkey
WHERE tot.n_supp >= 2 AND 2 * pq.supp_qty > tot.part_qty
GROUP BY s.s_suppkey, s.s_name
""",
)
def q100_dominant_part_suppliers(spark: SparkSession, sf_dir: str):
    """TPC-H Q20 shape: suppliers providing the majority (>50%) of a
    part's shipped quantity in a year, for parts with real competition
    (≥2 suppliers). The correlated 'more than half of the part total'
    subquery decorrelates into a per-(part, supplier) aggregate joined
    back to its own per-part rollup. The raw stream collapses with
    map-side combine BEFORE anything re-shuffles, so the rollup and the
    join-back move only O(part × supplier) rows (deliberately cheaper at
    scale than forcing one partkey exchange of the un-aggregated stream),
    and the majority test `2·supp_qty > part_qty` is division-free
    DECIMAL (bit-exact, plan-independent). The year predicate prunes the
    scan; supplier dim broadcasts for the final name lookup."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_quantity", 18, 2)).alias("supp_qty")
    )
    tot = pq.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("part_qty"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        pq.join(tot, "l_partkey")
        .filter((F.col("n_supp") >= 2) & (2 * F.col("supp_qty") > F.col("part_qty")))
        .join(F.broadcast(s), pq.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("dominated_parts"))
    )


# ---------------------------------------------------------------------------
# q102 — TPC-H Q2 shape: min-cost supplier per part (correlated argmin)
# ---------------------------------------------------------------------------


@register(
    "q102_min_cost_supplier",
    tags=("J1", "W1", "P10"),
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
r AS (
  SELECT l_partkey, l_suppkey, cost,
    ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY cost ASC, l_suppkey ASC) AS rn
  FROM ps
)
SELECT p.p_partkey, p.p_brand, s.s_name, CAST(r.cost AS DOUBLE) AS min_cost
FROM r
JOIN part p     ON r.l_partkey = p.p_partkey
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rn = 1 AND p.p_size = 5
""",
)
def q102_min_cost_supplier(spark: SparkSession, sf_dir: str):
    """TPC-H Q2 shape: for each part (of a given size class) the supplier
    offering the minimum price — the correlated `= (SELECT MIN ...)`
    subquery decorrelated into a per-(part, supplier) aggregate + one
    ranking window on partkey. Cost stays DECIMAL so the argmin
    comparison is exact, with suppkey as the deterministic tiebreaker
    (the textbook query is underspecified on ties). The size filter is
    applied via the broadcast part dim AFTER the argmin — semantics
    require the minimum over all suppliers of the part, not of the
    filtered subset — and both dims broadcast, so the only exchanges are
    the map-side-combined (part, supp) aggregate and its partkey window."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(dec("l_extendedprice", 12, 2)).alias("cost")
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("cost"), F.asc("l_suppkey"))
    best = ps.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(
            F.broadcast(p.filter(F.col("p_size") == 5)),
            best.l_partkey == p.p_partkey,
        )
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("cost").cast("double").alias("min_cost"),
        )
    )


# ---------------------------------------------------------------------------
# q103 — TPC-H Q18 shape: HAVING threshold + semi-join back to the facts
# ---------------------------------------------------------------------------


@register(
    "q103_large_volume_orders",
    tags=("A2", "J1", "O3"),
    oracle="""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 220
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
  CAST(b.total_qty AS DOUBLE) AS total_qty
FROM big b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q103_large_volume_orders(spark: SparkSession, sf_dir: str):
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, enriched back to customer. The IN-subquery of the textbook
    form is simply the aggregate itself joined onward — lineitem
    collapses to O(orders) rows with map-side partials before any join,
    the HAVING threshold cuts that aggregate to a handful of rows, and
    AQE turns the survivors' join to orders into a broadcast at runtime.
    Quantity sums are DECIMAL so the >220 cut is exact under any plan."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 18, 2)).alias("total_qty"))
        .filter(F.col("total_qty") > 220)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q104 — market-basket pair mining (co-occurrence / affinity analysis)
# ---------------------------------------------------------------------------


@register(
    "q104_brand_affinity",
    tags=("J8", "A3", "A1"),
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
)
SELECT brand_a, brand_b, COUNT(*) AS orders_together
FROM pairs GROUP BY brand_a, brand_b
HAVING COUNT(*) >= 5
""",
)
def q104_brand_affinity(spark: SparkSession, sf_dir: str):
    """Market-basket co-occurrence (the candidate-pair step of Apriori):
    how often two part brands appear in the same order. The quadratic
    blow-up is bounded BEFORE any pairing: each order's brands collapse
    to one sorted distinct array (collect_set, k ≤ brand cardinality)
    and the C(k,2) canonical pairs are GENERATED in-group by an array
    comprehension — no self-join, so the basket stream shuffles once (on
    orderkey) instead of twice, the same posting-list trick the
    shingle-Jaccard operator uses. The sorted array makes `brand_a <
    brand_b` structural, and the Zipf-small pair domain collapses
    map-side in the final count. The same shape at 100 TB is the
    standard frequent-itemset first pass: bound the per-basket fan-out,
    never shuffle raw baskets."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(brands, (x, i) ->"
                " transform(slice(brands, i+2, size(brands)),"
                " y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("pr")
    ).select("pr.brand_a", "pr.brand_b")
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("orders_together"))
        .filter(F.col("orders_together") >= 5)
    )


# ---------------------------------------------------------------------------
# q105 — event-rate spike detection (trailing-window anomaly screen)
# ---------------------------------------------------------------------------


@register(
    "q105_event_rate_spikes",
    tags=("W1", "A4", "DQ"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
    COUNT(*) AS cnt
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
w AS (
  SELECT event_type, day, cnt,
    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_sum,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_n
  FROM daily
),
f AS (
  SELECT *,
    trail_n >= 7 AND cnt * trail_n >= 2 * trail_sum AS is_spike,
    CASE WHEN trail_sum > 0 THEN (cnt * trail_n * 1000000) // trail_sum END
      AS ratio_ppm
  FROM w
)
SELECT event_type,
  COUNT(*) AS days_observed,
  CAST(SUM(CASE WHEN is_spike THEN 1 ELSE 0 END) AS BIGINT) AS spike_days,
  CAST(MAX(CASE WHEN trail_n >= 7 THEN ratio_ppm END) AS BIGINT)
    AS max_ratio_ppm
FROM f GROUP BY event_type
""",
)
def q105_event_rate_spikes(spark: SparkSession, sf_dir: str):
    """Ingestion-rate anomaly screen: a day is a spike when its event
    count reaches 2× its own trailing 7-day mean — the monitoring check
    that catches a mis-deployed producer or a replayed backlog before it
    poisons downstream marts.

    The mean comparison is division-free (`cnt·n ≥ 2·Σ`) and the reported
    ratio is integer ppm, so day-boundary effects aside, every flag and
    every number is bit-identical across engines and plans. The raw
    stream collapses to O(types × days) rows in one map-side-combined
    shuffle before the ROWS-frame windows (which reuse that same
    partitioning), so the screen costs one scan + one tiny exchange at
    any corpus size."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    trail = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(trail).alias("trail_sum"),
        F.count(F.lit(1)).over(trail).alias("trail_n"),
    )
    f = w.select(
        "event_type",
        (
            (F.col("trail_n") >= 7)
            & (F.col("cnt") * F.col("trail_n") >= 2 * F.col("trail_sum"))
        ).alias("is_spike"),
        F.when(
            F.col("trail_sum") > 0,
            F.expr("(cnt * trail_n * 1000000) DIV trail_sum"),
        ).alias("ratio_ppm"),
        F.col("trail_n"),
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("days_observed"),
        F.sum(F.when(F.col("is_spike"), 1).otherwise(0))
        .cast("long")
        .alias("spike_days"),
        F.max(F.when(F.col("trail_n") >= 7, F.col("ratio_ppm")))
        .cast("long")
        .alias("max_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# q106 — one-pass column profile (data-profiling / DQ reconnaissance)
# ---------------------------------------------------------------------------


@register(
    "q106_orders_column_profile",
    tags=("DQ", "A2", "A3"),
    oracle="""
SELECT 'o_orderkey' AS col,
  COUNT(*) AS n_rows,
  COUNT(o_orderkey) AS n_nonnull,
  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
  CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
  CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
  CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
  MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
  MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""",
)
def q106_orders_column_profile(spark: SparkSession, sf_dir: str):
    """One-pass table profiling (the first thing run against any new
    100 TB source): per-column row/non-null/distinct counts and min/max,
    unpivoted to one row per column. The wide table melts through a
    single stack() Expand — one scan feeding one hash aggregate on the
    column name, instead of the N scans the naive per-column UNION runs
    (the oracle keeps the naive form precisely to certify equivalence).
    Values profile as their string representation so heterogeneous column
    types share one schema; COUNT(DISTINCT) is exact here and swaps to
    approx_count_distinct at extreme cardinalities."""
    o = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    stack_expr = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    melted = o.select(F.expr(f"stack({len(cols)}, {stack_expr}) AS (col, repr)"))
    prof = melted.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("repr").alias("n_nonnull"),
        F.countDistinct("repr").alias("n_distinct"),
    )
    # numeric min/max must compare numerically, not lexically — profile
    # min/max on the typed values in one tiny grand aggregate, then render
    mm = o.select(
        *[
            x
            for c in cols
            for x in (
                F.min(c).cast("string").alias(f"min_{c}"),
                F.max(c).cast("string").alias(f"max_{c}"),
            )
        ]
    )
    mm_long = mm.select(
        F.expr(
            "stack("
            + str(len(cols))
            + ", "
            + ", ".join(f"'{c}', min_{c}, max_{c}" for c in cols)
            + ") AS (col, min_repr, max_repr)"
        )
    )
    return prof.join(F.broadcast(mm_long), "col").select(
        "col", "n_rows", "n_nonnull", "n_distinct", "min_repr", "max_repr"
    )


# ---------------------------------------------------------------------------
# q107 — disjunctive predicate join (TPC-H Q19 shape: OR of AND-groups)
# ---------------------------------------------------------------------------


@register(
    "q107_disjunctive_revenue",
    tags=("J1", "P6", "A2"),
    oracle="""
SELECT
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE
  (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
    AND l.l_quantity >= 1 AND l.l_quantity <= 20)
  OR
  (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 30
    AND l.l_quantity >= 10 AND l.l_quantity <= 40)
  OR
  (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 21 AND 50
    AND l.l_quantity >= 20 AND l.l_quantity <= 50)
""",
)
def q107_disjunctive_revenue(spark: SparkSession, sf_dir: str):
    """TPC-H Q19 shape: an OR of three AND-groups mixing predicates from
    BOTH join sides. The optimizer matters more than the operator here:
    Catalyst factors the single-table conjuncts out of the disjunction
    (CNF conversion), so the part scan is pre-filtered to the three
    brands, the lineitem scan to the quantity hull, and only then does
    the join see the full disjunction as its residual condition — without
    that factoring the predicate can't push past the join at all and
    100 TB of lineitem reaches the join unfiltered. Part (pre-filtered)
    broadcasts; revenue is the engine-standard exact DECIMAL sum."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    groups = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(11, 30)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(21, 50)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 50)
        )
    )
    return j.filter(groups).agg(
        F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2)))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("lines"),
    )


# ---------------------------------------------------------------------------
# q108 — NOT IN subquery (null-aware anti join, TPC-H Q16 shape)
# ---------------------------------------------------------------------------


@register(
    "q108_parts_excluding_flagged",
    tags=("J6", "P10", "A3"),
    oracle="""
SELECT p.p_brand, p.p_type,
  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
AND p.p_size <= 10
GROUP BY p.p_brand, p.p_type
""",
)
def q108_parts_excluding_flagged(spark: SparkSession, sf_dir: str):
    """TPC-H Q16 shape: supplier counts per part class EXCLUDING flagged
    suppliers via `NOT IN (subquery)` — semantically a NULL-AWARE anti
    join (one NULL in the subquery empties the result), which Spark plans
    as BroadcastNestedLoopJoin unless it can prove null-freeness; the
    flag column here is a non-null key so the exclusion stays a cheap
    broadcast. Expressed via spark.sql so the engine's SQL entry exercises
    the same decorrelation path the oracle runs; the distinct count
    collapses on the (brand, type) shuffle with partial aggregation."""
    from ..io_utils import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type,
          CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        AND p.p_size <= 10
        GROUP BY p.p_brand, p.p_type
        """
    )


# ---------------------------------------------------------------------------
# q109 — month-over-month growth (lag on an aggregated series, integer bps)
# ---------------------------------------------------------------------------


@register(
    "q109_monthly_revenue_growth",
    tags=("A2", "W1"),
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT month,
  CAST(revenue AS DOUBLE) AS revenue,
  CAST(trunc(CAST((revenue - LAG(revenue) OVER (ORDER BY month)) * 10000 AS DOUBLE)
       / CAST(LAG(revenue) OVER (ORDER BY month) AS DOUBLE)) AS BIGINT) AS growth_bps
FROM m
""",
)
def q109_monthly_revenue_growth(spark: SparkSession, sf_dir: str):
    """Month-over-month revenue growth: the KPI-mart time-series pattern.
    The fact stream collapses to O(months) rows in one map-side-combined
    aggregate BEFORE the LAG window touches anything (a global-order
    window over months is fine — there are dozens of rows, not billions),
    and the growth rate is integer basis points via DECIMAL floor-divide,
    so no double division ever happens and the series is bit-identical on
    both engines. First month's growth is NULL by construction."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(dec("o_totalprice", 18, 2)).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    # the bps ratio divides the exact DECIMAL delta in DOUBLE (identical
    # IEEE bits both engines) and truncates via the BIGINT cast (the oracle spells trunc() out because DuckDB's double-to-BIGINT cast ROUNDS where Spark's truncates) — floor-
    # vs-truncate divergence between engines' integer division on
    # negative growth is exactly what this avoids
    return m.select(
        "month",
        F.col("revenue").cast("double").alias("revenue"),
        (
            ((F.col("revenue") - prev) * 10000).cast("double")
            / prev.cast("double")
        )
        .cast("long")
        .alias("growth_bps"),
    )


# ---------------------------------------------------------------------------
# q110 — RFM segmentation (quartile scoring + banding classification)
# ---------------------------------------------------------------------------


@register(
    "q110_customer_rfm_segments",
    tags=("A2", "W1", "P6"),
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
    MAX(o_orderdate) AS last_order,
    COUNT(*) AS frequency,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
    NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
    NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
    NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
),
labeled AS (
  SELECT *,
    CASE WHEN r_score = 1 AND f_score = 1 AND m_score = 1 THEN 'champion'
         WHEN r_score <= 2 AND m_score <= 2 THEN 'loyal'
         WHEN r_score = 4 AND f_score <= 2 THEN 'at_risk'
         WHEN r_score = 4 THEN 'lost'
         ELSE 'regular' END AS segment
  FROM scored
)
SELECT segment, COUNT(*) AS customers,
  CAST(AVG(CAST(r_score AS DOUBLE)) AS DOUBLE) AS avg_r,
  CAST(AVG(CAST(f_score AS DOUBLE)) AS DOUBLE) AS avg_f,
  CAST(AVG(CAST(m_score AS DOUBLE)) AS DOUBLE) AS avg_m
FROM labeled GROUP BY segment
""",
)
def q110_customer_rfm_segments(spark: SparkSession, sf_dir: str):
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-mart classification the reference's segment CASE chains
    (dags/snowflake-EDW-ETL-dag.py:353-367) approximate by hand. The
    fact stream collapses to one row per customer first (map-side
    combined; monetary in exact DECIMAL), THEN three exact NTILE(4)
    scores over the O(customers) aggregate — each with the customer key
    as tiebreaker, because NTILE's bucket boundaries on ties are
    otherwise engine-dependent. The scores come from
    `operators.ranking.exact_ntile` (range-partitioned rank + integer
    bucket math), NOT a bare Window.orderBy — bit-identical to the
    oracle's NTILE but with no single-partition sort, so the scoring
    stays parallel at billions of customers. Banding is a pure CASE
    chain."""
    from ..operators.ranking import exact_ntile

    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec("o_totalprice", 18, 2)).alias("monetary"),
    )
    scored = exact_ntile(
        rfm, [F.desc("last_order"), F.asc("o_custkey")], 4, "r_score"
    )
    scored = exact_ntile(
        scored, [F.desc("frequency"), F.asc("o_custkey")], 4, "f_score"
    )
    scored = exact_ntile(
        scored, [F.desc("monetary"), F.asc("o_custkey")], 4, "m_score"
    ).select("o_custkey", "r_score", "f_score", "m_score")
    labeled = scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") == 1) & (F.col("f_score") == 1) & (F.col("m_score") == 1),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2), "loyal")
        .when((F.col("r_score") == 4) & (F.col("f_score") <= 2), "at_risk")
        .when(F.col("r_score") == 4, "lost")
        .otherwise("regular"),
    )
    return labeled.groupBy("segment").agg(
        F.count(F.lit(1)).alias("customers"),
        F.avg(F.col("r_score").cast("double")).alias("avg_r"),
        F.avg(F.col("f_score").cast("double")).alias("avg_f"),
        F.avg(F.col("m_score").cast("double")).alias("avg_m"),
    )


# ---------------------------------------------------------------------------
# q111 — TPC-H Q9 shape: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------


@register(
    "q111_product_profit_by_nation",
    tags=("J2", "A1", "A2", "P5"),
    oracle="""
SELECT n.n_name AS nation,
  CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
         - CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(3,1))) AS DOUBLE)
    AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%_5%'
GROUP BY n.n_name, YEAR(o.o_orderdate)
""",
)
def q111_product_profit_by_nation(spark: SparkSession, sf_dir: str):
    """TPC-H Q9 shape: profit (revenue minus modeled supply cost at 60%
    of retail) for a product line, by supplier nation and order year.
    The part-name LIKE filter lands on the BROADCAST side, so Catalyst
    prunes the lineitem stream through the join itself (only matching
    partkeys survive the broadcast hash probe) — the fact scan stays
    full-width-free and the only real shuffle is lineitem⋈orders on
    orderkey. Profit arithmetic is exact DECIMAL throughout: the
    subtraction happens per row pre-aggregation, so the sum is
    order-independent under any AQE re-plan."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%_5%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2)) - dec(
        "l_quantity", 12, 2
    ) * dec("p_retailprice", 12, 2) * F.lit(0.6).cast("decimal(3,1)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# q112 — top-k per group WITH ties (rank, not row_number)
# ---------------------------------------------------------------------------


@register(
    "q112_top_parts_with_ties",
    tags=("W1", "O3"),
    oracle="""
WITH pq AS (
  SELECT p.p_brand, l.l_partkey,
    CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, l.l_partkey
)
SELECT p_brand, l_partkey, qty, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, RANK() OVER (PARTITION BY p_brand ORDER BY qty DESC) AS rnk
  FROM pq
)
WHERE rnk <= 3
""",
)
def q112_top_parts_with_ties(spark: SparkSession, sf_dir: str):
    """Top-3 parts per brand by shipped quantity, KEEPING ties — RANK
    semantics, where row_number's arbitrary tiebreak would silently drop
    equally-ranked parts (the correct choice for leaderboards where a
    tie means both belong). The tie comparison is on an exact integer
    quantity, so group membership is engine- and plan-independent with
    no tiebreaker column needed; the fact stream collapses to O(brand ×
    part) rows with map-side combine before the window."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    pq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(dec("l_quantity", 18, 2)).cast("long").alias("qty"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("qty"))
    return (
        pq.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# q113 — new vs returning revenue split (first-order attribution)
# ---------------------------------------------------------------------------


@register(
    "q113_new_vs_returning_revenue",
    tags=("A4", "W1", "A2"),
    oracle="""
WITH firsts AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_order FROM orders GROUP BY o_custkey
),
tagged AS (
  SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
    o.o_orderdate = f.first_order AS is_first,
    CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT month,
  CAST(SUM(CASE WHEN is_first THEN price ELSE 0 END) AS DOUBLE) AS new_revenue,
  CAST(SUM(CASE WHEN NOT is_first THEN price ELSE 0 END) AS DOUBLE) AS returning_revenue,
  CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
  CAST(SUM(CASE WHEN NOT is_first THEN 1 ELSE 0 END) AS BIGINT) AS returning_orders
FROM tagged GROUP BY month
""",
)
def q113_new_vs_returning_revenue(spark: SparkSession, sf_dir: str):
    """Monthly revenue split into first-ever orders vs returning-customer
    orders — the acquisition-vs-retention KPI. First-order attribution is
    a per-customer MIN carried back onto the order stream; expressed as a
    customer-keyed window (one exchange shared by the min and the
    tag — no separate aggregate + join-back pass), then a tiny
    O(months) conditional-DECIMAL rollup. An order on the customer's
    first DAY counts as new (date granularity ties go to 'new', the
    deterministic choice both engines share)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    tagged = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        (F.col("o_orderdate") == F.min("o_orderdate").over(w)).alias("is_first"),
        dec("o_totalprice", 18, 2).alias("price"),
    )
    return tagged.groupBy("month").agg(
        F.sum(F.when(F.col("is_first"), F.col("price")).otherwise(F.lit(0).cast("decimal(18,2)")))
        .cast("double")
        .alias("new_revenue"),
        F.sum(F.when(~F.col("is_first"), F.col("price")).otherwise(F.lit(0).cast("decimal(18,2)")))
        .cast("double")
        .alias("returning_revenue"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).cast("long").alias("new_orders"),
        F.sum(F.when(~F.col("is_first"), 1).otherwise(0)).cast("long").alias("returning_orders"),
    )


# ---------------------------------------------------------------------------
# q114 — cross-table reconciliation audit (header vs line totals)
# ---------------------------------------------------------------------------


@register(
    "q114_order_line_reconciliation",
    tags=("DQ", "A2", "J1"),
    oracle="""
WITH lt AS (
  SELECT l_orderkey,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS line_total,
    COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  COUNT(*) AS orders_checked,
  CAST(SUM(CASE WHEN lt.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orders_without_lines,
  CAST(SUM(CASE WHEN lt.l_orderkey IS NOT NULL
       AND abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - lt.line_total) > CAST(o.o_totalprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1))
       THEN 1 ELSE 0 END) AS BIGINT) AS gross_mismatches,
  CAST(MAX(lt.n_lines) AS BIGINT) AS max_lines_per_order
FROM orders o LEFT JOIN lt ON o.o_orderkey = lt.l_orderkey
""",
)
def q114_order_line_reconciliation(spark: SparkSession, sf_dir: str):
    """Header-vs-detail reconciliation — the cross-table consistency
    audit every warehouse runs between a fact header and its line table:
    orders with no lines at all, and orders whose header total diverges
    grossly (>50%) from the recomputed line total. Divergence math is
    exact DECIMAL (no double drift can flip a verdict); lineitem
    collapses to O(orders) with map-side combine before the LEFT join
    back to headers, and the verdict stream reduces to one audit row.
    The synthetic generator prices headers independently of lines, so
    non-zero mismatch counts here are expected — the query checks the
    OPERATOR, the thresholds are the knob."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lt = li.groupBy("l_orderkey").agg(
        F.sum(
            dec("l_extendedprice", 18, 2)
            * (1 - dec("l_discount", 4, 2))
            * (1 + dec("l_tax", 4, 2))
        ).alias("line_total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = o.join(lt, o.o_orderkey == lt.l_orderkey, "left")
    hdr = dec("o_totalprice", 18, 2)
    return j.agg(
        F.count(F.lit(1)).alias("orders_checked"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("orders_without_lines"),
        F.sum(
            F.when(
                F.col("l_orderkey").isNotNull()
                & (
                    F.abs(hdr - F.col("line_total"))
                    > hdr * F.lit(0.5).cast("decimal(2,1)")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("gross_mismatches"),
        F.max("n_lines").cast("long").alias("max_lines_per_order"),
    )


# ---------------------------------------------------------------------------
# q115 — state-transition matrix (Markov first pass over ordered events)
# ---------------------------------------------------------------------------


@register(
    "q115_status_transition_matrix",
    tags=("W1", "A1"),
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderstatus,
    LAG(o_orderstatus) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ) AS prev_status
  FROM orders
)
SELECT prev_status, o_orderstatus AS next_status, COUNT(*) AS transitions
FROM seq WHERE prev_status IS NOT NULL
GROUP BY prev_status, o_orderstatus
""",
)
def q115_status_transition_matrix(spark: SparkSession, sf_dir: str):
    """Order-status transition matrix — the Markov-chain first pass
    (state → next state counts over each customer's chronological order
    sequence) behind churn models and process mining. LAG carries the
    previous state on one customer-keyed window (orderkey tiebreak makes
    same-day sequences deterministic), and the transition pairs collapse
    map-side into the tiny |states|² matrix. One exchange on customer
    for the window; at 100 TB the matrix itself never grows."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.lag("o_orderstatus").over(w).alias("prev_status"),
        F.col("o_orderstatus").alias("next_status"),
    )
    return (
        seq.filter(F.col("prev_status").isNotNull())
        .groupBy("prev_status", "next_status")
        .agg(F.count(F.lit(1)).alias("transitions"))
    )


# ---------------------------------------------------------------------------
# q116 — Benford first-digit audit (synthetic/fabricated-data screen)
# ---------------------------------------------------------------------------


@register(
    "q116_benford_price_audit",
    tags=("DQ", "A1"),
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
    AS digit
  FROM orders WHERE o_totalprice >= 1
)
SELECT digit,
  COUNT(*) AS n,
  CAST((COUNT(*) * 1000000) // SUM(COUNT(*)) OVER () AS BIGINT) AS share_ppm
FROM d GROUP BY digit
""",
)
def q116_benford_price_audit(spark: SparkSession, sf_dir: str):
    """First-digit distribution of order totals — the Benford's-law
    screen auditors run to catch fabricated or unit-shifted monetary
    data (organic amounts lean on digit 1 ~30%; uniform generators,
    like this synthetic set, flatten to ~11% — which is exactly what
    the audit should surface here). Digit extraction is pure string
    codegen on the scan, the rollup is nine rows, and shares are
    integer ppm over a window total — no doubles anywhere, bit-stable
    on both engines."""
    o = load(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return cnt.select(
        "digit",
        "n",
        F.expr("CAST((n * 1000000) DIV SUM(n) OVER () AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q117 — ABC / Pareto classification (cumulative-share banding)
# ---------------------------------------------------------------------------


@register(
    "q117_part_abc_classes",
    tags=("W1", "A2", "P6"),
    oracle="""
WITH pv AS (
  SELECT l_partkey,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
  FROM lineitem GROUP BY l_partkey
),
c AS (
  SELECT l_partkey, revenue,
    SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(revenue) OVER () AS total
  FROM pv
),
k AS (
  SELECT *,
    CASE WHEN cum * 100 <= total * 80 THEN 'A'
         WHEN cum * 100 <= total * 95 THEN 'B'
         ELSE 'C' END AS abc_class
  FROM c
)
SELECT abc_class,
  COUNT(*) AS parts,
  CAST(SUM(revenue) AS DOUBLE) AS class_revenue,
  -- cents*1e6 passes 2^63 a few SF past the test scale: widen first
  CAST(CAST(CAST(SUM(revenue) * 100 AS BIGINT) AS HUGEINT) * 1000000
       // CAST(MAX(total) * 100 AS BIGINT) AS BIGINT) AS share_ppm
FROM k GROUP BY abc_class
""",
)
def q117_part_abc_classes(spark: SparkSession, sf_dir: str):
    """ABC / Pareto classification: parts banded by cumulative revenue
    share (A = first 80% of revenue, B = to 95%, C = tail) — the
    inventory-prioritization classic. The fact stream collapses to
    O(parts) with map-side combine; the revenue-ordered cumulative sum
    (partkey tiebreak makes it total-ordered) comes from
    `operators.ranking.with_running_sum` — range-partitioned local scans
    + broadcast DECIMAL offsets, NOT a single-partition window — so the
    Pareto scan stays parallel at any part cardinality. Every band cut
    is division-free DECIMAL (`cum·100 ≤ total·80`), so class membership
    is bit-stable across engines and plans."""
    from ..operators.ranking import with_running_sum

    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice", 18, 2) * (1 - dec("l_discount", 4, 2))).alias(
            "revenue"
        )
    )
    c = with_running_sum(
        pv, [F.desc("revenue"), F.asc("l_partkey")], "revenue"
    )
    k = c.withColumn(
        "abc_class",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C"),
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
        # cents*1e6 passes 2^63 a few SF past the test scale (silent wrap
        # on the JVM, raise in DuckDB): divide in decimal(38,0) and floor
        # — both operands non-negative, so floor == both engines' //
        F.expr(
            "CAST(FLOOR(CAST(CAST(SUM(revenue) * 100 AS BIGINT) AS DECIMAL(38,0))"
            " * 1000000 / CAST(MAX(total) * 100 AS BIGINT)) AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# q118 — dispersion statistics from exact moments (stddev / CV)
# ---------------------------------------------------------------------------


@register(
    "q118_price_dispersion",
    tags=("A2", "A5"),
    oracle="""
WITH m AS (
  SELECT p.p_brand,
    COUNT(*) AS n,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sx,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sxx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
num AS (
  SELECT p_brand, n, sx,
    CAST(n AS DECIMAL(38,0)) * CAST(sxx * 10000 AS DECIMAL(38,0))
      - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sx * 100 AS DECIMAL(38,0)) AS var_num_u
  FROM m WHERE n > 1
)
SELECT p_brand, n,
  CAST(sx AS DOUBLE) / n AS mean_price,
  sqrt(CAST(CAST(var_num_u AS VARCHAR) AS DOUBLE)
       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 10000.0)) AS stddev_price,
  sqrt(CAST(CAST(var_num_u AS VARCHAR) AS DOUBLE)
       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 10000.0))
    / (CAST(sx AS DOUBLE) / n) AS coeff_variation
FROM num
""",
)
def q118_price_dispersion(spark: SparkSession, sf_dir: str):
    """Per-brand price dispersion (sample stddev + coefficient of
    variation) WITHOUT the built-in `stddev` — Spark's and DuckDB's
    running-state variance aggregates are order-dependent in the last
    bits, so the engine sums exact DECIMAL moments (n, Σx, Σx²) instead
    and applies the closed formula in DOUBLE at the end: identical IEEE
    operations on identical inputs on both engines, one map-side-
    combinable shuffle of three numbers per group (the same trick as the
    q72 correlation). sqrt is correctly rounded per IEEE-754, so even
    the CV division chain is bit-stable."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    x = dec("l_extendedprice", 18, 2)
    m = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
        .filter(F.col("n") > 1)
    )
    # the variance numerator n·Σx² − (Σx)² is computed EXACTLY in
    # DECIMAL(38,0) (cent-scaled units) — doing it in doubles exposes
    # engine FMA/contraction differences in the a·b − c·d pattern — and
    # converts to double once, after which every remaining op is a
    # single correctly-rounded IEEE operation on both engines
    num = m.withColumn(
        "var_num_u",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * CAST(sxx * 10000 AS DECIMAL(38,0))"
            " - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sx * 100 AS DECIMAL(38,0))"
        ),
    )
    sxd = F.col("sx").cast("double")
    nd = F.col("n").cast("double")
    # decimal→double goes through a STRING cast: above 2^63 DuckDB's
    # direct hugeint→double conversion double-rounds (upper·2^64 + lower,
    # two float ops), while string→double is correctly rounded on both
    # engines — the last 1-ulp divergence this query had
    var = F.col("var_num_u").cast("string").cast("double") / (
        nd * (F.col("n") - 1).cast("double") * F.lit(10000.0)
    )
    return num.select(
        "p_brand",
        "n",
        (sxd / F.col("n")).alias("mean_price"),
        F.sqrt(var).alias("stddev_price"),
        (F.sqrt(var) / (sxd / F.col("n"))).alias("coeff_variation"),
    )


# ---------------------------------------------------------------------------
# q119 — returned-item lost revenue (TPC-H Q10 shape)
# ---------------------------------------------------------------------------


@register(
    "q119_returned_item_customers",
    tags=("J2", "A2", "A4", "O1", "O3"),
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
  COUNT(*) AS return_lines,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS lost_revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q119_returned_item_customers(spark: SparkSession, sf_dir: str):
    """Returned-item lost revenue by customer (TPC-H Q10 shape) — the
    refund-exposure report the reference's RTO gold marts circle around
    (cf. dags/logistics-gold-metrics-sql.py:43-55 seller RTO view). The
    one-year orderdate window is a raw-attribute predicate so it reaches
    the parquet scan on the orders side BEFORE the join; the returnflag
    equality prunes lineitem the same way; customer and nation broadcast.
    Revenue stays exact DECIMAL through the aggregate (tie-stable ORDER),
    and the top-20 runs as TakeOrderedAndProject — per-partition top-k +
    driver merge, never a global sort — with c_custkey as tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 2))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("return_lines"),
            F.round(F.sum(rev), 2).cast("double").alias("lost_revenue"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q120 — promotion revenue share per month (TPC-H Q14 shape)
# ---------------------------------------------------------------------------


@register(
    "q120_promo_revenue_share",
    tags=("J1", "A4", "A5"),
    oracle="""
WITH m AS (
  SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
    SUM(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
        ELSE CAST(0 AS DECIMAL(12,2)) END) AS promo_rev,
    SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS total_rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT ship_month,
  CAST(ROUND(promo_rev, 2) AS DOUBLE) AS promo_revenue,
  CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue,
  CAST(promo_rev AS DOUBLE) * 100 / CAST(total_rev AS DOUBLE) AS promo_share_pct
FROM m
""",
)
def q120_promo_revenue_share(spark: SparkSession, sf_dir: str):
    """Monthly promotion revenue share (TPC-H Q14 shape): numerator and
    denominator are conditional DECIMAL sums in ONE hash aggregate over
    the part-enriched stream — no second scan, no self-join. part
    broadcasts; the month key comes off the raw l_shipdate so only
    O(months) rows survive to the final projection, where the single
    double division (identical operand order both engines) happens
    once per month."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 2))
    zero = F.lit(0).cast("decimal(12,2)")
    m = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias(
                "promo_rev"
            ),
            F.sum(rev).alias("total_rev"),
        )
    )
    return m.select(
        "ship_month",
        F.round("promo_rev", 2).cast("double").alias("promo_revenue"),
        F.round("total_rev", 2).cast("double").alias("total_revenue"),
        (
            F.col("promo_rev").cast("double")
            * F.lit(100)
            / F.col("total_rev").cast("double")
        ).alias("promo_share_pct"),
    )


# ---------------------------------------------------------------------------
# q121 — late-shipment priority split (TPC-H Q12 shape)
# ---------------------------------------------------------------------------


@register(
    "q121_late_ship_priority",
    tags=("J1", "A4", "P6"),
    oracle="""
SELECT l.l_returnflag,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
  COUNT(*) AS late_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_returnflag
""",
)
def q121_late_ship_priority(spark: SparkSession, sf_dir: str):
    """Late-shipment priority accounting (TPC-H Q12 shape): did slow
    lines hit urgent orders? The 60-day lateness predicate is a
    cross-table comparison so it can't push to either scan — it filters
    right after the join — but both join inputs still column-prune to
    the 3-4 attributes used (ReadSchema), the conditional counts collapse
    map-side, and only |returnflag| rows reach the driver. The CASE
    split is the reference's A4 conditional-aggregation pattern on an
    order attribute fanned out through a fact⋈fact join."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            F.count(F.lit(1)).alias("late_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q123 — Bloom-filter probe pruning audit
# ---------------------------------------------------------------------------


@register(
    "q123_bloom_probe_audit",
    tags=("J6", "A4", "P6"),
    oracle="""
WITH mem AS (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0),
bits AS (
  SELECT DISTINCT d.d, substr(md5(d.d || ':' || CAST(mem.c_custkey AS VARCHAR)), 1, 2) AS bucket
  FROM mem, (SELECT unnest([1, 2, 3]) AS d) d
),
probe AS (
  SELECT o.o_orderstatus,
    (substr(md5('1:' || CAST(o.o_custkey AS VARCHAR)), 1, 2)
       IN (SELECT bucket FROM bits WHERE d = 1)
     AND substr(md5('2:' || CAST(o.o_custkey AS VARCHAR)), 1, 2)
       IN (SELECT bucket FROM bits WHERE d = 2)
     AND substr(md5('3:' || CAST(o.o_custkey AS VARCHAR)), 1, 2)
       IN (SELECT bucket FROM bits WHERE d = 3)) AS bloom_pass,
    o.o_custkey IN (SELECT c_custkey FROM mem) AS is_member
  FROM orders o
)
SELECT o_orderstatus,
  COUNT(*) AS probed,
  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
  CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS true_hits,
  CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
  CAST(SUM(CASE WHEN is_member AND NOT bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
FROM probe
GROUP BY o_orderstatus
""",
)
def q123_bloom_probe_audit(spark: SparkSession, sf_dir: str):
    """Bloom-filter join pruning, audited (operators/sketch.py): the
    risk-customer set (negative balance) compresses to a depth-3 ×
    256-bucket bit list that broadcasts to the orders scan, so the
    expensive side is pre-filtered MAP-SIDE before any shuffle — the
    semi-join-reduction shape (Spark's own runtime row-group bloom under
    `spark.sql.optimizer.runtime.bloomFilter` does this invisibly; here
    it is a first-class, inspectable operator). md5 bucketing makes the
    filter deterministic, so the oracle replays the exact same bits and
    certifies the two Bloom invariants per order status: false_negatives
    = 0 always, false_positives at the (1−e^{−kn/m})^k rate the audit
    surfaces."""
    from ..operators.sketch import bloom_bits, bloom_might_contain

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    mem = c.filter(F.col("c_acctbal") < 0).select("c_custkey").distinct()
    bits = bloom_bits(mem, "c_custkey")
    probed = bloom_might_contain(
        o.select("o_orderstatus", "o_custkey"), bits, "o_custkey"
    )
    flagged = probed.join(
        F.broadcast(mem.withColumn("_is_mem", F.lit(True))),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    ).withColumn("is_member", F.coalesce(F.col("_is_mem"), F.lit(False)))
    one = F.lit(1)
    zero = F.lit(0)
    return flagged.groupBy("o_orderstatus").agg(
        F.count(one).alias("probed"),
        F.sum(F.when(F.col("bloom_pass"), one).otherwise(zero))
        .cast("long")
        .alias("bloom_hits"),
        F.sum(F.when(F.col("is_member"), one).otherwise(zero))
        .cast("long")
        .alias("true_hits"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), one).otherwise(zero))
        .cast("long")
        .alias("false_positives"),
        F.sum(F.when(F.col("is_member") & ~F.col("bloom_pass"), one).otherwise(zero))
        .cast("long")
        .alias("false_negatives"),
    )


# ---------------------------------------------------------------------------
# q124 — duplicate-burst suppression (throttle/debounce dedup)
# ---------------------------------------------------------------------------

_THROTTLE_US = 300_000_000  # 5 minutes


@register(
    "q124_event_burst_throttle",
    tags=("W1", "A4"),
    oracle=f"""
WITH g AS (
  SELECT event_type,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
  COUNT(*) AS total_events,
  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= {_THROTTLE_US} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
  CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us < {_THROTTLE_US} THEN 1 ELSE 0 END) AS BIGINT) AS suppressed,
  CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us < {_THROTTLE_US} THEN 1 ELSE 0 END) * 1000000
       // COUNT(*) AS BIGINT) AS suppressed_ppm
FROM g GROUP BY event_type
""",
)
def q124_event_burst_throttle(spark: SparkSession, sf_dir: str):
    """Duplicate-burst suppression — the log-pipeline twin of exact dedup
    (q21): a retrying client or replayed producer emits the same (user,
    type) event seconds apart, so anything closer than 5 minutes to its
    predecessor is throttled. One LAG window keyed on (user_id,
    event_type) — the stream shuffles once on the same key the follow-up
    aggregate reuses — with (ts, event_id) ordering so ties are
    deterministic; gaps compare in exact integer µs and the rate reports
    in integer ppm (DIV — no doubles anywhere). The streaming half of
    this operator is stream_dedup_within_watermark (bounded state);
    this batch form is the backfill-safe sweep."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    supp = F.col("gap_us").isNotNull() & (F.col("gap_us") < _THROTTLE_US)
    one, zero = F.lit(1), F.lit(0)
    return g.groupBy("event_type").agg(
        F.count(one).alias("total_events"),
        F.sum(F.when(~supp, one).otherwise(zero)).cast("long").alias("kept"),
        F.sum(F.when(supp, one).otherwise(zero)).cast("long").alias("suppressed"),
        F.expr(
            f"CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us < {_THROTTLE_US} "
            "THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("suppressed_ppm"),
    )


# ---------------------------------------------------------------------------
# q125 — per-group OLS regression from exact moments
# ---------------------------------------------------------------------------


@register(
    "q125_qty_price_regression",
    tags=("A2", "A5"),
    oracle="""
WITH m AS (
  SELECT p.p_brand,
    COUNT(*) AS n,
    SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS sx,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sy,
    SUM(CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2))) AS sxx,
    SUM(CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sxy,
    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS syy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
num AS (
  SELECT p_brand, n, sx, sy,
    CAST(n AS DECIMAL(38,0)) * CAST(sxx * 10000 AS DECIMAL(38,0))
      - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sx * 100 AS DECIMAL(38,0)) AS sxx_num,
    CAST(n AS DECIMAL(38,0)) * CAST(sxy * 10000 AS DECIMAL(38,0))
      - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sy * 100 AS DECIMAL(38,0)) AS sxy_num,
    CAST(n AS DECIMAL(38,0)) * CAST(syy * 10000 AS DECIMAL(38,0))
      - CAST(sy * 100 AS DECIMAL(38,0)) * CAST(sy * 100 AS DECIMAL(38,0)) AS syy_num
  FROM m WHERE n > 1
)
SELECT p_brand, n,
  CAST(CAST(sxy_num AS VARCHAR) AS DOUBLE) / CAST(CAST(sxx_num AS VARCHAR) AS DOUBLE) AS slope,
  (CAST(sy AS DOUBLE)
     - CAST(CAST(sxy_num AS VARCHAR) AS DOUBLE) / CAST(CAST(sxx_num AS VARCHAR) AS DOUBLE)
       * CAST(sx AS DOUBLE)) / n AS intercept,
  (CAST(CAST(sxy_num AS VARCHAR) AS DOUBLE) * CAST(CAST(sxy_num AS VARCHAR) AS DOUBLE))
    / (CAST(CAST(sxx_num AS VARCHAR) AS DOUBLE) * CAST(CAST(syy_num AS VARCHAR) AS DOUBLE)) AS r2
FROM num
WHERE sxx_num <> 0 AND syy_num <> 0
""",
)
def q125_qty_price_regression(spark: SparkSession, sf_dir: str):
    """Per-brand OLS line (extendedprice ~ quantity) without any
    iterative solver: slope, intercept, and r² are closed forms over the
    five moment sums (n, Σx, Σy, Σx², Σxy, Σy²), which aggregate exactly
    in DECIMAL with map-side partials — one shuffle of six numbers per
    brand, order-independent under any plan (the q118 dispersion recipe
    generalized to two variables). The a·b − c·d numerators are computed
    in DECIMAL(38,0) cent²-units (doubles there hit engine FMA
    differences), converted once to double via the string cast (direct
    hugeint→double double-rounds past 2^63 in DuckDB), after which
    slope/intercept/r² are short chains of identical correctly-rounded
    IEEE ops on both engines."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    x = dec("l_quantity", 18, 2)
    y = dec("l_extendedprice", 18, 2)
    m = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
            F.sum(y * y).alias("syy"),
        )
        .filter(F.col("n") > 1)
    )
    num = (
        m.withColumn(
            "sxx_num",
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * CAST(sxx * 10000 AS DECIMAL(38,0))"
                " - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sx * 100 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "sxy_num",
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * CAST(sxy * 10000 AS DECIMAL(38,0))"
                " - CAST(sx * 100 AS DECIMAL(38,0)) * CAST(sy * 100 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "syy_num",
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * CAST(syy * 10000 AS DECIMAL(38,0))"
                " - CAST(sy * 100 AS DECIMAL(38,0)) * CAST(sy * 100 AS DECIMAL(38,0))"
            ),
        )
        .filter((F.col("sxx_num") != 0) & (F.col("syy_num") != 0))
    )
    sxxd = F.col("sxx_num").cast("string").cast("double")
    sxyd = F.col("sxy_num").cast("string").cast("double")
    syyd = F.col("syy_num").cast("string").cast("double")
    slope = sxyd / sxxd
    return num.select(
        "p_brand",
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("intercept"),
        ((sxyd * sxyd) / (sxxd * syyd)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q126 — 2-D skyline (Pareto frontier) via one sorted window pass
# ---------------------------------------------------------------------------


@register(
    "q126_part_price_size_skyline",
    tags=("W1", "J6", "O1"),
    oracle="""
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS psize,
    COUNT(*) AS n_parts, MIN(p_partkey) AS min_partkey
  FROM part GROUP BY 1, 2
)
SELECT price, psize, n_parts, min_partkey
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.psize >= a.psize
    AND (b.price < a.price OR b.psize > a.psize)
)
""",
)
def q126_part_price_size_skyline(spark: SparkSession, sf_dir: str):
    """Skyline / Pareto frontier over (minimize price, maximize size) —
    the dominance operator behind "cheapest part that is at least this
    big" sourcing decisions. The oracle keeps the textbook O(n²) NOT
    EXISTS; the engine exploits the 2-D structure instead: collapse to
    distinct (price, size) points, sort by (price asc, size desc), and a
    point survives iff its size beats the running max over all
    predecessors — every potential dominator precedes it in that order,
    so ONE prefix-max scan replaces the quadratic self-join, certified
    equivalent by the differential gate. Points collapse before the
    scan (O(distinct pairs), not O(parts)); the frontier itself is
    tiny. The scan is `operators.ranking.with_prefix_max` — per-range
    local prev-max folded with the broadcast max of earlier ranges, NOT
    a single-partition window — so the dominance pass stays parallel at
    any domain cardinality with identical semantics."""
    from ..operators.ranking import with_prefix_max

    p = load(spark, sf_dir, "part")
    pts = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_partkey").alias("min_partkey"),
    )
    return (
        with_prefix_max(pts, [F.asc("price"), F.desc("psize")], "psize")
        .filter(F.col("prev_max").isNull() | (F.col("psize") > F.col("prev_max")))
        .select("price", "psize", "n_parts", "min_partkey")
    )


# ---------------------------------------------------------------------------
# q128 — Gini coefficient of customer revenue per market segment
# ---------------------------------------------------------------------------


@register(
    "q128_revenue_gini",
    tags=("W1", "A2", "A5"),
    oracle="""
WITH cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT c.c_mktsegment, cust.o_custkey, cust.rev,
    ROW_NUMBER() OVER (
      PARTITION BY c.c_mktsegment ORDER BY cust.rev, cust.o_custkey) AS rn
  FROM cust JOIN customer c ON cust.o_custkey = c.c_custkey
),
m AS (
  SELECT c_mktsegment,
    COUNT(*) AS n_customers,
    SUM(CAST(rev * 100 AS DECIMAL(38,0))) AS s_cents,
    SUM(rn * CAST(rev * 100 AS DECIMAL(38,0))) AS a_cents,
    SUM(rev) AS total
  FROM seg GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers,
  CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue,
  (2.0 * CAST(CAST(a_cents AS VARCHAR) AS DOUBLE))
    / (CAST(n_customers AS DOUBLE) * CAST(CAST(s_cents AS VARCHAR) AS DOUBLE))
  - (CAST(n_customers AS DOUBLE) + 1.0) / CAST(n_customers AS DOUBLE) AS gini
FROM m
""",
)
def q128_revenue_gini(spark: SparkSession, sf_dir: str):
    """Revenue-concentration Gini coefficient per market segment — the
    Lorenz-curve complement to q95's HHI (is 80% of a segment's revenue
    carried by 2% of its customers?). Uses the rank formulation
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending revenue, so one
    sort window per segment on the O(customers) pre-aggregated rollup —
    the fact stream collapses first and never sorts. Both moment sums
    accumulate in exact DECIMAL cents ((rev, custkey) tiebreak makes tie
    order — and so the sum — engine-identical), then ONE conversion to
    double via the string cast and a fixed chain of IEEE ops both
    engines share bit-for-bit."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = o.groupBy("o_custkey").agg(F.sum(dec("o_totalprice", 18, 2)).alias("rev"))
    w = Window.partitionBy("c_mktsegment").orderBy("rev", "o_custkey")
    seg = (
        cust.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_custkey", "rev")
        .withColumn("rn", F.row_number().over(w))
    )
    cents = F.expr("CAST(rev * 100 AS DECIMAL(38,0))")
    m = seg.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(cents).alias("s_cents"),
        F.sum(F.col("rn") * cents).alias("a_cents"),
        F.sum("rev").alias("total"),
    )
    nd = F.col("n_customers").cast("double")
    ad = F.col("a_cents").cast("string").cast("double")
    sd = F.col("s_cents").cast("string").cast("double")
    return m.select(
        "c_mktsegment",
        "n_customers",
        F.round("total", 2).cast("double").alias("total_revenue"),
        ((F.lit(2.0) * ad) / (nd * sd) - (nd + F.lit(1.0)) / nd).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q129 — fulfillment lead-time SLA percentiles per order priority
# ---------------------------------------------------------------------------


@register(
    "q129_leadtime_sla_by_priority",
    tags=("J8", "A1", "W1", "A5"),
    oracle="""
WITH lead AS (
  SELECT o.o_orderpriority,
    date_diff('day', CAST(o.o_orderdate AS DATE), CAST(MAX(l.l_shipdate) AS DATE)) AS lead_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
),
ranked AS (
  SELECT o_orderpriority, lead_days,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY lead_days) AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM lead
)
SELECT o_orderpriority,
  CAST(MAX(n) AS BIGINT) AS n_orders,
  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN lead_days END) AS BIGINT) AS p50_days,
  CAST(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN lead_days END) AS BIGINT) AS p90_days,
  CAST(MAX(lead_days) AS BIGINT) AS max_days,
  CAST(SUM(CASE WHEN lead_days <= 90 THEN 1 ELSE 0 END) * 1000000 // MAX(n) AS BIGINT) AS within_90d_ppm
FROM ranked
GROUP BY o_orderpriority
""",
)
def q129_leadtime_sla_by_priority(spark: SparkSession, sf_dir: str):
    """Order fulfillment lead time (orderdate → LAST line shipped) with
    exact SLA percentiles per priority — the engine-native form of the
    reference's delivery-TAT gold marts (delivery_tat_days,
    dags/2_logistics-shipment-dag.py:144; avg_delivery_days,
    dags/logistics-gold-metrics-sql.py:29). lineitem collapses to
    O(orders) with map-side partials BEFORE anything sorts; lead_days
    uses date-boundary DATEDIFF semantics (the SURVEY §7 Snowflake-parity
    risk item — Spark datediff(date,date) counts boundary crossings
    exactly like Snowflake/DuckDB date_diff); percentiles are exact
    nearest-rank over integer days (no interpolation drift) and the SLA
    attainment rate reports in integer ppm. Note lead_days is the window
    sort key AND a deterministic value under ties — ranks within a tie
    run are arbitrary but every rank selection lands inside the run, so
    the selected VALUE is engine-identical (the q49 contract)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    lead = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("last_ship"), F.to_date("o_orderdate")
            ).alias("lead_days"),
        )
    )
    ranked = lead.select(
        "o_orderpriority",
        "lead_days",
        F.row_number()
        .over(Window.partitionBy("o_orderpriority").orderBy("lead_days"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    n = F.col("n")
    pick = lambda cond, name: F.max(F.when(cond, F.col("lead_days"))).cast("long").alias(name)  # noqa: E731
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        pick(F.col("rn") == F.expr("(n + 1) div 2"), "p50_days"),
        pick(F.col("rn") == F.ceil(F.lit(0.90) * n).cast("long"), "p90_days"),
        F.max("lead_days").cast("long").alias("max_days"),
        F.expr(
            "CAST(SUM(CASE WHEN lead_days <= 90 THEN 1 ELSE 0 END) * 1000000"
            " DIV MAX(n) AS BIGINT)"
        ).alias("within_90d_ppm"),
    )


# ---------------------------------------------------------------------------
# q130 — event-type association lift (market-basket second pass)
# ---------------------------------------------------------------------------


@register(
    "q130_event_type_lift",
    tags=("J8", "A3", "A5"),
    oracle="""
WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
tu AS (SELECT event_type, COUNT(*) AS n_t FROM ue GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
  ta.n_t AS n_a, tb.n_t AS n_b,
  CAST(p.n_ab * 1000000 // t.n_users AS BIGINT) AS support_ppm,
  (CAST(p.n_ab AS DOUBLE) * CAST(t.n_users AS DOUBLE))
    / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)) AS lift
FROM pairs p
JOIN tu ta ON ta.event_type = p.type_a
JOIN tu tb ON tb.event_type = p.type_b
CROSS JOIN tot t
""",
)
def q130_event_type_lift(spark: SparkSession, sf_dir: str):
    """Association lift between event types (the rule-scoring pass that
    follows q104's pair mining): lift(a,b) = P(a∧b)/(P(a)·P(b)) over
    per-user distinct behavior. The raw stream collapses to distinct
    (user, type) rows — ≤|types| per user — before the self-join, so the
    pair fan-out is C(k,2) per user on an already-tiny stream and every
    follow-up table (per-type counts, pair counts, the user total) is
    O(|types|) or O(|types|²) and broadcasts. Counts are exact integers;
    support in integer ppm; the lift ratio is one double expression with
    identical operand order on both engines."""
    e = load(spark, sf_dir, "events")
    ue = e.select("user_id", "event_type").distinct()
    tot = ue.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    tu = ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = ue.alias("a"), ue.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    out = (
        pairs.join(
            F.broadcast(tu.withColumnRenamed("event_type", "type_a").withColumnRenamed("n_t", "n_a")),
            "type_a",
        )
        .join(
            F.broadcast(tu.withColumnRenamed("event_type", "type_b").withColumnRenamed("n_t", "n_b")),
            "type_b",
        )
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_ab",
        "n_a",
        "n_b",
        F.expr("CAST(n_ab * 1000000 DIV n_users AS BIGINT)").alias("support_ppm"),
        (
            (F.col("n_ab").cast("double") * F.col("n_users").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q131 — shipping-priority revenue top-10 (TPC-H Q3 shape)
# ---------------------------------------------------------------------------


@register(
    "q131_shipping_priority",
    tags=("J2", "A1", "O1", "O3"),
    oracle="""
SELECT l.l_orderkey,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
  o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
""",
)
def q131_shipping_priority(spark: SparkSession, sf_dir: str):
    """Unshipped-revenue top-10 (TPC-H Q3 shape): orders placed before the
    cutoff whose lines ship after it, for one market segment. All three
    predicates are raw-attribute comparisons, so each pushes into its own
    parquet scan (segment prunes customer, the date range prunes orders
    AND lineitem row groups via min/max stats) BEFORE the joins; the
    filtered customer side broadcasts; the top-10 runs as
    TakeOrderedAndProject with (orderdate, orderkey) tiebreaks so the cut
    is deterministic under revenue ties."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    rev = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 2))
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q132 — order-priority EXISTS check (TPC-H Q4 shape)
# ---------------------------------------------------------------------------


@register(
    "q132_priority_order_check",
    tags=("J6", "A1", "A2"),
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
""",
)
def q132_priority_order_check(spark: SparkSession, sf_dir: str):
    """Orders per priority with at least one slow line (TPC-H Q4 shape —
    the reference's lineitem carries shipdate, so Q4's commit<receipt
    lateness becomes ship > order + 30d). The correlated EXISTS is a
    LEFT SEMI join: the quarter predicate prunes the orders scan, the
    probe side deduplicates inside the semi join (no fan-out, no
    distinct), and only O(priorities) rows leave the final aggregate.
    The correlated cross-table comparison rides in the join condition."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    quarter = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return (
        quarter.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q133 — forecast revenue-change scan (TPC-H Q6 shape)
# ---------------------------------------------------------------------------


@register(
    "q133_discount_revenue_scan",
    tags=("A2", "A7"),
    oracle="""
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS potential_revenue,
  COUNT(*) AS qualifying_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q133_discount_revenue_scan(spark: SparkSession, sf_dir: str):
    """Pure scan-aggregate (TPC-H Q6 shape): what revenue would removing
    small-order discounts recover? No join, no window — the whole query
    is predicate pushdown + a grand total, so the measured cost IS the
    scan: all four range predicates reach the parquet reader
    (PushedFilters), row groups outside the ship-year prune on min/max
    stats, and the DECIMAL partial sums combine map-side into a single
    output row. The query the scan-bound 100 TB case is won or lost on."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(dec("l_extendedprice", 12, 2) * dec("l_discount", 4, 2)), 2)
        .cast("double")
        .alias("potential_revenue"),
        F.count(F.lit(1)).alias("qualifying_lines"),
    )


# ---------------------------------------------------------------------------
# q134 — period-over-period distribution drift audit (TVD in integer ppm)
# ---------------------------------------------------------------------------


@register(
    "q134_order_value_drift",
    tags=("A1", "A4", "A5"),
    oracle="""
WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
bins AS (
  SELECT CAST(least(9, floor((o_totalprice - b.lo) / (b.hi - b.lo) * 10.0)) AS BIGINT) AS bin,
    CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_1997,
    CAST(SUM(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_1998
  FROM orders, b
  WHERE year(o_orderdate) IN (1997, 1998)
  GROUP BY 1
)
SELECT bin, cnt_1997, cnt_1998,
  CAST(cnt_1997 * 1000000 // SUM(cnt_1997) OVER () AS BIGINT) AS share_1997_ppm,
  CAST(cnt_1998 * 1000000 // SUM(cnt_1998) OVER () AS BIGINT) AS share_1998_ppm,
  CAST(abs(cnt_1997 * 1000000 // SUM(cnt_1997) OVER ()
         - cnt_1998 * 1000000 // SUM(cnt_1998) OVER ()) AS BIGINT) AS drift_ppm
FROM bins
""",
)
def q134_order_value_drift(spark: SparkSession, sf_dir: str):
    """Period-over-period distribution drift — the data-quality screen
    that catches a silently shifted upstream (price scale change,
    truncated feed, currency bug) even when row counts look fine. One
    scan: q77's bit-deterministic equi-width binning + BOTH years as
    conditional counts in a single hash aggregate (no join of two
    histograms), then per-bin population shares and their absolute gap —
    summing drift_ppm/2 over the 10 output rows IS the total-variation
    distance. Everything after the scan is integer (ppm via DIV over
    unbounded window totals on the O(bins) rollup): no float sum-order
    anywhere, bit-identical cross-engine."""
    o = load(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    yr = F.year("o_orderdate")
    bin_col = F.least(
        F.lit(9),
        F.floor((F.col("o_totalprice") - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * 10.0),
    ).cast("long")
    one, zero = F.lit(1), F.lit(0)
    bins = (
        o.filter(yr.isin(1997, 1998))
        .select(bin_col.alias("bin"), yr.alias("y"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("y") == 1997, one).otherwise(zero))
            .cast("long")
            .alias("cnt_1997"),
            F.sum(F.when(F.col("y") == 1998, one).otherwise(zero))
            .cast("long")
            .alias("cnt_1998"),
        )
    )
    return bins.select(
        "bin",
        "cnt_1997",
        "cnt_1998",
        F.expr(
            "CAST(cnt_1997 * 1000000 DIV SUM(cnt_1997) OVER () AS BIGINT)"
        ).alias("share_1997_ppm"),
        F.expr(
            "CAST(cnt_1998 * 1000000 DIV SUM(cnt_1998) OVER () AS BIGINT)"
        ).alias("share_1998_ppm"),
        F.expr(
            "CAST(abs(cnt_1997 * 1000000 DIV SUM(cnt_1997) OVER ()"
            " - cnt_1998 * 1000000 DIV SUM(cnt_1998) OVER ()) AS BIGINT)"
        ).alias("drift_ppm"),
    )


# ---------------------------------------------------------------------------
# q135 — per-group quantiles from a mergeable geometric-histogram sketch
# ---------------------------------------------------------------------------

# Edges as module-level Python floats: the SAME literals are embedded in the
# Spark plan (F.lit) and the oracle SQL (CAST('repr' AS DOUBLE) — shortest
# repr round-trips exactly), so binning and interpolation are bit-identical
# across engines. 2^(1/4) spacing => <=19% relative bin width.
_Q135_EDGES = None  # populated below (needs the operator import)


def _q135_oracle(edges: list[float]) -> str:
    arr = ", ".join(f"CAST('{e!r}' AS DOUBLE)" for e in edges)
    m = len(edges)
    rows = []
    for k in range(m + 1):
        # unbounded bins carry NULL on their open side (mirrors
        # histogram_edge_bounds): a rank landing there estimates NULL
        lo = "CAST(NULL AS DOUBLE)" if k == 0 else f"CAST('{edges[k - 1]!r}' AS DOUBLE)"
        hi = f"CAST('{edges[k]!r}' AS DOUBLE)" if k < m else "CAST(NULL AS DOUBLE)"
        rows.append(f"({k}, {lo}, {hi})")

    def est(q: str) -> str:
        r = f"CAST(total AS DOUBLE) * CAST('{q}' AS DOUBLE)"
        return (
            f"MAX(CASE WHEN cum - cnt < {r} AND {r} <= cum THEN "
            f"lo + (hi - lo) * (({r} - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)) "
            "END)"
        )

    return f"""
WITH binned AS (
  SELECT o_orderpriority AS priority,
         CAST(len(list_filter([{arr}], b -> o_totalprice >= b)) AS INTEGER) AS bin
  FROM orders
), sk AS (
  SELECT priority, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY priority, bin
), cum AS (
  SELECT priority, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY priority ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY priority) AS BIGINT) AS total
  FROM sk
), edges(bin, lo, hi) AS (VALUES {", ".join(rows)})
SELECT priority,
  {est("0.5")} AS p50_est,
  {est("0.95")} AS p95_est
FROM cum JOIN edges USING (bin)
GROUP BY priority
"""


from ..operators.sketch import (  # noqa: E402
    geometric_edges,
    histogram_quantiles,
    histogram_sketch,
)

_Q135_EDGES = geometric_edges(1024.0, 524288.0, bins_per_octave=4)


@register(
    "q135_price_quantile_sketch",
    tags=("A5", "sketch", "approx"),
    oracle=_q135_oracle(_Q135_EDGES),
)
def q135_price_quantile_sketch(spark: SparkSession, sf_dir: str):
    """Per-priority p50/p95 of order value from a mergeable geometric-
    histogram sketch (operators/sketch.py) instead of an exact per-group
    sort: the fact stream collapses map-side into O(groups × bins)
    counters (one fold over a literal edge array — whole-stage codegen,
    no runtime log2), ONE shuffle moves only that few-KB state, and the
    quantile walk + in-bin interpolation runs on the tiny sketch. At
    100 TB this replaces q49's exact percentile sort wherever ≤19%
    relative bin error is acceptable — and unlike approx_percentile's
    opaque internal state, this sketch is a plain DataFrame that merges
    across batches (`merge_histogram_sketches`) and maintains
    incrementally (plans/incremental.py with `bin` as a key), so daily
    sketches roll up to monthly p99s without re-reading history. The
    estimate is deterministic pure arithmetic — the oracle mirrors it
    bit-for-bit (same edge literals, same expression shape)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice"
    )
    sk = histogram_sketch(o, "o_totalprice", _Q135_EDGES, keys=("priority",))
    return histogram_quantiles(
        sk, _Q135_EDGES, {"p50_est": 0.5, "p95_est": 0.95}, keys=("priority",)
    )


# ---------------------------------------------------------------------------
# q136 — distinct users per event type via deterministic HyperLogLog
# ---------------------------------------------------------------------------

import math  # noqa: E402

from ..operators.sketch import hll_estimate, hll_registers  # noqa: E402

_Q136_IDX = 2  # 16^2 = 256 registers, stderr ~= 1.04/sqrt(m) = 6.5%
_Q136_RANK = 12  # 48-bit rank suffix


def _q136_oracle() -> str:
    m = 16**_Q136_IDX
    maxr = 4 * _Q136_RANK + 1
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(2**maxr)
    # the SAME Python doubles the Spark plan embeds (repr round-trips
    # exactly), so both engines interpolate/correct with identical bits
    lc_rows = ", ".join(
        f"({v}, CAST('{float(m) * math.log(m / v)!r}' AS DOUBLE))"
        for v in range(1, m + 1)
    )
    return f"""
WITH p AS (
  SELECT event_type,
         substr(_h, 1, {_Q136_IDX}) AS idx,
         substr(_h, {_Q136_IDX + 1}, {_Q136_RANK}) AS _s,
         trim(LEADING '0' FROM substr(_h, {_Q136_IDX + 1}, {_Q136_RANK})) AS _t
  FROM (SELECT event_type,
               md5('hll:' || CAST(user_id AS VARCHAR)) AS _h
        FROM events)
), sk AS (
  SELECT event_type, idx,
         MAX(CASE WHEN _t = '' THEN {maxr}
              ELSE (length(_s) - length(_t)) * 4
                   + CASE WHEN substr(_t, 1, 1) = '1' THEN 3
                          WHEN substr(_t, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(_t, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END + 1 END) AS reg
  FROM p GROUP BY event_type, idx
), est AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST({m} - COUNT(*) AS BIGINT) AS zeros,
         CAST('{num!r}' AS DOUBLE)
           / CAST(CAST(SUM(1::BIGINT << ({maxr} - reg)) AS BIGINT)
                  + ({m} - COUNT(*)) * (1::BIGINT << {maxr}) AS DOUBLE) AS raw
  FROM sk GROUP BY event_type
), lcv(zeros, lc) AS (VALUES {lc_rows})
SELECT e.event_type,
  CASE WHEN e.raw <= CAST('{2.5 * m!r}' AS DOUBLE) AND e.zeros > 0
       THEN l.lc ELSE e.raw END AS users_hll,
  e.n AS registers_hit
FROM est e LEFT JOIN lcv l ON l.zeros = e.zeros
"""


@register(
    "q136_distinct_users_hll",
    tags=("A3", "sketch", "approx"),
    oracle=_q136_oracle(),
)
def q136_distinct_users_hll(spark: SparkSession, sf_dir: str):
    """Distinct users per event type from a deterministic HyperLogLog
    register file (operators/sketch.py) instead of COUNT(DISTINCT): the
    exact form shuffles every distinct (event_type, user_id) pair — at
    100 TB that is the whole key universe crossing the wire — while the
    register file partial-aggregates map-side to <= 256 rows per type,
    so ONE shuffle moves a few KB per group for a 6.5% stderr estimate.
    Unlike approx_count_distinct's opaque binary state, the registers
    are a plain DataFrame: files over arbitrary batch slicings merge by
    max (`merge_hll_sketches`) into exactly the full-history file, and
    plans/incremental.py maintains one incrementally (idx as key, reg as
    max measure) — all-time uniques without re-reading history. Ranks
    come from md5 hex strings and the harmonic sum is an exact BIGINT,
    so the estimate is bit-identical across engines, partitionings, and
    re-runs — the DuckDB oracle reproduces it exactly."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    sk = hll_registers(
        ev, "user_id", keys=("event_type",),
        index_chars=_Q136_IDX, rank_chars=_Q136_RANK,
    )
    return hll_estimate(
        sk, keys=("event_type",),
        index_chars=_Q136_IDX, rank_chars=_Q136_RANK, est_col="users_hll",
    )


# ---------------------------------------------------------------------------
# q139 — event-type audience overlap via KMV theta-sketch set algebra
# ---------------------------------------------------------------------------

from ..operators.sketch import kmv_set_estimates, kmv_sketch  # noqa: E402

_Q139_K = 64


def _q139_oracle() -> str:
    k = _Q139_K
    est_union = (
        f"CASE WHEN n < {k} THEN CAST(n AS DOUBLE) "
        f"ELSE CAST('{float(k - 1)!r}' AS DOUBLE) / "
        "(CAST(CAST(concat('0x', substr(hk, 1, 13)) AS BIGINT) AS DOUBLE) "
        f"/ CAST('{float(2**52)!r}' AS DOUBLE)) END"
    )
    return f"""
WITH d AS (
  SELECT DISTINCT event_type,
         md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
  FROM events
), sk AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM d)
  WHERE rk <= {k}
), types AS (
  SELECT DISTINCT event_type FROM events
), pairs AS (
  SELECT a.event_type AS set_a, b.event_type AS set_b
  FROM types a JOIN types b ON a.event_type < b.event_type
), u AS (
  SELECT p.set_a, p.set_b, s.h,
         MAX(CASE WHEN s.event_type = p.set_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.event_type = p.set_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.event_type IN (p.set_a, p.set_b)
  GROUP BY p.set_a, p.set_b, s.h
), x AS (
  SELECT set_a, set_b, h, in_a, in_b,
         ROW_NUMBER() OVER (PARTITION BY set_a, set_b ORDER BY h) AS rk
  FROM u
), agg AS (
  SELECT set_a, set_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         MAX(CASE WHEN rk = {k} THEN h END) AS hk,
         CAST(SUM(in_a * in_b) AS BIGINT) AS nboth
  FROM x WHERE rk <= {k}
  GROUP BY set_a, set_b
)
SELECT set_a, set_b,
  {est_union} AS union_est,
  (CAST(nboth AS DOUBLE) / CAST(n AS DOUBLE)) * ({est_union}) AS inter_est,
  CAST(nboth AS DOUBLE) / CAST(n AS DOUBLE) AS jaccard_est
FROM agg
"""


@register(
    "q139_audience_overlap_kmv",
    tags=("A3", "sketch", "approx", "setops"),
    oracle=_q139_oracle(),
)
def q139_audience_overlap_kmv(spark: SparkSession, sf_dir: str):
    """Pairwise audience overlap between event types — estimated union,
    intersection, and Jaccard of their distinct-user sets — from ONE
    KMV theta sketch (operators/sketch.py) instead of a self-join of
    distinct pairs: the exact form is |types|² shuffles of the whole
    (type, user) universe, while the sketch reads the fact stream once,
    keeps the bottom-64 user hashes per type (a uniform sample of each
    audience), and answers every pair from broadcast-sized state —
    set-operation cardinalities are exactly what register-based HLL
    (q136) cannot provide. All comparisons are hash-string order and
    the only arithmetic is one division by an exact 52-bit fraction, so
    the estimates are bit-identical across engines and the DuckDB
    oracle reproduces them exactly; RSE ≈ 1/√(k−2) ≈ 13% at k=64."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    # materialize the broadcast-sized sketch ONCE (localCheckpoint cuts
    # the lineage, same discipline as plans/incremental.py): the pair
    # universe and both tag sides reference it without re-deriving it
    # from the fact stream, so events is scanned exactly once — the
    # plan-level contract tests/test_catalog_plans.py pins
    sk = kmv_sketch(
        ev, "user_id", k=_Q139_K, keys=("event_type",)
    ).localCheckpoint(eager=True)
    types = sk.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("set_a"),
            F.col("b.event_type").alias("set_b"),
        )
    )
    return kmv_set_estimates(pairs, sk, "event_type", k=_Q139_K)


# ---------------------------------------------------------------------------
# q140 — quantity-weighted price quantiles from the histogram sketch
# ---------------------------------------------------------------------------

_Q140_EDGES = geometric_edges(1024.0, 131072.0, bins_per_octave=4)


def _q140_oracle(edges: list[float]) -> str:
    arr = ", ".join(f"CAST('{e!r}' AS DOUBLE)" for e in edges)
    m = len(edges)
    rows = []
    for k in range(m + 1):
        # unbounded bins carry NULL on their open side (mirrors
        # histogram_edge_bounds): a rank landing there estimates NULL
        lo = "CAST(NULL AS DOUBLE)" if k == 0 else f"CAST('{edges[k - 1]!r}' AS DOUBLE)"
        hi = f"CAST('{edges[k]!r}' AS DOUBLE)" if k < m else "CAST(NULL AS DOUBLE)"
        rows.append(f"({k}, {lo}, {hi})")

    def est(q: str) -> str:
        r = f"CAST(total AS DOUBLE) * CAST('{q}' AS DOUBLE)"
        return (
            f"MAX(CASE WHEN CAST(cum - cnt AS DOUBLE) < {r} AND {r} <= CAST(cum AS DOUBLE) THEN "
            f"lo + (hi - lo) * (({r} - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)) "
            "END)"
        )

    return f"""
WITH binned AS (
  SELECT l_returnflag AS flag,
         CAST(len(list_filter([{arr}], b -> l_extendedprice >= b)) AS INTEGER) AS bin,
         CAST(l_quantity AS DECIMAL(27,2)) AS w
  FROM lineitem
), sk AS (
  SELECT flag, bin, CAST(SUM(w) AS DECIMAL(27,2)) AS cnt
  FROM binned GROUP BY flag, bin
), cum AS (
  SELECT flag, bin, cnt,
         SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY flag) AS total
  FROM sk
), edges(bin, lo, hi) AS (VALUES {", ".join(rows)})
SELECT flag,
  {est("0.5")} AS p50_w,
  {est("0.9")} AS p90_w
FROM cum JOIN edges USING (bin)
GROUP BY flag
"""


@register(
    "q140_weighted_price_quantiles",
    tags=("A5", "sketch", "approx"),
    oracle=_q140_oracle(_Q140_EDGES),
)
def q140_weighted_price_quantiles(spark: SparkSession, sf_dir: str):
    """Quantity-WEIGHTED price quantiles per return flag — "the price
    below which half the units sold sit" — from the same mergeable
    geometric-histogram sketch as q135, with `weight_col` switching the
    bin measure from row counts to exact-DECIMAL weight sums
    (order-independent partials, so the weighted sketch keeps the full
    determinism contract: merge across batches, incremental maintenance
    with `cnt` as a sum measure, bit-identical estimates). The exact
    form of this metric is a per-group sort carrying the weight column;
    the sketch answers it from O(groups × bins) counters and ONE
    partial-aggregated shuffle — and weighted medians are exactly what
    approx_percentile cannot do."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice", "l_quantity"
    )
    sk = histogram_sketch(
        li, "l_extendedprice", _Q140_EDGES, keys=("flag",), weight_col="l_quantity"
    )
    return histogram_quantiles(
        sk, _Q140_EDGES, {"p50_w": 0.5, "p90_w": 0.9}, keys=("flag",)
    )


# ---------------------------------------------------------------------------
# q141 — weekly uniques from daily HLL register files (hierarchical rollup)
# ---------------------------------------------------------------------------


def _q141_oracle() -> str:
    m = 16**_Q136_IDX
    maxr = 4 * _Q136_RANK + 1
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(2**maxr)
    lc_rows = ", ".join(
        f"({v}, CAST('{float(m) * math.log(m / v)!r}' AS DOUBLE))"
        for v in range(1, m + 1)
    )
    # the oracle computes the WEEK-level sketch directly from the facts;
    # the Spark side merges DAILY register files upward — identical
    # output is the register-merge associativity proof
    return f"""
WITH p AS (
  SELECT week,
         substr(_h, 1, {_Q136_IDX}) AS idx,
         substr(_h, {_Q136_IDX + 1}, {_Q136_RANK}) AS _s,
         trim(LEADING '0' FROM substr(_h, {_Q136_IDX + 1}, {_Q136_RANK})) AS _t
  FROM (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               md5('hll:' || CAST(user_id AS VARCHAR)) AS _h
        FROM events)
), sk AS (
  SELECT week, idx,
         MAX(CASE WHEN _t = '' THEN {maxr}
              ELSE (length(_s) - length(_t)) * 4
                   + CASE WHEN substr(_t, 1, 1) = '1' THEN 3
                          WHEN substr(_t, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(_t, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END + 1 END) AS reg
  FROM p GROUP BY week, idx
), est AS (
  SELECT week,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST({m} - COUNT(*) AS BIGINT) AS zeros,
         CAST('{num!r}' AS DOUBLE)
           / CAST(CAST(SUM(1::BIGINT << ({maxr} - reg)) AS BIGINT)
                  + ({m} - COUNT(*)) * (1::BIGINT << {maxr}) AS DOUBLE) AS raw
  FROM sk GROUP BY week
), lcv(zeros, lc) AS (VALUES {lc_rows})
SELECT e.week,
  CASE WHEN e.raw <= CAST('{2.5 * m!r}' AS DOUBLE) AND e.zeros > 0
       THEN l.lc ELSE e.raw END AS users_hll,
  e.n AS registers_hit
FROM est e LEFT JOIN lcv l ON l.zeros = e.zeros
"""


@register(
    "q141_weekly_uniques_rollup",
    tags=("A3", "sketch", "approx", "rollup"),
    oracle=_q141_oracle(),
)
def q141_weekly_uniques_rollup(spark: SparkSession, sf_dir: str):
    """Weekly distinct users answered from DAILY HLL register files
    merged upward (groupBy(week, idx).max(reg)) — the hierarchical-
    rollup property that makes sketch state reusable across grains: a
    warehouse keeps one tiny file per day (plans/incremental.py or
    streaming/sketch.py maintains it), and weekly/monthly/all-time
    uniques come from merging those files, never from re-reading facts.
    The oracle computes the week-level sketch DIRECTLY from the raw
    events; hash-equality with the Spark side is therefore a bit-level
    proof of register-merge associativity (merge of day files ==
    sketch of the week), not just a numeric approximation check."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        "user_id",
    )
    daily = hll_registers(
        ev, "user_id", keys=("week", "day"),
        index_chars=_Q136_IDX, rank_chars=_Q136_RANK,
    )
    weekly = daily.groupBy("week", "idx").agg(F.max("reg").alias("reg"))
    return hll_estimate(
        weekly, keys=("week",),
        index_chars=_Q136_IDX, rank_chars=_Q136_RANK, est_col="users_hll",
    )


# ---------------------------------------------------------------------------
# q145 — salted two-phase aggregation over a pathologically skewed key
# ---------------------------------------------------------------------------


@register(
    "q145_event_type_salted_profile",
    tags=("skew", "A1", "A2"),
    oracle="""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q145_event_type_salted_profile(spark: SparkSession, sf_dir: str):
    """Per-event-type profile computed through
    `operators.scale.salted_aggregate` — the two-phase (keys, salt) →
    keys rewrite for group-bys whose key cardinality is far below the
    cluster's parallelism (5 event types vs 1000 executors: a plain
    groupBy funnels 100 TB through 5 reducers; the salted phase-1
    spreads each type over n_salts reducers and phase-2 merges
    n_salts·5 partial rows). Every aggregate is decomposable
    (count/min/max + an integer floor-sum, exact under any merge
    order), so the driver's oracle — a PLAIN group-by — certifies the
    rewrite is result-identical, not just plausible."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.floor("value").cast("long").alias("fv"),
    )
    from ..operators.scale import salted_aggregate

    prof = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": (F.count(F.lit(1)), "count"),
            "min_value": (F.min("value"), "min"),
            "max_value": (F.max("value"), "max"),
            "sum_floor_value": (F.sum("fv"), "sum"),
        },
        n_salts=16,
    )
    return prof.orderBy("event_type")


# ---------------------------------------------------------------------------
# q168 — snapshot data-diff (CDC/backfill reconciliation audit)
# ---------------------------------------------------------------------------


@register(
    "q168_snapshot_diff",
    tags=("J3", "A4", "M4"),
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, o_orderstatus AS st,
    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
snap_a AS (
  SELECT k, st, cents FROM base WHERE d < DATE '1997-06-01'
),
snap_b AS (
  SELECT k,
    CASE WHEN st = 'O' AND k % 5 = 0 THEN 'F' ELSE st END AS st,
    cents + CASE WHEN k % 11 = 0 THEN 100 ELSE 0 END AS cents
  FROM base WHERE d < DATE '1997-12-01' AND k % 97 <> 0
),
diff AS (
  SELECT COALESCE(a.k, b.k) AS k,
    CASE
      WHEN a.k IS NULL THEN 'added'
      WHEN b.k IS NULL THEN 'removed'
      WHEN a.st <> b.st OR a.cents <> b.cents THEN 'changed'
      ELSE 'unchanged'
    END AS change_kind,
    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL AND a.st <> b.st
         THEN 1 ELSE 0 END AS status_diff,
    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL AND a.cents <> b.cents
         THEN 1 ELSE 0 END AS price_diff
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT change_kind,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(status_diff) AS BIGINT) AS n_status_diff,
  CAST(SUM(price_diff) AS BIGINT) AS n_price_diff,
  CAST(MIN(k) AS BIGINT) AS min_key,
  CAST(MAX(k) AS BIGINT) AS max_key
FROM diff GROUP BY change_kind
""",
)
def q168_snapshot_diff(spark: SparkSession, sf_dir: str):
    """Table-diff between two snapshot versions — the audit a CDC /
    backfill pipeline runs to certify "replaying the increment produced
    exactly the expected adds/updates/deletes" (the reference's MERGE
    flows assert this only implicitly via rows-affected counts;
    dags/logistics-airbyte-sql.py:25-49 is the upsert being audited).
    Snapshots are derived deterministically from `orders` (a date-cut
    base, then a later cut with seeded status flips, price bumps and
    key deletions), then reconciled with ONE full-outer join on the
    primary key and classified added/removed/changed/unchanged with
    per-column drift counters.  Scale shape: both snapshots are
    projections of the same scan; the full-outer join hash-partitions
    on the key (AQE handles skew), and the classifier is pure column
    arithmetic — no window, no Python.  Money drift compares integer
    cents (DECIMAL-derived) so double noise can never fake a change."""
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderstatus").alias("st"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    snap_a = base.filter(F.col("d") < F.lit("1997-06-01").cast("date")).select(
        "k", F.col("st").alias("st_a"), F.col("cents").alias("cents_a")
    )
    snap_b = (
        base.filter(
            (F.col("d") < F.lit("1997-12-01").cast("date"))
            & (F.col("k") % 97 != 0)
        )
        .select(
            "k",
            F.when((F.col("st") == "O") & (F.col("k") % 5 == 0), F.lit("F"))
            .otherwise(F.col("st"))
            .alias("st_b"),
            (
                F.col("cents")
                + F.when(F.col("k") % 11 == 0, F.lit(100)).otherwise(F.lit(0))
            ).alias("cents_b"),
        )
    )
    in_a = F.col("st_a").isNotNull() | F.col("cents_a").isNotNull()
    in_b = F.col("st_b").isNotNull() | F.col("cents_b").isNotNull()
    diff = snap_a.join(snap_b, "k", "full_outer").select(
        "k",
        F.when(~in_a, F.lit("added"))
        .when(~in_b, F.lit("removed"))
        .when(
            (F.col("st_a") != F.col("st_b"))
            | (F.col("cents_a") != F.col("cents_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
        F.when(in_a & in_b & (F.col("st_a") != F.col("st_b")), 1)
        .otherwise(0)
        .alias("status_diff"),
        F.when(in_a & in_b & (F.col("cents_a") != F.col("cents_b")), 1)
        .otherwise(0)
        .alias("price_diff"),
    )
    return diff.groupBy("change_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("status_diff").cast("long").alias("n_status_diff"),
        F.sum("price_diff").cast("long").alias("n_price_diff"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q169 — CUSUM change-point detection on daily revenue (drift monitor)
# ---------------------------------------------------------------------------


@register(
    "q169_revenue_cusum_changepoint",
    tags=("timeseries", "W2", "A1"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
c AS (
  SELECT d, cents,
    CAST(SUM(cents) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      - (ROW_NUMBER() OVER (ORDER BY d))
        * (SUM(cents) OVER () // COUNT(*) OVER ()) AS BIGINT) AS cusum_cents
  FROM daily
)
SELECT d, cents, cusum_cents,
  CAST(ABS(cusum_cents) AS BIGINT) AS abs_cusum_cents,
  CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cusum_cents) DESC, d) AS rnk
  FROM c
)
WHERE rnk <= 5
""",
)
def q169_revenue_cusum_changepoint(spark: SparkSession, sf_dir: str):
    """CUSUM change-point estimate over the daily revenue series — the
    standard drift monitor a pipeline puts on its own output tables
    (the day where the cumulative deviation from the global mean peaks
    is the classic single-change-point estimator; here the top-5
    |CUSUM| days are reported with their ranks).  Integer-exact:
    revenue folds to cents via DECIMAL, the mean is floored integer
    division, and CUSUM_t = running_sum_t − t·mean keeps every term a
    BIGINT, so both engines agree bit-for-bit.  Scale shape: the
    corpus-sized work is the one map-side-combined daily aggregate;
    every window after it runs over O(days) rows (the q051/q109
    precedent) — a deliberate collapse-then-window plan, not a global
    window over raw facts.  The daily aggregate is exactly the shape
    plans.incremental.incremental_rollup maintains, so the monitor can
    be served from a watermark-maintained table without re-reading
    facts (equivalence pinned in tests/test_pipeline_integration)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    return cusum_top_days(daily)


def cusum_top_days(daily: DataFrame, top: int = 5) -> DataFrame:
    """CUSUM tail of q169 over any (d, cents) daily series — shared by
    the direct query and the rollup-served drift monitor so the two
    paths cannot drift apart."""
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    daily = daily.withColumn(
        "mean_cents", F.expr("sum(cents) over () div count(1) over ()")
    )
    c = daily.select(
        "d",
        "cents",
        (
            F.sum("cents").over(w_run)
            - F.row_number().over(Window.orderBy("d")) * F.col("mean_cents")
        )
        .cast("long")
        .alias("cusum_cents"),
    )
    ranked = c.withColumn("abs_cusum_cents", F.abs("cusum_cents").cast("long")).withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("abs_cusum_cents"), "d"))
        .cast("int"),
    )
    return ranked.filter(F.col("rnk") <= top).select(
        "d", "cents", "cusum_cents", "abs_cusum_cents", "rnk"
    )


# ---------------------------------------------------------------------------
# q174 — point-in-time dimension join + leakage audit (feature-store PIT)
# ---------------------------------------------------------------------------


@register(
    "q174_point_in_time_join",
    tags=("M6", "J4", "W1", "A4"),
    oracle="""
WITH v AS (
  SELECT c_custkey, c_mktsegment AS segment,
    TIMESTAMP '1992-01-01' AS valid_from
  FROM customer
  UNION ALL
  SELECT c_custkey, 'MOVED', TIMESTAMP '1996-07-01'
  FROM customer WHERE c_custkey % 7 = 0
),
o AS (
  SELECT o_orderkey, o_custkey AS c_custkey, o_orderdate,
    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
pitj AS (
  SELECT o.o_orderkey, o.c_custkey, o.cents, v.segment,
    ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                       ORDER BY v.valid_from DESC) AS rn
  FROM o JOIN v ON v.c_custkey = o.c_custkey
               AND v.valid_from <= o.o_orderdate
),
pit AS (
  SELECT o_orderkey, c_custkey, cents, segment AS pit_segment
  FROM pitj WHERE rn = 1
),
cur AS (
  SELECT c_custkey, segment AS naive_segment FROM (
    SELECT c_custkey, segment,
      ROW_NUMBER() OVER (PARTITION BY c_custkey
                         ORDER BY valid_from DESC) AS rn
    FROM v
  ) WHERE rn = 1
)
SELECT p.pit_segment, c.naive_segment,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CASE WHEN p.pit_segment <> c.naive_segment
           THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
  CAST(SUM(p.cents) AS BIGINT) AS revenue_cents
FROM pit p JOIN cur c USING (c_custkey)
GROUP BY p.pit_segment, c.naive_segment
""",
)
def q174_point_in_time_join(spark: SparkSession, sf_dir: str):
    """Point-in-time (PIT) dimension join — the feature-store primitive
    that keeps training data leakage-free: every fact row must see the
    dimension version that was valid AT THE FACT'S OWN TIMESTAMP, never
    the current one (a naive latest-version join silently injects the
    future into features).  The SCD2 history is synthesized like q017's
    (every 7th customer changes segment mid-1996), facts are joined to
    it through the engine's asof_join — union + ONE key-partitioned
    window, no range-join explosion (q060's shape generalized to an
    SCD2 build side) — and the naive current-version join runs
    alongside; rows where the two disagree are the leakage a naive
    pipeline would have shipped, quantified per (pit, naive) segment
    pair with exact revenue cents.  Scale shape: one shuffle for the
    as-of, one window over the O(keys·versions) dimension for the
    naive side, one key-partitioned join to compare — every stage is
    partitioned on c_custkey, so the three stages can reuse one
    exchange layout under AQE."""
    from ..operators.temporal import asof_join

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    ts_type = dict(o.dtypes)["o_orderdate"]
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01 00:00:00").cast(ts_type).alias("valid_from"),
    )
    v2 = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("segment"),
        F.lit("1996-07-01 00:00:00").cast(ts_type).alias("valid_from"),
    )
    v = v1.unionByName(v2)
    facts = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    pit = asof_join(
        facts,
        v.select("c_custkey", "valid_from", "segment"),
        by=["c_custkey"],
        left_ts="o_orderdate",
        right_ts="valid_from",
        value_cols=["segment"],
    ).select(
        "o_orderkey", "c_custkey", "cents", F.col("segment").alias("pit_segment")
    )
    wv = Window.partitionBy("c_custkey").orderBy(F.desc("valid_from"))
    cur = (
        v.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("segment").alias("naive_segment"))
    )
    return (
        pit.join(cur, "c_custkey")
        .groupBy("pit_segment", "naive_segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                F.when(F.col("pit_segment") != F.col("naive_segment"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_leaky"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q176 — conversion attribution over a 7-day lookback (range-frame windows)
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "q176_click_attribution",
    tags=("W2", "A4", "timeseries"),
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_type, value, epoch_us(ts) AS us FROM events
),
w AS (
  SELECT user_id, ts, event_type, value, us,
    MAX(CASE WHEN event_type = 'click' THEN us END) OVER (
      PARTITION BY user_id ORDER BY us
      RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING AND CURRENT ROW)
      AS last_click_us,
    MIN(CASE WHEN event_type = 'click' THEN us END) OVER (
      PARTITION BY user_id ORDER BY us
      RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING AND CURRENT ROW)
      AS first_click_us
  FROM e
),
p AS (SELECT * FROM w WHERE event_type = 'purchase')
SELECT CAST(ts AS DATE) AS d,
  CAST(COUNT(*) AS BIGINT) AS n_purchases,
  CAST(SUM(CASE WHEN last_click_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_attributed,
  CAST(SUM(CASE WHEN first_click_us < last_click_us THEN 1 ELSE 0 END)
       AS BIGINT) AS n_multi_touch,
  CAST(SUM(CASE WHEN last_click_us IS NOT NULL
           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           ELSE 0 END) AS BIGINT) AS attr_revenue_cents,
  CAST(SUM(CASE WHEN last_click_us IS NOT NULL
           THEN (us - last_click_us) // 1000000 ELSE 0 END) AS BIGINT)
    AS total_gap_s
FROM p GROUP BY CAST(ts AS DATE)
""",
)
def q176_click_attribution(spark: SparkSession, sf_dir: str):
    """Conversion attribution with a bounded lookback — the
    marketing-analytics primitive: each purchase is attributed to the
    user's latest click within the prior 7 days (last-touch), with the
    earliest click in the same window distinguishing multi-touch
    journeys.  The lookback is a RANGE frame over event-time
    microseconds — value-based, so simultaneous events are frame peers
    under identical semantics on both engines (a ROWS frame would be
    partition-order-dependent).  Per purchase-day: attach counts,
    attributed revenue in exact cents, and the total click-to-purchase
    gap in whole seconds.  Scale shape: ONE user-partitioned window
    pass computes both touch points (users sort independently across
    the cluster), then a map-side-combined daily aggregate — the event
    stream shuffles exactly once."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ATTR_LOOKBACK_US, 0)
    )
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    marked = ev.select(
        "ts",
        "event_type",
        "value",
        "us",
        F.max(click_us).over(w).alias("last_click_us"),
        F.min(click_us).over(w).alias("first_click_us"),
    )
    p = marked.filter(F.col("event_type") == "purchase")
    attributed = F.col("last_click_us").isNotNull()
    return p.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.when(attributed, 1).otherwise(0)).cast("long").alias("n_attributed"),
        F.sum(
            F.when(F.col("first_click_us") < F.col("last_click_us"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_multi_touch"),
        F.sum(
            F.when(
                attributed,
                (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("attr_revenue_cents"),
        F.sum(
            F.when(
                attributed,
                F.expr("(us - last_click_us) div 1000000"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("total_gap_s"),
    )


# ---------------------------------------------------------------------------
# q183 — hierarchical taxonomy rollup (closed-form ancestor explode)
# ---------------------------------------------------------------------------

_TAXO_POWERS = [1, 7, 49, 343, 2401, 16807, 117649]


@register(
    "q183_part_taxonomy_rollup",
    tags=("A1", "A2", "J7"),
    oracle=f"""
WITH rev AS (
  SELECT l_partkey AS k,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
)
SELECT node_id,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(SUM(cents) AS BIGINT) AS subtree_revenue_cents
FROM (
  SELECT k, cents,
    unnest(list_distinct(list_transform(
      {_TAXO_POWERS}, d -> k // d))) AS node_id
  FROM rev
)
GROUP BY node_id
""",
)
def q183_part_taxonomy_rollup(spark: SparkSession, sf_dir: str):
    """Hierarchical rollup over a derived part taxonomy (node k's parent
    is k div 7, up to the root 0): every part's revenue is credited to
    ALL its ancestors.  For a fixed-depth hierarchy the scalable answer
    is NOT an iterative transitive closure — each row derives its full
    ancestor array CLOSED-FORM map-side (k div 7^i composes because
    integer division nests) and explodes it, so the whole rollup is one
    corpus aggregate, one explode of ≤ depth entries per part, and one
    small aggregate; zero joins, zero iterations (contrast with q037's
    min-label propagation, which is the right tool when edges are
    arbitrary).  Revenue stays DECIMAL→cents, counts per node are exact
    because the ancestor list is per-row DISTINCT (the 0-root repeats
    collapse)."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("k")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    # integer division in the transform lambda needs SQL `div`
    anc = rev.selectExpr(
        "cents",
        "explode(array_distinct(transform("
        f"array({', '.join(str(d) for d in _TAXO_POWERS)}),"
        " d -> k div d))) AS node_id",
    )
    return anc.groupBy("node_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("subtree_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# q184 — capped stock-balance fold (inventory with a floor at zero)
# ---------------------------------------------------------------------------


@register(
    "q184_stock_balance_fold",
    tags=("timeseries", "A1", "A5"),
    oracle="""
WITH daily AS (
  SELECT l_suppkey AS suppkey, CAST(l_shipdate AS DATE) AS d,
    CAST(SUM(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_quantity AS BIGINT)
             ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
  FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
),
series AS (
  SELECT suppkey,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(delta) AS BIGINT) AS raw_net_units,
    CAST(MIN(delta) AS BIGINT) AS max_daily_outflow,
    list(delta ORDER BY d) AS xs
  FROM daily GROUP BY suppkey
)
SELECT suppkey, n_days, raw_net_units, max_daily_outflow,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
       (acc, x) -> GREATEST(CAST(0 AS BIGINT), acc + x)) AS BIGINT)
    AS final_balance_units,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
       (acc, x) -> GREATEST(CAST(0 AS BIGINT), acc + x))
       - raw_net_units AS BIGINT) AS shortfall_units
FROM series
""",
)
def q184_stock_balance_fold(spark: SparkSession, sf_dir: str):
    """Inventory running balance FLOORED AT ZERO — the capped recurrence
    s_t = max(0, s_{t-1} + delta_t) that no linear window can express
    (the clamp makes each step depend on the clamped history, q166's
    non-linearity family).  Per supplier, returned units flow back in
    (+qty on returnflag 'R') and shipped units flow out (−qty); the
    fold is a strict per-group left fold over the day-ordered delta
    array with an explicit 0 seed (DuckDB list_prepend(0, xs) ≡ Spark
    aggregate's seed argument — pinning the seed convention both
    engines share).  shortfall_units = final − raw_sum is the exact
    total demand the floor refused — all BIGINT, engine-identical.
    Scale shape: the corpus-sized work is one map-side-combined
    (supplier, day) aggregate; each supplier then folds its own O(days)
    array row-locally."""
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("suppkey"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(
        F.sum(
            F.when(
                F.col("l_returnflag") == "R",
                F.col("l_quantity").cast("long"),
            ).otherwise(-F.col("l_quantity").cast("long"))
        )
        .cast("long")
        .alias("delta")
    )
    series = daily.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("delta").cast("long").alias("raw_net_units"),
        F.min("delta").cast("long").alias("max_daily_outflow"),
        F.array_sort(F.collect_list(F.struct("d", "delta"))).alias("arr"),
    )
    series = series.withColumn(
        "xs", F.transform(F.col("arr"), lambda s: s["delta"])
    )
    return series.select(
        "suppkey",
        "n_days",
        "raw_net_units",
        "max_daily_outflow",
        F.expr(
            "aggregate(xs, cast(0 as bigint),"
            " (acc, x) -> greatest(cast(0 as bigint), acc + x))"
        )
        .cast("long")
        .alias("final_balance_units"),
        F.expr(
            "aggregate(xs, cast(0 as bigint),"
            " (acc, x) -> greatest(cast(0 as bigint), acc + x))"
            " - raw_net_units"
        )
        .cast("long")
        .alias("shortfall_units"),
    )


# ---------------------------------------------------------------------------
# q185 — revenue bridge: volume vs price effect (exactly reconciling)
# ---------------------------------------------------------------------------


@register(
    "q185_revenue_bridge",
    tags=("A1", "A4", "J1"),
    oracle="""
WITH o AS (
  SELECT c.c_mktsegment AS segment,
    CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS y,
    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE EXTRACT(year FROM o.o_orderdate) IN (1996, 1997)
),
yr AS (
  SELECT segment,
    CAST(SUM(CASE WHEN y = 1996 THEN cents ELSE 0 END) AS BIGINT) AS rev1,
    CAST(SUM(CASE WHEN y = 1997 THEN cents ELSE 0 END) AS BIGINT) AS rev2,
    CAST(SUM(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN y = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM o GROUP BY segment
)
SELECT segment, rev1 AS rev1_cents, rev2 AS rev2_cents, n1, n2,
  CAST((n2 - n1) * rev1 // n1 AS BIGINT) AS volume_effect_cents,
  CAST(rev2 - rev1 - (n2 - n1) * rev1 // n1 AS BIGINT) AS price_effect_cents,
  CAST(rev2 - rev1 AS BIGINT) AS total_delta_cents
FROM yr WHERE n1 > 0
""",
)
def q185_revenue_bridge(spark: SparkSession, sf_dir: str):
    """Price/volume bridge — the BI decomposition every revenue review
    asks for: how much of the year-over-year delta came from MORE
    orders (volume) vs BIGGER orders (price/mix)?  volume_effect =
    (n2−n1)·avg1 with avg1 = rev1 div n1 kept as the single floored
    division (n2−n1)·rev1 div n1, and price_effect DEFINED as the
    remainder — so the two effects reconcile to the total delta
    EXACTLY, cent for cent, by construction (a floated decomposition
    never re-adds).  Scale shape: the customer dim joins broadcast, the
    year filter prunes the scan, and both years aggregate in one
    conditional pass (no self-join of two year slices)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    y = F.year("o_orderdate")
    j = (
        o.filter(y.isin(1996, 1997))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            y.alias("y"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    yr = j.groupBy("segment").agg(
        F.sum(F.when(F.col("y") == 1996, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev1"),
        F.sum(F.when(F.col("y") == 1997, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev2"),
        F.sum(F.when(F.col("y") == 1996, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("y") == 1997, 1).otherwise(0)).cast("long").alias("n2"),
    )
    return yr.filter(F.col("n1") > 0).select(
        "segment",
        F.col("rev1").alias("rev1_cents"),
        F.col("rev2").alias("rev2_cents"),
        "n1",
        "n2",
        F.expr("(n2 - n1) * rev1 div n1").cast("long").alias("volume_effect_cents"),
        F.expr("rev2 - rev1 - (n2 - n1) * rev1 div n1")
        .cast("long")
        .alias("price_effect_cents"),
        (F.col("rev2") - F.col("rev1")).cast("long").alias("total_delta_cents"),
    )


# ---------------------------------------------------------------------------
# q186 — growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@register(
    "q186_growth_accounting",
    tags=("W2", "A1", "timeseries"),
    oracle="""
WITH um AS (
  SELECT DISTINCT user_id,
    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS midx
  FROM events
),
lagged AS (
  SELECT user_id, midx,
    LAG(midx) OVER (PARTITION BY user_id ORDER BY midx) AS prev_midx
  FROM um
),
classified AS (
  SELECT midx,
    CASE WHEN prev_midx IS NULL THEN 'new'
         WHEN prev_midx = midx - 1 THEN 'retained'
         ELSE 'resurrected' END AS kind
  FROM lagged
),
churn AS (
  SELECT prev_midx + 1 AS midx, 'churned' AS kind
  FROM lagged WHERE prev_midx IS NOT NULL AND prev_midx < midx - 1
  UNION ALL
  -- users whose LAST active day precedes the corpus's final day
  SELECT last_midx + 1, 'churned' FROM (
    SELECT user_id, MAX(midx) AS last_midx FROM um GROUP BY user_id
  ), (SELECT MAX(midx) AS gmax FROM um)
  WHERE last_midx < gmax
),
allk AS (
  SELECT midx, kind FROM classified
  UNION ALL SELECT midx, kind FROM churn
)
SELECT midx,
  CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_retained,
  CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_resurrected,
  CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_churned
FROM allk GROUP BY midx
""",
)
def q186_growth_accounting(spark: SparkSession, sf_dir: str):
    """Growth accounting — the active-user decomposition (new +
    retained + resurrected − churned) every growth team reports, at
    daily grain: per user-day, a user is NEW on their first active day,
    RETAINED when active the day before, RESURRECTED after a gap;
    CHURNED is emitted into the day AFTER each activity gap begins (and
    after the final activity of users who fall silent before the corpus
    ends).  Days are the integer epoch-day index, so gap arithmetic is
    plain BIGINT.  Scale shape: the event stream collapses to distinct
    (user, day) FIRST (map-side combined — the only corpus-sized
    operation), the lag window partitions by user over O(active days)
    rows each, and churn emission is a filter + projection of the same
    lagged table — one shuffle on user, one tiny-key rollup."""
    ev = load(spark, sf_dir, "events")
    um = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("midx"),
        )
        .distinct()
    )
    wl = Window.partitionBy("user_id").orderBy("midx")
    lagged = um.withColumn("prev_midx", F.lag("midx").over(wl))
    classified = lagged.select(
        "midx",
        F.when(F.col("prev_midx").isNull(), "new")
        .when(F.col("prev_midx") == F.col("midx") - 1, "retained")
        .otherwise("resurrected")
        .alias("kind"),
    )
    churn_gap = lagged.filter(
        F.col("prev_midx").isNotNull() & (F.col("prev_midx") < F.col("midx") - 1)
    ).select((F.col("prev_midx") + 1).alias("midx"), F.lit("churned").alias("kind"))
    last = um.groupBy("user_id").agg(F.max("midx").alias("last_midx"))
    last = last.withColumn("gmax", F.expr("max(last_midx) over ()"))
    churn_tail = last.filter(F.col("last_midx") < F.col("gmax")).select(
        (F.col("last_midx") + 1).alias("midx"), F.lit("churned").alias("kind")
    )
    allk = classified.unionByName(churn_gap).unionByName(churn_tail)
    return allk.groupBy("midx").agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.sum(F.when(F.col("kind") == "churned", 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
    )


# ---------------------------------------------------------------------------
# q188 — pre-join hot-key probe (skew detector for self-joins)
# ---------------------------------------------------------------------------


@register(
    "q188_join_skew_probe",
    tags=("A1", "W1", "O3"),
    oracle="""
WITH cnt AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT l_partkey, n_rows,
    CAST(n_rows * (n_rows - 1) // 2 AS BIGINT) AS n_pairs,
    CAST(SUM(n_rows * (n_rows - 1) // 2) OVER () AS BIGINT) AS total_pairs
  FROM cnt
)
SELECT l_partkey, n_rows, n_pairs,
  CAST(n_pairs * 1000000 // total_pairs AS BIGINT) AS pairs_share_ppm,
  CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_partkey) AS rnk
  FROM tot
)
WHERE rnk <= 10
""",
)
def q188_join_skew_probe(spark: SparkSession, sf_dir: str):
    """Pre-join hot-key probe — the diagnosis you run BEFORE a
    self-join ships (q104's brand-affinity shape): a self-join on key k
    emits cnt·(cnt−1)/2 pairs per key, so one hot key can dominate the
    entire shuffle; this probe reports the top-10 keys by row count
    with their exact pair contribution and its share of ALL pairs in
    integer ppm — the number that decides between a plain join, salting
    (operators/scale.py), or a frequency cap.  Scale shape: one
    map-side-combined count per key, then windows over the already
    aggregated key table (O(keys) rows, q112's threshold-pre-cut
    precedent applies if even the key table is huge)."""
    li = load(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    tot = cnt.select(
        "l_partkey",
        "n_rows",
        F.expr("n_rows * (n_rows - 1) div 2").cast("long").alias("n_pairs"),
    ).withColumn("total_pairs", F.expr("sum(n_pairs) over ()").cast("long"))
    ranked = tot.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("n_rows"), "l_partkey"))
        .cast("int"),
    )
    return ranked.filter(F.col("rnk") <= 10).select(
        "l_partkey",
        "n_rows",
        "n_pairs",
        F.expr("n_pairs * 1000000 div total_pairs")
        .cast("long")
        .alias("pairs_share_ppm"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# q189 — forward as-of: next error after each purchase
# ---------------------------------------------------------------------------


@register(
    "q189_next_error_after_purchase",
    tags=("W2", "J4", "timeseries"),
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_type, epoch_us(ts) AS us FROM events
),
m AS (
  SELECT user_id, ts, event_type, us,
    MIN(CASE WHEN event_type = 'error' THEN us END) OVER (
      PARTITION BY user_id ORDER BY us
      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_err_us
  FROM e
),
p AS (SELECT * FROM m WHERE event_type = 'purchase')
SELECT CAST(ts AS DATE) AS d,
  CAST(COUNT(*) AS BIGINT) AS n_purchases,
  CAST(SUM(CASE WHEN next_err_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_followed,
  CAST(SUM(CASE WHEN next_err_us IS NOT NULL
           THEN (next_err_us - us) // 1000000 ELSE 0 END) AS BIGINT)
    AS total_gap_s,
  CAST(MAX(CASE WHEN next_err_us IS NOT NULL
           THEN (next_err_us - us) // 1000000 END) AS BIGINT) AS max_gap_s
FROM p GROUP BY CAST(ts AS DATE)
""",
)
def q189_next_error_after_purchase(spark: SparkSession, sf_dir: str):
    """FORWARD as-of join — the "next event after" lookup (pandas
    merge_asof direction='forward'; kdb aj's mirror): each purchase is
    matched to the user's NEAREST FOLLOWING error, the post-purchase
    failure-attribution primitive.  Runs through the engine's
    asof_join(direction='forward') — the same one-shuffle union+window
    plan as the backward direction, just over reversed time order — and
    the oracle proves the operator equals the independent
    min-over-following-RANGE-frame formulation (exact-timestamp peers
    included on both paths).  Per purchase-day: follow rate and exact
    whole-second gap totals.  Scale shape: one shuffle on user_id,
    aggregates map-side combined."""
    from ..operators.temporal import asof_join

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", F.unix_micros("ts").alias("us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "us"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("us").alias("err_us")
    )
    matched = asof_join(
        purchases,
        errors,
        by=["user_id"],
        left_ts="us",
        right_ts="err_us",
        value_cols=[],
        direction="forward",
    )
    followed = F.col("err_us_matched").isNotNull()
    return matched.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.when(followed, 1).otherwise(0)).cast("long").alias("n_followed"),
        F.sum(
            F.when(followed, F.expr("(err_us_matched - us) div 1000000")).otherwise(0)
        )
        .cast("long")
        .alias("total_gap_s"),
        F.max(F.when(followed, F.expr("(err_us_matched - us) div 1000000")))
        .cast("long")
        .alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# q191 — time-weighted average value per user (step-function integral)
# ---------------------------------------------------------------------------


@register(
    "q191_time_weighted_value",
    tags=("W2", "timeseries", "A5"),
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
    CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events
),
stepped AS (
  SELECT user_id, us, cents,
    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, cents) AS next_us
  FROM e
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_obs,
  CAST(SUM(next_us - us) AS BIGINT) AS total_dt_us,
  CAST(SUM(cents * (next_us - us)) // SUM(next_us - us) AS BIGINT)
    AS twap_cents,
  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS naive_mean_cents
FROM stepped
WHERE next_us IS NOT NULL
GROUP BY user_id
HAVING SUM(next_us - us) > 0
""",
)
def q191_time_weighted_value(spark: SparkSession, sf_dir: str):
    """Time-weighted average (TWAP) — the correct mean for a sampled
    step signal: each observation holds until the next one, so its
    weight is the gap duration, not 1 (sensor/telemetry/pricing series
    are never uniformly sampled; the naive mean over-weights bursts —
    reported alongside for the contrast).  The step integral is
    Σ value·Δt / Σ Δt with Δt in integer microseconds from ONE lead
    window per user, and value floored to integer cents first, so the
    whole integral is BIGINT (max gap ~month in µs × cents ≈ 1e17,
    inside the BIGINT range) and engine-exact.  Ties at the same
    microsecond order by (us, cents) so the lead chain is total.  Scale
    shape: one user-partitioned window, one hash aggregate — the event
    stream shuffles once."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value").cast("double") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "cents")
    stepped = ev.withColumn("next_us", F.lead("us").over(w)).filter(
        F.col("next_us").isNotNull()
    )
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(F.col("next_us") - F.col("us")).cast("long").alias("total_dt_us"),
            F.expr(
                "sum(cents * (next_us - us)) div sum(next_us - us)"
            )
            .cast("long")
            .alias("twap_cents"),
            F.expr("sum(cents) div count(1)").cast("long").alias("naive_mean_cents"),
        )
        .filter(F.col("total_dt_us") > 0)
    )


# ---------------------------------------------------------------------------
# q193 — ordered conversion funnel (sequential pattern over the event stream)
# ---------------------------------------------------------------------------


@register(
    "q193_signup_conversion_funnel",
    tags=("A1", "A4", "W2", "timeseries"),
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
),
s AS (
  SELECT user_id, MIN(us) AS s1 FROM e
  WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(us) AS v1 FROM e JOIN s USING (user_id)
  WHERE event_type = 'view' AND us > s1 GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(us) AS c1 FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND us > v1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(us) AS p1 FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND us > c1 GROUP BY e.user_id
)
SELECT CAST(make_timestamp(s1) AS DATE) AS cohort_day,
  CAST(COUNT(*) AS BIGINT) AS n_signed,
  CAST(COUNT(v1) AS BIGINT) AS n_viewed,
  CAST(COUNT(c1) AS BIGINT) AS n_clicked,
  CAST(COUNT(p1) AS BIGINT) AS n_purchased,
  CAST(SUM(CASE WHEN p1 IS NOT NULL THEN (p1 - s1) // 1000000 ELSE 0 END)
    AS BIGINT) AS total_conv_s,
  CAST(MAX(CASE WHEN p1 IS NOT NULL THEN (p1 - s1) // 1000000 END)
    AS BIGINT) AS max_conv_s
FROM s LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
  LEFT JOIN p USING (user_id)
GROUP BY cohort_day
""",
)
def q193_signup_conversion_funnel(spark: SparkSession, sf_dir: str):
    """Ordered-funnel / sequential-pattern matching (the MATCH_RECOGNIZE
    / windowFunnel class of query, absent from both the reference and
    vanilla Spark SQL): per user, find the earliest signup, then the
    earliest view STRICTLY AFTER it, then the earliest click after that,
    then the earliest purchase after that — greedy earliest-completion
    semantics, the standard funnel definition — and report per signup
    cohort day how far users got plus exact whole-second signup→purchase
    conversion time.  Spark side this is ONE shuffle: events group to
    their user, the per-user event list is array_sort'ed (total order:
    (us, event_type)) and a single JVM-side `aggregate` fold walks it
    carrying the 4-slot accumulator — sequential state that windows
    cannot express without one join per step.  The oracle takes the
    OPPOSITE plan on purpose (4 chained min-aggregate CTE joins), so
    agreement certifies the fold against an independent formulation.
    Scale: per-user lists are bounded by user activity, the fold is
    O(events) with no per-step rescan of the fact table (the oracle's
    plan reads events 4×; this one reads it once)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    arr = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "event_type"))).alias("evs")
    )
    folded = arr.select(
        "user_id",
        F.expr(
            """
            aggregate(
              evs,
              named_struct('s1', cast(null as bigint), 'v1', cast(null as bigint),
                           'c1', cast(null as bigint), 'p1', cast(null as bigint)),
              (acc, x) -> named_struct(
                's1', coalesce(acc.s1,
                        if(x.event_type = 'signup', x.us, cast(null as bigint))),
                'v1', coalesce(acc.v1,
                        if(x.event_type = 'view' and acc.s1 is not null
                           and x.us > acc.s1, x.us, cast(null as bigint))),
                'c1', coalesce(acc.c1,
                        if(x.event_type = 'click' and acc.v1 is not null
                           and x.us > acc.v1, x.us, cast(null as bigint))),
                'p1', coalesce(acc.p1,
                        if(x.event_type = 'purchase' and acc.c1 is not null
                           and x.us > acc.c1, x.us, cast(null as bigint)))))
            """
        ).alias("f"),
    ).filter(F.col("f.s1").isNotNull())
    return (
        folded.select(
            F.to_date(F.timestamp_micros(F.col("f.s1"))).alias("cohort_day"),
            "f.v1",
            "f.c1",
            "f.p1",
            F.expr("(f.p1 - f.s1) div 1000000").alias("conv_s"),
        )
        .groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signed"),
            F.count("v1").cast("long").alias("n_viewed"),
            F.count("c1").cast("long").alias("n_clicked"),
            F.count("p1").cast("long").alias("n_purchased"),
            F.sum(F.coalesce("conv_s", F.lit(0))).cast("long").alias("total_conv_s"),
            F.max("conv_s").cast("long").alias("max_conv_s"),
        )
    )


# ---------------------------------------------------------------------------
# q195 — rank-biased overlap between two part leaderboards
# ---------------------------------------------------------------------------

_RBO_K = 14  # truncation depth; lcm(1..14)·2^14 keeps the scan in BIGINT
_RBO_L = 360360  # lcm(1..14): every (L div d) below is exact


@register(
    "q195_rank_overlap_rbo",
    tags=("W2", "A1", "topk", "eval"),
    oracle=f"""
WITH rev AS (
  SELECT l_partkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS m
  FROM lineitem GROUP BY l_partkey
),
ra AS (
  SELECT l_partkey, r FROM (
    SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY m DESC, l_partkey) AS r
    FROM rev) WHERE r <= {_RBO_K}
),
qty AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS m
  FROM lineitem GROUP BY l_partkey
),
rb AS (
  SELECT l_partkey, r FROM (
    SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY m DESC, l_partkey) AS r
    FROM qty) WHERE r <= {_RBO_K}
),
pairs AS (
  SELECT GREATEST(ra.r, rb.r) AS mx FROM ra JOIN rb USING (l_partkey)
),
ov AS (
  SELECT t.d, CAST(COUNT(p.mx) AS BIGINT) AS overlap_d
  FROM generate_series(1, {_RBO_K}) t(d)
  LEFT JOIN pairs p ON p.mx <= t.d
  GROUP BY t.d
)
SELECT d, overlap_d,
  CAST(overlap_d * 1000000 // d AS BIGINT) AS agreement_ppm,
  CAST(SUM(overlap_d * ({_RBO_L} // d) * (1 << ({_RBO_K} - d)))
         OVER (ORDER BY d)
       * 1000000 // (CAST({_RBO_L} AS BIGINT) * (1 << {_RBO_K})) AS BIGINT)
    AS rbo_ppm
FROM ov
""",
)
def q195_rank_overlap_rbo(spark: SparkSession, sf_dir: str):
    """Rank-biased overlap (Webber et al. 2010) between two part
    leaderboards — revenue-ranked vs quantity-ranked — the top-weighted
    ranking-similarity metric an eval harness uses to compare retrieval
    or recommendation runs (q157's RRF fuses rankings; this SCORES how
    much two rankings agree).  RBO@k = Σ_{{d≤k}} (1-p)·p^(d-1)·|A_d∩B_d|/d;
    with p=1/2 each term is overlap_d/(d·2^d), and scaling by
    lcm(1..k)·2^k makes the whole prefix sum BIGINT-exact — reported per
    depth in integer ppm, alongside the raw overlap and per-depth
    agreement.  Ranking metrics stay DECIMAL (exact argsort; a DOUBLE
    sum could flip last-bit ties between engines); tiebreak partkey.
    Scale shape: two map-side-combined aggregates over lineitem, each
    topped with TakeOrdered (distributed top-k heap, NO single-partition
    sort of the part domain); everything after is a broadcast of 2·k
    rows and a 14-row window."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2))).alias("m")
    )
    qty = li.groupBy("l_partkey").agg(F.sum(dec("l_quantity", 18, 2)).alias("m"))

    def topk(df):
        cut = df.orderBy(F.desc("m"), F.asc("l_partkey")).limit(_RBO_K)
        return cut.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("m"), F.asc("l_partkey")))
        ).select("l_partkey", "r")

    ra, rb = topk(rev), topk(qty)
    pairs = ra.alias("a").join(rb.alias("b"), "l_partkey").select(
        F.greatest(F.col("a.r"), F.col("b.r")).alias("mx")
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    # overlap_d = |pairs with mx <= d| — a cumulative count. Histogram
    # the (at most k) pairs by mx, equi-join to the depth spine, and
    # prefix-sum: no theta join, so no BroadcastNestedLoopJoin in the
    # plan (the banned shape, even though both sides are O(k) here).
    hist = pairs.groupBy("mx").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ov = (
        depths.join(F.broadcast(hist), depths["d"] == hist["mx"], "left")
        .select("d", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("overlap_d", F.sum("c").over(w).cast("long"))
        .drop("c")
    )
    term = F.expr(
        f"overlap_d * ({_RBO_L} div d) * shiftleft(1, {_RBO_K} - cast(d as int))"
    )
    return (
        ov.withColumn("__cum", F.sum(term).over(w))
        .select(
            "d",
            "overlap_d",
            F.expr("overlap_d * 1000000 div d").cast("long").alias("agreement_ppm"),
            F.expr(f"__cum * 1000000 div ({_RBO_L}L * shiftleft(1, {_RBO_K}))")
            .cast("long")
            .alias("rbo_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q211 — out-of-orderness / watermark calibration audit
# ---------------------------------------------------------------------------


@register(
    "q211_watermark_lateness_audit",
    tags=("timeseries", "W1", "A4", "streaming-design"),
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm,
    CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day
  FROM events
)
SELECT day,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN hwm - us > 30 * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
    AS late_30s,
  CAST(SUM(CASE WHEN hwm - us > 300 * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
    AS late_5m,
  CAST(MAX(GREATEST(hwm - us, 0)) // 1000000 AS BIGINT) AS max_lateness_s
FROM e GROUP BY day
""",
)
def q211_watermark_lateness_audit(spark: SparkSession, sf_dir: str):
    """Watermark calibration input for the streaming operators
    (streaming/stateful.py, streaming/upsert.py): how out-of-order is
    the event stream, really?  Per user the high-water mark of event
    time runs along ARRIVAL order (event_id — the ingestion sequence);
    an event is late by (hwm − its event time).  Reported per event-time
    day: volume, events later than the 30 s and 5 min candidate
    watermarks (= rows a stream with that watermark would drop or
    side-output), and the worst lateness observed — exactly the numbers
    that pick `withWatermark`'s delay.  Scale shape: one shuffle to the
    user partition (the same keying the stateful operators use), then
    one hash aggregate to day grain; all integer-µs arithmetic."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"),
        F.to_date("ts").alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lateness = e.withColumn("hwm", F.max("us").over(w))
    return lateness.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("hwm") - F.col("us") > 30 * 1_000_000, 1).otherwise(0)
        ).cast("long").alias("late_30s"),
        F.sum(
            F.when(F.col("hwm") - F.col("us") > 300 * 1_000_000, 1).otherwise(0)
        ).cast("long").alias("late_5m"),
        F.expr("max(greatest(hwm - us, 0)) div 1000000")
        .cast("long")
        .alias("max_lateness_s"),
    )


# ---------------------------------------------------------------------------
# q212 — exact Gini concentration of customer revenue
# ---------------------------------------------------------------------------


@register(
    "q212_revenue_gini",
    tags=("A7", "W1", "ranking"),
    oracle="""
WITH r AS (
  SELECT o_custkey AS cust,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
rk AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, cust) AS i FROM r
),
t AS (SELECT COUNT(*) AS n, SUM(cents) AS total FROM r),
g AS (
  SELECT SUM((2 * i - (SELECT n FROM t) - 1) * cents) AS num FROM rk
)
SELECT CAST(t.n AS BIGINT) AS n_customers,
  CAST(t.total AS BIGINT) AS total_cents,
  CAST(g.num AS BIGINT) AS gini_num,
  -- num*1e6 exceeds BIGINT at scale: widen explicitly on BOTH engines
  CAST(CAST(g.num AS HUGEINT) * 1000000
       // (CAST(t.n AS HUGEINT) * t.total) AS BIGINT) AS gini_ppm
FROM t, g
""",
)
def q212_revenue_gini(spark: SparkSession, sf_dir: str):
    """Exact Gini coefficient of customer revenue concentration — the
    inequality number behind "do 20% of customers drive 80% of revenue"
    (the continuous twin of q117's ABC classes): with revenues sorted
    ascending and i the 1-based global rank, G = Σ(2i−n−1)·xᵢ /
    (n·Σxᵢ) — exact in integer cents, no Lorenz-curve floats.  The
    global rank comes from operators/ranking.with_global_rank
    (range-partitioned, q110 precedent — the part domain never sorts in
    one partition); ties break on customer id so both engines walk one
    total order.  Scale shape: one aggregate to customer grain, one
    range exchange for the rank, one scalar aggregate."""
    from ..operators.ranking import with_global_rank

    r = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg((F.sum(dec("o_totalprice", 12, 2)) * 100).cast("long").alias("cents"))
    )
    ranked = with_global_rank(
        r, [F.asc("cents"), F.asc("cust")], out="i", total_out="n"
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
        .cast("long")
        .alias("gini_num"),
    ).select(
        "n_customers",
        "total_cents",
        "gini_num",
        # num*1e6 exceeds BIGINT at scale (silent wrap): do the division
        # in decimal(38,0) and floor — num and denom are non-negative, so
        # floor == both engines' integer-division conventions
        F.floor(
            F.col("gini_num").cast("decimal(38,0)")
            * 1_000_000
            / (
                F.col("n_customers").cast("decimal(38,0)")
                * F.col("total_cents")
            )
        )
        .cast("long")
        .alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# q233 — deterministic sketch twin of q066 (the sketch path gets a
# hash-matching oracle; q066 keeps the built-in HLL++/KLL estimators)
# ---------------------------------------------------------------------------

_Q233_K = 64
_Q233_EDGES = geometric_edges(0.0078125, 512.0, bins_per_octave=2)


def _q233_oracle() -> str:
    k = _Q233_K
    edges = _Q233_EDGES
    arr = ", ".join(f"CAST('{e!r}' AS DOUBLE)" for e in edges)
    m = len(edges)
    rows = []
    for j in range(m + 1):
        lo = "CAST(NULL AS DOUBLE)" if j == 0 else f"CAST('{edges[j - 1]!r}' AS DOUBLE)"
        hi = f"CAST('{edges[j]!r}' AS DOUBLE)" if j < m else "CAST(NULL AS DOUBLE)"
        rows.append(f"({j}, {lo}, {hi})")

    def est(q: str) -> str:
        r = f"CAST(total AS DOUBLE) * CAST('{q}' AS DOUBLE)"
        return (
            f"MAX(CASE WHEN cum - cnt < {r} AND {r} <= cum THEN "
            f"lo + (hi - lo) * (({r} - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)) "
            "END)"
        )

    users_est = (
        f"CASE WHEN n < {k} THEN CAST(n AS DOUBLE) "
        f"ELSE CAST('{float(k - 1)!r}' AS DOUBLE) / "
        "(CAST(CAST(concat('0x', substr(hk, 1, 13)) AS BIGINT) AS DOUBLE) "
        f"/ CAST('{float(2**52)!r}' AS DOUBLE)) END"
    )
    return f"""
WITH d AS (
  SELECT DISTINCT event_type, md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
  FROM events
), rk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM d
), kagg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         MAX(CASE WHEN rk = {k} THEN h END) AS hk
  FROM rk WHERE rk <= {k} GROUP BY event_type
), binned AS (
  SELECT event_type,
         CAST(len(list_filter([{arr}], b -> value >= b)) AS INTEGER) AS bin
  FROM events
), sk AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY event_type, bin
), cum AS (
  SELECT event_type, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM sk
), edges(bin, lo, hi) AS (VALUES {", ".join(rows)}),
qs AS (
  SELECT event_type,
    {est("0.25")} AS p25_est,
    {est("0.5")} AS p50_est,
    {est("0.75")} AS p75_est,
    CAST(MAX(total) AS BIGINT) AS n_events
  FROM cum JOIN edges USING (bin)
  GROUP BY event_type
)
SELECT q.event_type, q.n_events,
  {users_est} AS users_est,
  q.p25_est, q.p50_est, q.p75_est
FROM qs q JOIN kagg k ON q.event_type = k.event_type
"""


from ..operators.sketch import kmv_estimate  # noqa: E402


@register(
    "q233_sketch_event_profile",
    tags=("A2", "A3", "sketch", "approx"),
    oracle=_q233_oracle(),
)
def q233_sketch_event_profile(spark: SparkSession, sf_dir: str):
    """Deterministic twin of q066's approximate event profile — the SAME
    questions (events per type, distinct users per type, value
    quartiles) answered by the engine's own cross-engine-deterministic
    sketches instead of Spark's built-in HLL++/KLL state: distinct
    users from a bottom-{k} KMV theta sketch (hash-order string
    comparisons, one exact 52-bit division — q139's machinery) and
    quartiles from the mergeable geometric-histogram sketch (q135's
    machinery; <=41% relative bin width at 2 bins/octave over the value
    range).  q066 stays rows-only BY DESIGN (approx_count_distinct /
    percentile_approx estimates are algorithm-specific and
    error-bound-tested instead), but with this twin the sketch PATH
    itself carries a hash-matching DuckDB oracle, so the driver
    certifies the full profile shape end to end.  Scale shape: two
    map-side-combined aggregates over the fact stream (KMV's grouped
    distinct + the histogram fold), then window walks over
    O(types x k + types x bins) sketch rows."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id", "value")
    ksk = kmv_sketch(ev, "user_id", k=_Q233_K, keys=("event_type",))
    users = kmv_estimate(ksk, k=_Q233_K, keys=("event_type",), est_col="users_est")
    # materialize the O(types x bins) sketch ONCE (q139's discipline):
    # both the count rollup and the quantile walk read it, and without
    # the checkpoint each would re-aggregate the fact stream
    hsk = histogram_sketch(
        ev, "value", _Q233_EDGES, keys=("event_type",)
    ).localCheckpoint(eager=True)
    quart = histogram_quantiles(
        hsk,
        _Q233_EDGES,
        {"p25_est": 0.25, "p50_est": 0.5, "p75_est": 0.75},
        keys=("event_type",),
    )
    counts = hsk.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_events")
    )
    return (
        counts.join(users, "event_type")
        .join(quart, "event_type")
        .select(
            "event_type", "n_events", "users_est", "p25_est", "p50_est", "p75_est"
        )
    )


q233_sketch_event_profile.__doc__ = q233_sketch_event_profile.__doc__.replace(
    "{k}", str(_Q233_K)
)
