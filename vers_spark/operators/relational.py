"""Relational substrate (SURVEY.md §2.E): scans, joins, aggregations, windows,
set ops, rollups, dedup — the host surface the vector/text operators compose
with. All Spark built-ins; every query here has a DuckDB oracle twin in
``ORACLE_SQL`` (same column names, same types).

Determinism discipline for the oracle hash-match:
- Money sums go through exact DECIMAL arithmetic (order-independent in both
  engines), then one final cast to DOUBLE. Plain double sums are only used
  where the addends are exactly representable (integer-valued quantities).
- Every top-k fixes a total order (ties broken by key).
- Timestamps are emitted as formatted strings (Spark session TZ pinned UTC).

Scale notes (100 TB): region/nation are broadcast (bounded cardinality);
customer/supplier/part joins stay shuffle joins with AQE skew handling;
filters are plain column predicates so they reach the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vers_spark.sources.tables import load_table

# Money expressions: exact decimal so the sum is order-independent.
_DEC = "decimal(12,2)"  # raw money / value columns
_PCT = "decimal(4,2)"  # discount / tax factors


def _money(col: str):
    return F.col(col).cast(_DEC)


def _pct(col: str):
    return F.col(col).cast(_PCT)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy → 8 aggregates → sort.

    The filter is a plain timestamp predicate → pushed to the parquet scan;
    the aggregate is a partial/final hash aggregate (map-side combine), the
    single shuffle is on the 2-column group key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    charge = disc_price * (F.lit(1).cast(_PCT) + _pct("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).cast("double").alias("avg_qty"),
            (F.sum(_money("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_pct("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + top-10 (TakeOrderedAndProject)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; region/nation broadcast (bounded
    cardinality — safe at any SF), fact-side joins shuffle with AQE."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight range filters (all pushed to the scan) + scalar agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_money("l_extendedprice") * _pct("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window — the load-bearing shape for every
    ANN top-k re-rank (SURVEY §2.C). Spark ≥3.5 pushes a WindowGroupLimit."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "rank_in_nation",
        )
    )


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotal + grand-total rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_money("o_totalprice")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


def q_customer_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join pair: per market segment, customers with vs without orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("activity", F.lit("active"))
    )
    without_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("activity", F.lit("inactive"))
    )
    return with_orders.unionByName(without_orders).select("c_mktsegment", "activity", "n_customers")


def q_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: nations with both customers and suppliers (INTERSECT) vs
    customer-only (EXCEPT), tagged and unioned."""
    cust_nations = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    sup_nations = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    both = cust_nations.intersect(sup_nations).withColumn("presence", F.lit("both"))
    cust_only = cust_nations.subtract(sup_nations).withColumn("presence", F.lit("customer_only"))
    return both.unionByName(cust_only)


def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows over the event stream: lag + running sum per user.

    Running sums accumulate in frame order (ts, event_id) — identical
    addition sequence in both engines, so doubles match bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number().over(w).alias("seq"),
        F.lag("value", 1).over(w).cast("double").alias("prev_value"),
        F.sum(F.col("value").cast(_DEC)).over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("double")
        .alias("running_value"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch analog (streaming twin in vers_spark.streaming):
    hourly counts + value sums per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def evt_hll_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour HyperLogLog distinct-user estimates PLUS the max-merged
    global sketch ('ALL' row) — the mergeability contract certified
    cross-engine: Spark derives the global registers by max-merging the
    per-hour register tables, while the DuckDB twin computes them directly
    from the raw cells; the hash match of the 'ALL' row IS the proof that
    max-merge of partials equals the sketch of the union (what lets hourly
    sketches roll up to day/month/total without re-scanning events at
    100 TB, and what the streaming twin stream_hll_merge relies on).
    Register machinery shared with doc_hll_distinct (md5-60bit base,
    bit_count trailing-zero rho — no ln/log2 anywhere); empty buckets enter
    the fixed-point sum via the closed form (m − n_nonzero)·2^SCALE instead
    of a per-hour 1024-row spine. Hourly rows can sit below the raw-
    estimate regime (small hours are biased — documented HLL behavior, the
    linear-counting branch needs ln); only the 'ALL' row is accuracy-gated
    in tests."""
    from vers_spark.functions.text import stable_hash60
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        HLL_M,
        HLL_P,
    )

    ev = load_table(spark, sf_dir, "events")
    h = stable_hash60(F.concat(F.lit("hu:"), F.col("user_id").cast("string")))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(_HLL_RHO_MAX)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    cells = ev.select(
        hour.alias("hour"),
        "user_id",
        (h % HLL_M).cast("int").alias("bucket"),
        rho.cast("int").alias("rho"),
    )
    regs = cells.groupBy("hour", "bucket").agg(F.max("rho").alias("register"))
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .select(F.lit("ALL").alias("hour"), "bucket", "register")
    )
    sum_term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - register)")
    zero_fill = (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << _HLL_SCALE)
    sums = (
        regs.unionByName(merged)
        .groupBy("hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nonzero"),
            (F.sum(sum_term) + zero_fill).cast("long").alias("sum_fp"),
        )
    )
    ex = (
        cells.groupBy("hour")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .unionByName(
            cells.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
            .select(F.lit("ALL").alias("hour"), "exact_users")
        )
    )
    return (
        sums.join(ex, "hour")
        .select(
            "hour",
            "n_nonzero",
            "sum_fp",
            (F.lit(_HLL_CONST) / F.col("sum_fp").cast("double")).alias("hll_users"),
            "exact_users",
        )
        .orderBy("hour")
    )


def evt_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hour SLIDING distinct-user estimates served from the hourly HLL
    register tables — the sketch-reuse contract: arbitrary window extents
    are answered by max-merging the per-hour partials (≤ 1024 rows each),
    never by re-scanning events; the exact twin must go back to the raw
    rows for every window (the count-distinct-over-sliding-windows problem
    HLL exists to solve — distinct counts don't decompose, sketches do).
    Windows are labeled by their END hour and span [end − 2h, end]; only
    hours present in the data anchor a window. Same closed-form
    fixed-point estimate as evt_hll_hourly; the DuckDB twin recomputes
    every window's registers from raw cells, so the hash match again
    certifies merge-equals-union rather than replaying Spark's dataflow."""
    from vers_spark.functions.text import stable_hash60
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        HLL_M,
        HLL_P,
    )

    ev = load_table(spark, sf_dir, "events")
    h = stable_hash60(F.concat(F.lit("hu:"), F.col("user_id").cast("string")))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(_HLL_RHO_MAX)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )
    cells = ev.select(
        F.date_trunc("hour", "ts").alias("hr"),
        "user_id",
        (h % HLL_M).cast("int").alias("bucket"),
        rho.cast("int").alias("rho"),
    )
    regs = cells.groupBy("hr", "bucket").agg(F.max("rho").alias("register"))
    hours = regs.select("hr").distinct()
    # every present hour anchors a window; member hours join by range —
    # the window spine is tiny (distinct hours), so it broadcasts
    win = hours.select(F.col("hr").alias("win_end")).join(
        regs,
        (F.col("hr") <= F.col("win_end"))
        & (F.col("hr") >= F.col("win_end") - F.expr("INTERVAL 2 HOURS")),
    )
    merged = win.groupBy("win_end", "bucket").agg(F.max("register").alias("register"))
    sum_term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - register)")
    zero_fill = (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << _HLL_SCALE)
    sums = merged.groupBy("win_end").agg(
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
        (F.sum(sum_term) + zero_fill).cast("long").alias("sum_fp"),
    )
    ex = (
        cells.select(F.col("hr").alias("win_end"))
        .distinct()
        .join(
            cells.select(F.col("hr").alias("m_hr"), "user_id"),
            (F.col("m_hr") <= F.col("win_end"))
            & (F.col("m_hr") >= F.col("win_end") - F.expr("INTERVAL 2 HOURS")),
        )
        .groupBy("win_end")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    )
    return (
        sums.join(ex, "win_end")
        .select(
            F.date_format("win_end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "n_nonzero",
            "sum_fp",
            (F.lit(_HLL_CONST) / F.col("sum_fp").cast("double")).alias("hll_users"),
            "exact_users",
        )
        .orderBy("win_end")
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED two-phase aggregation certified result-identical to the
    direct GROUP BY: events aggregate by event_type — a 5-value key, the
    textbook hot-key shape where a single-phase shuffle lands each key's
    ENTIRE volume on one reducer. Phase 1 groups by (event_type, salt) with
    salt = xxhash64(event_id) mod 32, spreading every hot key over 32
    reducers; phase 2 reduces the ≤ 5×32 partials. Every aggregate is
    salt-decomposable ARITHMETIC that stays exact: counts and DECIMAL sums
    add, min/max compose, the average is computed ONCE from the final
    (sum, count) — so the plan differs, the result provably doesn't, and
    the plain-GROUP-BY DuckDB twin is a full hash oracle FOR THE TECHNIQUE
    (what AQE skew handling does for joins, hand-rolled for aggregation;
    float sums would NOT survive this regrouping — the DECIMAL cast is
    what makes the two-phase sum legal, the same money-sum discipline as
    q1). Partial aggregation (map-side combine) already does this
    transparently per partition; explicit salting is the 100 TB tool for
    when the REDUCE side itself must fan out (e.g. high-cardinality state
    per key downstream of the combine)."""
    ev = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(32)).alias("salt")
    p1 = ev.groupBy(F.col("event_type"), salt).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).alias("sum_dec"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        p1.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            (F.sum("sum_dec").cast("double") / F.sum("n").cast("double")).alias(
                "avg_value"
            ),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
        .orderBy("event_type")
    )


ORACLE_SQL_SKEW = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


def evt_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA over per-cohort sketches: distinct users split by an
    event-type cohort (purchases vs the rest), with the union estimated by
    max-merge (the exact sketch contract) and the intersection by
    inclusion–exclusion est(A) + est(B) − est(A∪B) — the overlap/audience
    arithmetic sketches are deployed for (registers don't intersect;
    IE error grows as the true overlap shrinks, documented). One cells
    pass, two register tables + their merge, every estimate a single
    division of exact integers; exact counts alongside. Output: one row
    per set expression (A, B, union, intersect). The DuckDB twin builds
    A∪B's registers from the raw cell union, so the union row's hash match
    again certifies merge ≡ union; the intersect row is pure arithmetic on
    the other three (exact in both engines)."""
    from vers_spark.functions.text import stable_hash60
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        HLL_M,
        HLL_P,
    )

    ev = load_table(spark, sf_dir, "events")
    h = stable_hash60(F.concat(F.lit("hu:"), F.col("user_id").cast("string")))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(_HLL_RHO_MAX)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )
    cells = ev.select(
        F.when(F.col("event_type") == "purchase", "A").otherwise("B").alias("cohort"),
        "user_id",
        (h % HLL_M).cast("int").alias("bucket"),
        rho.cast("int").alias("rho"),
    )
    regs = cells.groupBy("cohort", "bucket").agg(F.max("rho").alias("register"))
    union_regs = (
        regs.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .select(F.lit("union").alias("cohort"), "bucket", "register")
    )
    sum_term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - register)")
    zero_fill = (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << _HLL_SCALE)
    sums = (
        regs.unionByName(union_regs)
        .groupBy("cohort")
        .agg((F.sum(sum_term) + zero_fill).cast("long").alias("sum_fp"))
        .select(
            "cohort", (F.lit(_HLL_CONST) / F.col("sum_fp").cast("double")).alias("est")
        )
    )
    ex = (
        cells.groupBy("cohort")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .unionByName(
            cells.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
            .select(F.lit("union").alias("cohort"), "exact_users")
        )
        .unionByName(
            cells.filter(F.col("cohort") == "A")
            .select("user_id")
            .intersect(cells.filter(F.col("cohort") == "B").select("user_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("exact_users"))
            .select(F.lit("intersect").alias("cohort"), "exact_users")
        )
    )
    # intersect estimate: one fixed-order expression over the three pivoted
    # estimates (inclusion–exclusion), exact double arithmetic both engines
    p = sums.groupBy().pivot("cohort", ["A", "B", "union"]).sum("est")
    inter = p.select(
        F.lit("intersect").alias("cohort"),
        (F.col("A") + F.col("B") - F.col("union")).alias("est"),
    )
    return (
        sums.unionByName(inter)
        .join(ex, "cohort")
        .select(F.col("cohort").alias("set_expr"), "est", "exact_users")
        .orderBy("set_expr")
    )


def _evt_hll_setops_oracle() -> str:
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        D_HASH60,
        HLL_M,
        HLL_P,
    )

    hash60 = D_HASH60.format(x="'hu:' || CAST(user_id AS VARCHAR)")
    est = f"{_HLL_CONST!r} / CAST(sum_fp AS DOUBLE)"
    return f"""
        WITH cells AS MATERIALIZED (
            SELECT CASE WHEN event_type = 'purchase' THEN 'A' ELSE 'B' END AS cohort,
                   user_id,
                   CAST(h % {HLL_M} AS INT) AS bucket,
                   CAST(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                        ELSE bit_count(((h >> {HLL_P}) & -(h >> {HLL_P})) - 1) + 1
                        END AS INT) AS rho
            FROM (SELECT event_type, user_id, ({hash60}) AS h FROM events)),
        regs AS (
            SELECT cohort, bucket, max(rho) AS register FROM cells GROUP BY cohort, bucket
            UNION ALL
            SELECT 'union', bucket, max(rho) FROM cells GROUP BY bucket),
        sums AS (
            SELECT cohort,
                   CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - register))
                        + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
                        AS BIGINT) AS sum_fp
            FROM regs GROUP BY cohort),
        ests AS (SELECT cohort, {est} AS est FROM sums),
        piv AS (SELECT
                    max(CASE WHEN cohort = 'A' THEN est END) AS ea,
                    max(CASE WHEN cohort = 'B' THEN est END) AS eb,
                    max(CASE WHEN cohort = 'union' THEN est END) AS eu
                FROM ests),
        all_ests AS (
            SELECT cohort, est FROM ests
            UNION ALL
            SELECT 'intersect', (ea + eb) - eu FROM piv),
        ex AS (
            SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM cells GROUP BY cohort
            UNION ALL
            SELECT 'union', CAST(count(DISTINCT user_id) AS BIGINT) FROM cells
            UNION ALL
            SELECT 'intersect', CAST(count(*) AS BIGINT) FROM (
                SELECT DISTINCT user_id FROM cells WHERE cohort = 'A'
                INTERSECT
                SELECT DISTINCT user_id FROM cells WHERE cohort = 'B'))
        SELECT e.cohort AS set_expr, e.est, x.exact_users
        FROM all_ests e JOIN ex x ON x.cohort = e.cohort
        ORDER BY set_expr
    """


def _evt_hll_sliding_oracle() -> str:
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        D_HASH60,
        HLL_M,
        HLL_P,
    )

    hash60 = D_HASH60.format(x="'hu:' || CAST(user_id AS VARCHAR)")
    # windows' registers recomputed from RAW cells per window — not from
    # per-hour partials — so the hash match certifies merge ≡ union
    return f"""
        WITH cells AS MATERIALIZED (
            SELECT date_trunc('hour', ts) AS hr, user_id,
                   CAST(h % {HLL_M} AS INT) AS bucket,
                   CAST(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                        ELSE bit_count(((h >> {HLL_P}) & -(h >> {HLL_P})) - 1) + 1
                        END AS INT) AS rho
            FROM (SELECT ts, user_id, ({hash60}) AS h FROM events)),
        hours AS (SELECT DISTINCT hr AS win_end FROM cells),
        win AS MATERIALIZED (
            SELECT w.win_end, c.user_id, c.bucket, c.rho
            FROM hours w JOIN cells c
              ON c.hr <= w.win_end AND c.hr >= w.win_end - INTERVAL 2 HOUR),
        regs AS (SELECT win_end, bucket, max(rho) AS register
                 FROM win GROUP BY win_end, bucket),
        sums AS (
            SELECT win_end, CAST(count(*) AS BIGINT) AS n_nonzero,
                   CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - register))
                        + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
                        AS BIGINT) AS sum_fp
            FROM regs GROUP BY win_end),
        ex AS (SELECT win_end, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
               FROM win GROUP BY win_end)
        SELECT strftime(s.win_end, '%Y-%m-%d %H:%M:%S') AS win_end,
               n_nonzero, sum_fp,
               {_HLL_CONST!r} / CAST(sum_fp AS DOUBLE) AS hll_users,
               exact_users
        FROM sums s JOIN ex USING (win_end)
        ORDER BY win_end
    """


def _evt_hll_oracle() -> str:
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        D_HASH60,
        HLL_M,
        HLL_P,
    )

    hash60 = D_HASH60.format(x="'hu:' || CAST(user_id AS VARCHAR)")
    # the global registers come straight from the raw cells — NOT from the
    # per-hour tables Spark merges — so the 'ALL' hash match certifies
    # max-mergeability, it doesn't just re-run the same dataflow
    return f"""
        WITH cells AS MATERIALIZED (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   user_id,
                   CAST(h % {HLL_M} AS INT) AS bucket,
                   CAST(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                        ELSE bit_count(((h >> {HLL_P}) & -(h >> {HLL_P})) - 1) + 1
                        END AS INT) AS rho
            FROM (SELECT ts, user_id, ({hash60}) AS h FROM events)),
        regs AS (
            SELECT hour, bucket, max(rho) AS register FROM cells GROUP BY hour, bucket
            UNION ALL
            SELECT 'ALL' AS hour, bucket, max(rho) AS register FROM cells GROUP BY bucket),
        sums AS (
            SELECT hour, CAST(count(*) AS BIGINT) AS n_nonzero,
                   CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - register))
                        + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
                        AS BIGINT) AS sum_fp
            FROM regs GROUP BY hour),
        ex AS (
            SELECT hour, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM cells GROUP BY hour
            UNION ALL
            SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM cells)
        SELECT s.hour, n_nonzero, sum_fp,
               {_HLL_CONST!r} / CAST(sum_fp AS DOUBLE) AS hll_users,
               exact_users
        FROM sums s JOIN ex USING (hour)
        ORDER BY hour
    """


def evt_zorder_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data clustering as a certified query: events are
    written ONCE Z-ORDERED by (user_id, unix_micros(ts)) — the Morton-key
    sort from sources/layout.py (the Delta/Iceberg Z-ORDER OPTIMIZE
    mechanism, pure codegen integer expressions) — then a user-range ×
    time-range aggregate runs against the store. Clustering makes every
    file's (user_id, ts) min/max footer stats a tight bounding box, so the
    conjunctive range predicate skips files/row groups on BOTH dimensions
    (a single-column sort only prunes one; the bounding-box tightness
    property is gated in tests/test_pipeline.py). Results are
    layout-invariant, so the DuckDB twin runs the same predicate on the
    raw events view — the hash oracle certifies the rewrite+read path end
    to end."""
    from vers_spark.operators._qcache import memo
    from vers_spark.sources.layout import write_zordered
    from vers_spark.streaming.events import scratch_dir

    ev = load_table(spark, sf_dir, "events")

    def build() -> str:
        path = scratch_dir("vs_zorder_") + "/events_z"
        write_zordered(ev, path, "user_id", "unix_micros(ts)", num_files=16)
        return path

    z = spark.read.parquet(memo(("zorder_store", sf_dir), build))
    ucap = ev.agg(F.max("user_id")).collect()[0][0] // 10
    return (
        z.filter(
            (F.col("user_id") <= ucap)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status (statuses enumerated)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
        )
    )


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations with
    count + money sum (NULL marks the rolled-up dimension, as in SQL)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_total"),
    )


def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders with at least one late
    lineitem (EXISTS with an inequality inside). The correlated EXISTS
    decorrelates to a left-semi join on orderkey; the inequality
    (l_shipdate > o_orderdate + 60 days) rides the join condition, so
    Catalyst keeps it an equi-semi-join with a post-filter — no cross
    product, and the orders scan prunes to the date window."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems below 50% of their part's
    average quantity, for one brand. The correlated scalar subquery
    (avg(l_quantity) per part) decorrelates into a per-part aggregate joined
    back on partkey — one extra shuffle over the filtered fact, never a
    per-row subquery. The brand filter broadcasts through the part dim."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
    avg_qty = branded.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    ).withColumnRenamed("l_partkey", "ak")
    return (
        branded.join(avg_qty, branded.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(_money("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single-order quantity total exceeds a
    threshold (groupBy + HAVING), joined back to order/customer detail and
    top-k'd. Aggregate-then-join keeps the HAVING filter on the small
    aggregated side before the detail join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (distinct from rollup/cube): (event_type),
    (dow), and grand total in one pass — Spark expands to a single Expand +
    one aggregate, not three scans."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        "event_type",
        F.date_format("ts", "EEEE").alias("dow"),
        F.col("value").cast(_DEC).alias("v"),
    ).createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(dow, 'ALL') AS dow,
               count(*) AS n_events,
               CAST(sum(v) AS DOUBLE) AS sum_value
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type), (dow), ())
        """
    )


def q_events_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window (distinct surface from the ROWS frames in
    q_events_user_stats): per user, count and value-sum of events in the
    trailing 1-hour interval ending at each event. One shuffle on user_id;
    the frame scan is a single ordered pass per partition."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        # ts is TIMESTAMP_NTZ in the driver parquet; Spark 4 forbids a direct
        # NTZ→BIGINT cast, so hop through TIMESTAMP to get epoch seconds
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("sum_trailing_1h"),
    )


def q_doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont) of document length
    per language — the quality-threshold calibration query of a curation
    pipeline. Exact percentiles need a per-group sort; at 100 TB you switch
    to approx_percentile (t-digest, one pass, mergeable) and accept the
    documented error bound."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars)").alias("p50"),
            F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars)").alias("p90"),
            F.expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY n_chars)").alias("p99"),
        )
        .orderBy("lang")
    )


def evt_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier detection on a robust threshold: events whose value
    exceeds the user's own p95 (percentile_cont — quantile thresholds stay
    deterministic cross-engine, unlike mean/stddev whose float summation is
    order-dependent). Two aggregates on user_id plus a broadcast join of
    the tiny per-user threshold table back onto events; at 100 TB the p95
    switches to approx_percentile (mergeable t-digest) with the same plan."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    p = ev.groupBy("user_id").agg(
        F.expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    joined = ev.join(F.broadcast(p), "user_id")
    return joined.groupBy("user_id").agg(
        F.max("p95").alias("p95"),
        F.max("n_events").alias("n_events"),
        F.sum((F.col("value") > F.col("p95")).cast("long")).alias("n_outliers"),
    )


def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust anomaly detection via MEDIAN ABSOLUTE DEVIATION —
    the breakdown-point-0.5 classic that mean/stddev z-scores can't give
    (one large outlier inflates the stddev and hides itself; the median
    and MAD ignore half the data going bad). Two percentile rounds: the
    per-user median, joined back (broadcast — the threshold table is one
    row per user) to aggregate median(|value − med|), then events with
    |value − med| > 3·1.4826·MAD are counted as anomalies (1.4826 = the
    normal-consistency constant, embedded as one shared literal).
    percentile_cont interpolation, abs, and the single multiply are all
    correctly-rounded — engine-exact where stddev-based scoring could
    never hash-match. MAD = 0 (over half the user's values identical)
    disables the rule for that user rather than flagging everything —
    emitted as a separate count so the degenerate case is visible."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)").alias("med"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    dev = ev.join(F.broadcast(med), "user_id").select(
        "user_id", "med", "n_events", F.abs(F.col("value") - F.col("med")).alias("ad"),
        "value",
    )
    mad = dev.groupBy("user_id").agg(
        F.max("med").alias("med"),
        F.max("n_events").alias("n_events"),
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ad)").alias("mad"),
    )
    thr = F.lit(3.0) * (F.lit(1.4826) * F.col("mad"))
    flagged = (
        ev.join(F.broadcast(mad), "user_id")
        .select(
            "user_id",
            "med",
            "mad",
            "n_events",
            (
                (F.col("mad") > 0.0)
                & (F.abs(F.col("value") - F.col("med")) > thr)
            ).cast("long").alias("is_anom"),
        )
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.max("n_events").alias("n_events"),
            F.sum("is_anom").cast("long").alias("n_anomalies"),
            F.max((F.col("mad") == 0.0).cast("int")).alias("mad_degenerate"),
        )
    )
    return flagged.orderBy("user_id")


ORACLE_SQL_MAD = """
    WITH med AS (
        SELECT user_id,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ),
    mad AS (
        SELECT e.user_id, max(m.med) AS med, max(m.n_events) AS n_events,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (user_id)
        GROUP BY e.user_id
    )
    SELECT e.user_id, max(m.med) AS med, max(m.mad) AS mad,
           CAST(max(m.n_events) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN m.mad > 0.0
                         AND abs(e.value - m.med) > 3.0 * (1.4826 * m.mad)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           CAST(max(CASE WHEN m.mad = 0.0 THEN 1 ELSE 0 END) AS INT) AS mad_degenerate
    FROM events e JOIN mad m USING (user_id)
    GROUP BY e.user_id
    ORDER BY e.user_id
"""


def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event, × the weeks they were active, with distinct-user counts —
    the activity-matrix query behind every retention chart. Two aggregates:
    per-user first-seen (partial/final on user_id), then a distinct count
    per (cohort_week, active_week) after a broadcast join of the tiny
    per-user cohort table. Weeks via date_trunc('week') — ISO Monday in
    both engines; emitted as DATE-formatted strings for a stable hash."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("active_week")
    ).distinct()
    return (
        active.join(F.broadcast(first), "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_users"))
        .orderBy("cohort_week", "active_week")
    )


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch surface — the one-pass mergeable scale variants of the exact
    queries above: HyperLogLog++ distinct users (vs the shuffle-heavy exact
    countDistinct) and t-digest percentiles (vs the per-group sort of
    percentile_cont). Rows-only: sketch internals are engine-specific, so no
    cross-engine hash — accuracy is gated in tests against the exact twins.
    At 100 TB these are the defaults; the exact forms are the oracles."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000).alias("value_pcts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "approx_users",
            F.round(F.element_at("value_pcts", 1), 4).alias("p50"),
            F.round(F.element_at("value_pcts", 2), 4).alias("p90"),
            F.round(F.element_at("value_pcts", 3), 4).alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured: parse the props JSON column, aggregate the extracted
    field per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Needs the nation dim twice (supplier side + customer side) — two
    broadcast joins of the same bounded table under different aliases; the
    disjunctive nation-pair predicate is applied after both joins, but each
    alias is pre-filtered to the two nations so the fact rows that survive
    the broadcast joins are already the minimal set. Fact-side joins stay
    shuffle joins keyed on orderkey/suppkey/custkey (AQE handles skew)."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("supp_nkey"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cust_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_supp), sup.s_nationkey == F.col("supp_nkey"))
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cust_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. Date + returnflag filters push to the two fact scans; the final
    top-k is a TakeOrderedAndProject (no global sort materialization)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted — no partsupp table): parts whose lineitem
    revenue exceeds 0.1% of global revenue. The global-total scalar subquery
    is a 1-row aggregate crossJoin-broadcast back onto the per-part
    aggregate — two passes over the same shuffled aggregate, never a per-row
    subquery. Sums are exact DECIMAL (order-independent), compared in
    double after identical casts on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(revenue).alias("v_dec"))
    total = per_part.agg(F.sum("v_dec").cast("double").alias("total_v"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("v_dec").cast("double") > 0.001 * F.col("total_v"))
        .select("l_partkey", F.col("v_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q_customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact-rank decile segmentation over customers — the direct
    oracle certification of the DISTRIBUTED RANK primitive
    (temporal.global_row_number: range partition + local row_number +
    broadcast offsets; temporal._ntile_of_rank: SQL ntile(k) as integer
    arithmetic on the rank). The ntile(10) oracle runs as one unpartitioned
    window in DuckDB; the Spark side never moves the table through a
    single-partition exchange — the same plan discipline evt_rfm_segments
    ships, here on a fresh table/key so the primitive is certified
    standalone. Output: decile → customer count, balance sum (×100
    fixed-point BIGINT), min/max global rank."""
    from vers_spark.operators.temporal import _ntile_of_rank, global_row_number

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("_bal")
    )
    ranked = global_row_number(
        cust, F.desc("_bal"), F.asc("c_custkey"), out="_rk"
    )
    tot = cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "_bal",
            "_rk",
            _ntile_of_rank(F.col("_rk"), F.col("_n"), 10).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("_bal") * 100).cast("long").alias("bal_fp"),
            F.min("_rk").cast("long").alias("min_rank"),
            F.max("_rk").cast("long").alias("max_rank"),
        )
        .orderBy("decile")
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer, keeping
    zero-order customers via LEFT OUTER join (the join-condition filter on
    orders must NOT drop unmatched customers — filter-before-join preserves
    the outer semantics). Two aggregations: per-customer count, then
    count-of-counts; both shuffle on small keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month — conditional
    aggregate ratio. Both sums are exact DECIMAL then cast to double, so the
    final division is one double op with identical operands in any engine.
    Only p_type is needed from part: project before the join so the shuffle
    carries two columns."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(_DEC))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_dec"),
            F.sum(revenue).cast("double").alias("total_dec"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            (F.lit(100.0) * F.col("promo_dec") / F.col("total_dec")).alias("promo_pct"),
            "n_items",
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    aggregate, then select rows equal to the aggregate's max (ties all
    returned, as in the spec). Equality is tested on the exact DECIMAL sum
    (order-independent), so Spark and the oracle agree bit-for-bit; the max
    is a 1-row broadcast, not a correlated subquery."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("rev_dec"))
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    with a NOT IN exclusion list. NOT IN over a non-null key compiles to a
    left-anti join (broadcast — the exclusion list is small); countDistinct
    adds a second shuffle keyed on the group key + suppkey, which AQE
    coalesces at small SF."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(excluded), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    Catalyst extracts the common `p_partkey = l_partkey` equi-condition so
    the join stays hash-based (never a cross product), and pushes the
    per-side conjuncts (`p_brand IN (...)`, quantity bounds) below the join
    as scan filters derived from the disjunction."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#10")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    return joined.filter(clause).agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted — no phone column): per nation, customers
    with above-average positive balance and no orders. The global-average
    scalar subquery is computed as exact DECIMAL sum / count then one double
    division (order-independent, engine-identical) and broadcast; the "no
    orders" NOT EXISTS is a left-anti join against the orders key column
    only."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_money("c_acctbal")).cast("double").alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


def q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — no partsupp): for each size-5 part, the
    supplier rows selling it at the groupwise-minimum price. The correlated
    MIN subquery decorrelates to a per-part aggregate joined back on
    partkey + price equality (min over doubles is order-independent, so
    equality is exact). Two shuffles on partkey; ties all returned."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 5).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    sized = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    min_price = sized.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        sized.join(
            min_price,
            (sized.l_partkey == F.col("mk"))
            & (sized.l_extendedprice == F.col("min_price")),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_extendedprice").cast("double").alias("price"),
        )
        .orderBy("l_partkey", "l_suppkey")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of regional PROMO revenue
    per year — conditional-sum ratio inside a 7-table star join. Both the
    numerator and denominator are exact DECIMAL sums cast to double before
    the one division; nation/region dims broadcast twice (supplier side vs
    customer-region side) under different aliases."""
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_regionkey")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_regionkey") == 1)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    volume = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation_s), sup.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("c_regionkey") == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(target).cast("double").alias("nation_volume"),
            F.sum(volume).cast("double").alias("total_volume"),
        )
        .select(
            "o_year",
            (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
            "total_volume",
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — no partsupp.supplycost: cost proxy is
    p_retailprice/10 per unit): profit by supplier nation × order year for
    parts named like '%widget%'. The profit expression mixes two DECIMAL
    products before one exact sum; the name filter prunes the part dim
    before its broadcast."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = _money("l_extendedprice") * (F.lit(1).cast(_PCT) - _pct("l_discount")) - (
        F.col("l_quantity").cast(_DEC) * _money("p_retailprice") / F.lit(10).cast("decimal(3,0)")
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted — no l_shipmode: classified by returnflag):
    among lineitems shipped > 90 days after their order date, count
    high-priority vs other orders per class — the two-way CASE-sum
    classification. The date inequality rides the join condition."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted — no partsupp.availqty): suppliers that
    shipped more than 30 units of at least one PROMO part — a nested
    semi-join chain (supplier IN (aggregate-HAVING subquery over
    lineitem ⋈ part)). The inner aggregate shuffles on the compound
    (suppkey, partkey) key; the outer membership is a left-semi join."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    bulk = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
    )
    return (
        sup.join(bulk, sup.s_suppkey == bulk.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted — lateness is shipdate > orderdate + 60
    days): suppliers who were the ONLY late supplier on a multi-supplier
    order. The spec's EXISTS/NOT-EXISTS pair decorrelates to one per-order
    aggregate — distinct suppliers vs distinct LATE suppliers — keeping the
    orders that had >1 supplier but exactly 1 late one; this is the
    aggregate form a distributed engine prefers over two correlated
    traversals of lineitem (identical result, one shuffle on orderkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier")
    tagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("late"),
    )
    per_order = tagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    return (
        blamed.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(sup, F.col("late_supp") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


def q_customer_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-analytic windows (surface distinct from ranking/frames
    elsewhere): ntile quartiles, percent_rank, cume_dist per market segment.
    percent_rank/cume_dist are integer-ratio doubles — engine-identical.
    One shuffle on the segment key; single ordered pass per partition."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


ORACLE_SQL: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               CAST(sum(l_quantity) / count(*) AS DOUBLE) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_revenue_by_nation": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q6_forecast_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q_top_customers_per_nation": """
        SELECT n_name, c_custkey, c_name,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal,
               rank_in_nation
        FROM (
            SELECT n_name, c_custkey, c_name, c_acctbal,
                   row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_nation
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        )
        WHERE rank_in_nation <= 3
    """,
    "q_rollup_orders": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "q_customer_order_activity": """
        SELECT c_mktsegment, 'active' AS activity, count(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT c_mktsegment, 'inactive' AS activity, count(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "q_nation_presence": """
        SELECT nationkey, 'both' AS presence FROM (
            SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
            INTERSECT
            SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        )
        UNION ALL
        SELECT nationkey, 'customer_only' AS presence FROM (
            SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
            EXCEPT
            SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        )
    """,
    "q_events_user_stats": """
        SELECT event_id, user_id, event_type,
               row_number() OVER w AS seq,
               CAST(lag(value, 1) OVER w AS DOUBLE) AS prev_value,
               CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "q_events_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
    """,
    "evt_zorder_range_scan": """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE user_id <= (SELECT max(user_id) // 10 FROM events)
          AND ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY event_type
    """,
    "q_orders_pivot_status": """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
        FROM orders
        GROUP BY o_orderpriority
    """,
}

ORACLE_SQL["q_orders_cube"] = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

ORACLE_SQL["q_events_props_json"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           max(k) AS max_k,
           CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
    GROUP BY event_type
"""

ORACLE_SQL["q4_late_orders"] = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLE_SQL["q17_small_quantity_revenue"] = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_qty_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < 0.5 * (
        SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
      )
"""

ORACLE_SQL["q18_large_volume_customers"] = """
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) big
    JOIN orders ON big.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
"""

ORACLE_SQL["q_events_grouping_sets"] = """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(dow, 'ALL') AS dow,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS DOUBLE) AS sum_value
    FROM (SELECT event_type, strftime(ts, '%A') AS dow,
                 CAST(value AS DECIMAL(12,2)) AS v FROM events)
    GROUP BY GROUPING SETS ((event_type), (dow), ())
"""

ORACLE_SQL["q_events_range_window"] = """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

ORACLE_SQL["evt_retention_cohorts"] = """
    WITH first AS (
        SELECT user_id, strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week
        FROM events GROUP BY user_id
    ), active AS (
        SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS active_week
        FROM events
    )
    SELECT f.cohort_week, a.active_week,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY f.cohort_week, a.active_week
    ORDER BY f.cohort_week, a.active_week
"""

ORACLE_SQL["evt_value_outliers"] = """
    WITH p AS (
        SELECT user_id,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           max(p.p95) AS p95,
           CAST(max(p.n_events) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN p USING (user_id)
    GROUP BY e.user_id
"""

ORACLE_SQL["q_doc_length_percentiles"] = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY n_chars) AS p99
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""

_REV_DEC = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)

ORACLE_SQL["q7_volume_shipping"] = f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               {_REV_DEC} AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""

ORACLE_SQL["q10_returned_items"] = f"""
    SELECT c_custkey, c_name,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           n_name,
           CAST(sum({_REV_DEC}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""

ORACLE_SQL["q11_part_value_concentration"] = f"""
    SELECT l_partkey, CAST(v_dec AS DOUBLE) AS part_value
    FROM (SELECT l_partkey, sum({_REV_DEC}) AS v_dec FROM lineitem GROUP BY l_partkey)
    WHERE CAST(v_dec AS DOUBLE) > 0.001 * (
        SELECT CAST(sum({_REV_DEC}) AS DOUBLE) FROM lineitem
    )
    ORDER BY part_value DESC, l_partkey
"""

ORACLE_SQL["q13_customer_distribution"] = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""

ORACLE_SQL["q14_promo_revenue"] = f"""
    SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_DEC}
                                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(sum({_REV_DEC}) AS DOUBLE) AS promo_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
"""

ORACLE_SQL["q15_top_supplier"] = f"""
    WITH rev AS (
        SELECT l_suppkey, sum({_REV_DEC}) AS rev_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
    ORDER BY s_suppkey
"""

ORACLE_SQL["q16_supplier_count"] = """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLE_SQL["q19_disjunctive_revenue"] = f"""
    SELECT CAST(sum({_REV_DEC}) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""

ORACLE_SQL["q22_idle_rich_customers"] = """
    SELECT CAST(c_nationkey AS INT) AS c_nationkey,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""

ORACLE_SQL["q2_cheapest_supplier"] = """
    SELECT l_partkey, l_suppkey, CAST(l_extendedprice AS DOUBLE) AS price
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size = 5
      AND l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        JOIN part p2 ON l2.l_partkey = p2.p_partkey
        WHERE p2.p_size = 5 AND l2.l_partkey = lineitem.l_partkey
      )
    ORDER BY l_partkey, l_suppkey
"""

ORACLE_SQL["q8_market_share"] = f"""
    SELECT year(o_orderdate) AS o_year,
           CAST(sum(CASE WHEN n1.n_name = 'NATION_1' THEN {_REV_DEC}
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(sum({_REV_DEC}) AS DOUBLE) AS mkt_share,
           CAST(sum({_REV_DEC}) AS DOUBLE) AS total_volume
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    WHERE p_type = 'PROMO'
      AND r_regionkey = 1
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o_year
    ORDER BY o_year
"""

ORACLE_SQL["q9_product_profit"] = """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    - CAST(CAST(l_quantity AS DECIMAL(12,2))
                           * CAST(p_retailprice AS DECIMAL(12,2))
                           / CAST(10 AS DECIMAL(3,0)) AS DECIMAL(18,6))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY n_name, o_year DESC
"""

ORACLE_SQL["q12_priority_classes"] = """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

ORACLE_SQL["q20_bulk_suppliers"] = """
    SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 30
    )
    ORDER BY s_suppkey
"""

ORACLE_SQL["q21_sole_late_supplier"] = """
    WITH tagged AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
               max(CASE WHEN late THEN l_suppkey END) AS late_supp
        FROM tagged GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_order JOIN supplier ON late_supp = s_suppkey
    WHERE n_supp > 1 AND n_late_supp = 1
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey
    LIMIT 20
"""

ORACLE_SQL["q_customer_value_windows"] = """
    SELECT c_custkey, c_mktsegment,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""

def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.pagerank_fixed) over the
    supplier⇄customer interaction graph (symmetric edges from lineitem ⋈
    orders): top-20 most central nodes. Pure integer arithmetic per
    iteration, so the 5 unrolled rounds hash-match the DuckDB oracle
    exactly — an ITERATIVE algorithm under the exact-correctness gate, the
    class rows-only checks usually concede."""
    from vers_spark.operators.graph import PR_TOPK, pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ranks = pagerank_fixed(edges)
    return ranks.orderBy(F.desc("score"), F.asc("node")).limit(PR_TOPK)


def _pagerank_oracle() -> str:
    from vers_spark.operators.graph import PR_ITERS, PR_TOPK, PR_UNIT

    base = 15 * PR_UNIT // 100
    sql = f"""
        WITH pairs AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                                       'c' || CAST(o_custkey AS VARCHAR) AS dst
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
        it0 AS (SELECT node, CAST({PR_UNIT} // (SELECT n FROM meta) AS BIGINT) AS score FROM nodes)
    """
    for i in range(1, PR_ITERS + 1):
        sql += f"""
        , it{i} AS (
            SELECT nd.node,
                   CAST(({base} // (SELECT n FROM meta))
                        + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS score
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, CAST(sum(r.score // o.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it{i - 1} r ON r.node = e.src
                             JOIN outdeg o ON o.src = e.src
                GROUP BY e.dst
            ) s ON s.node = nd.node)
        """
    sql += f"SELECT node, score FROM it{PR_ITERS} ORDER BY score DESC, node ASC LIMIT {PR_TOPK}"
    return sql


ORACLE_SQL["graph_pagerank_topk"] = _pagerank_oracle()


def graph_hits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.hits_fixed) over the
    DIRECTED supplier→customer purchase graph: hub suppliers are those
    selling to well-connected customers, authority customers those buying
    from hub suppliers — the mutually-recursive centrality PageRank's
    single score can't express (and on this bipartite graph symmetric
    PageRank degenerates to degree counting). Integer fixed-point with L1
    renormalization each half-round, so the 4 unrolled rounds hash-match
    the DuckDB CTE twin exactly. Output: top-10 per role."""
    from vers_spark.operators.graph import hits_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    hits = hits_fixed(edges).localCheckpoint(eager=False)
    hubs = (
        hits.orderBy(F.desc("hub"), F.asc("node"))
        .limit(10)
        .select("node", F.lit("hub").alias("role"), F.col("hub").alias("score"))
    )
    auths = (
        hits.orderBy(F.desc("auth"), F.asc("node"))
        .limit(10)
        .select("node", F.lit("authority").alias("role"), F.col("auth").alias("score"))
    )
    return hubs.unionByName(auths).orderBy("role", F.desc("score"), F.asc("node"))


def _hits_oracle() -> str:
    from vers_spark.operators.graph import HITS_ITERS, HITS_UNIT

    sql = f"""
        WITH edges AS MATERIALIZED (
            SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                            'c' || CAST(o_custkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        h0 AS MATERIALIZED (
            SELECT node, CAST({HITS_UNIT} // (SELECT n FROM meta) AS BIGINT) AS score
            FROM nodes)
    """
    for i in range(1, HITS_ITERS + 1):
        for tag, prev, key, other in (
            (f"a{i}", f"h{i - 1}", "src", "dst"),
            (f"h{i}", f"a{i}", "dst", "src"),
        ):
            sql += f"""
        , {tag}_raw AS MATERIALIZED (
            SELECT nd.node, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
            FROM nodes nd LEFT JOIN (
                SELECT e.{other} AS node, CAST(sum(p.score) AS BIGINT) AS raw
                FROM edges e JOIN {prev} p ON p.node = e.{key}
                GROUP BY e.{other}
            ) s ON s.node = nd.node)
        , {tag} AS MATERIALIZED (
            SELECT node, CAST((raw * {HITS_UNIT})
                // (SELECT CAST(sum(raw) AS BIGINT) FROM {tag}_raw) AS BIGINT) AS score
            FROM {tag}_raw)
            """
    last_a, last_h = f"a{HITS_ITERS}", f"h{HITS_ITERS}"
    sql += f"""
        SELECT node, role, score FROM (
            SELECT node, 'hub' AS role, score,
                   row_number() OVER (ORDER BY score DESC, node ASC) AS rn
            FROM {last_h}
            UNION ALL
            SELECT node, 'authority' AS role, score,
                   row_number() OVER (ORDER BY score DESC, node ASC) AS rn
            FROM {last_a}
        ) WHERE rn <= 10
        ORDER BY role, score DESC, node
    """
    return sql


ORACLE_SQL["graph_hits_topk"] = _hits_oracle()
ORACLE_SQL["evt_hll_hourly"] = _evt_hll_oracle()
ORACLE_SQL["q_skew_salted_agg"] = ORACLE_SQL_SKEW
ORACLE_SQL["evt_anomaly_mad"] = ORACLE_SQL_MAD
ORACLE_SQL["evt_hll_sliding"] = _evt_hll_sliding_oracle()
ORACLE_SQL["evt_hll_setops"] = _evt_hll_setops_oracle()


def graph_ppr_customer_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (operators/graph.pagerank_personalized_fixed)
    over the same supplier⇄customer graph: teleport mass restricted to the
    supplier cohort suppkey % 10 = 0, returning the top-20 CUSTOMERS by
    random-walk-with-restart affinity to that cohort — the "customers
    closest to this supplier segment" recsys primitive that global
    PageRank can't express. Integer fixed-point per round → the 5 unrolled
    rounds hash-match the DuckDB twin exactly."""
    from vers_spark.operators.graph import PR_TOPK, pagerank_personalized_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    ranks = pagerank_personalized_fixed(edges, seeds)
    return (
        ranks.filter(F.col("node").startswith("c"))
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(PR_TOPK)
    )


def _ppr_oracle() -> str:
    from vers_spark.operators.graph import PR_ITERS, PR_TOPK, PR_UNIT

    base = 15 * PR_UNIT // 100
    sql = f"""
        WITH pairs AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                                       'c' || CAST(o_custkey AS VARCHAR) AS dst
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
                  FROM supplier WHERE s_suppkey % 10 = 0
                  AND 's' || CAST(s_suppkey AS VARCHAR) IN (SELECT node FROM nodes)),
        smeta AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
        outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
        it0 AS (SELECT nd.node,
                       CAST(CASE WHEN sd.node IS NOT NULL
                                 THEN {PR_UNIT} // (SELECT ns FROM smeta)
                                 ELSE 0 END AS BIGINT) AS score
                FROM nodes nd LEFT JOIN seeds sd ON sd.node = nd.node)
    """
    for i in range(1, PR_ITERS + 1):
        sql += f"""
        , it{i} AS (
            SELECT nd.node,
                   CAST(CASE WHEN sd.node IS NOT NULL
                             THEN {base} // (SELECT ns FROM smeta)
                             ELSE 0 END
                        + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS score
            FROM nodes nd
            LEFT JOIN seeds sd ON sd.node = nd.node
            LEFT JOIN (
                SELECT e.dst AS node, CAST(sum(r.score // o.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it{i - 1} r ON r.node = e.src
                             JOIN outdeg o ON o.src = e.src
                GROUP BY e.dst
            ) s ON s.node = nd.node)
        """
    sql += (
        f"SELECT node, score FROM it{PR_ITERS} WHERE node LIKE 'c%' "
        f"ORDER BY score DESC, node ASC LIMIT {PR_TOPK}"
    )
    return sql


ORACLE_SQL["graph_ppr_customer_affinity"] = _ppr_oracle()

QUERIES = {
    "graph_pagerank_topk": graph_pagerank_topk,
    "graph_hits_topk": graph_hits_topk,
    "evt_hll_hourly": evt_hll_hourly,
    "evt_hll_sliding": evt_hll_sliding,
    "evt_hll_setops": evt_hll_setops,
    "q_skew_salted_agg": q_skew_salted_agg,
    "evt_anomaly_mad": evt_anomaly_mad,
    "graph_ppr_customer_affinity": graph_ppr_customer_affinity,
    "q1_pricing_summary": q1_pricing_summary,
    "q2_cheapest_supplier": q2_cheapest_supplier,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_priority_classes": q12_priority_classes,
    "q20_bulk_suppliers": q20_bulk_suppliers,
    "q21_sole_late_supplier": q21_sole_late_supplier,
    "q11_part_value_concentration": q11_part_value_concentration,
    "q13_customer_distribution": q13_customer_distribution,
    "q_customer_balance_deciles": q_customer_balance_deciles,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_count": q16_supplier_count,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "q_customer_value_windows": q_customer_value_windows,
    "q4_late_orders": q4_late_orders,
    "q_events_range_window": q_events_range_window,
    "q_doc_length_percentiles": q_doc_length_percentiles,
    "evt_value_outliers": evt_value_outliers,
    "evt_retention_cohorts": evt_retention_cohorts,
    "q_sketch_stats": q_sketch_stats,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q_events_grouping_sets": q_events_grouping_sets,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_revenue_by_nation": q5_revenue_by_nation,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q_top_customers_per_nation": q_top_customers_per_nation,
    "q_rollup_orders": q_rollup_orders,
    "q_customer_order_activity": q_customer_order_activity,
    "q_nation_presence": q_nation_presence,
    "q_events_user_stats": q_events_user_stats,
    "q_events_hourly": q_events_hourly,
    "evt_zorder_range_scan": evt_zorder_range_scan,
    "q_orders_pivot_status": q_orders_pivot_status,
    "q_orders_cube": q_orders_cube,
    "q_events_props_json": q_events_props_json,
}


ORACLE_SQL["q_customer_balance_deciles"] = """
    WITH ranked AS (
        SELECT CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
               row_number() OVER (ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey ASC) AS rk,
               ntile(10) OVER (ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey ASC) AS decile
        FROM customer
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(bal) * 100 AS BIGINT) AS bal_fp,
           CAST(min(rk) AS BIGINT) AS min_rank,
           CAST(max(rk) AS BIGINT) AS max_rank
    FROM ranked GROUP BY decile ORDER BY decile
"""
