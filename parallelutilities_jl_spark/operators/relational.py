"""Relational operator surface over the star-schema fixtures (SURVEY §7
phase 4).

The reference has no relational operators (distinct/joins/windows/set ops
are absent — SURVEY §2.5 note); hosting the engine on Spark brings them
in natively. Each query is declared with DuckDB oracle SQL.

Scale notes (these run on a 1000-executor cluster against ~100 TB):
* Dimension tables (region/nation/supplier/part/customer) are broadcast —
  no shuffle of the fact table for star joins. `F.broadcast` pins it
  rather than trusting the 10 MB autoBroadcast threshold.
* Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skew. Filters are applied before joins so Catalyst pushes them
  into the parquet scans.
* Float parity policy: money SUMs run on exact FLOOR-quantized int64
  (see _e2/_two_tier_sums below — order-independent, overflow-safe via
  the per-partition-partial + DECIMAL(38,0)-merge tier) and cast back to
  double at the edge, never ROUND — double ROUND can disagree between
  engines at exact half ties, and a rounded value near a tie can flip a
  row as data changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from parallelutilities_jl_spark.sources.fixtures import load_table


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# --- exact integer-quantized money aggregation (the fast path) -------------
#
# Every money column in the fixture is a 2-decimal-exact double (pinned by
# tests/test_money_quantization.py), so FLOOR(x*100 + 0.5) is its exact
# int64 representation and integer sums are combine-order-independent —
# the same cross-engine-parity property the decimal(28,6) sums provide,
# but ~5x faster: Spark's decimal aggregate boxes a BigDecimal per row
# (precision > 18 leaves the compact-long representation), which dominates
# scan-heavy aggregates like TPC-H Q1.
#
# Scale safety: a low-cardinality group's int64 total overflows around
# sf~10^4 (price cents × 10^11 rows), so for such groups the int64
# partial sums are kept per 2^23-row chunk (monotonically_increasing_id
# >> 23 — partition id in the high bits, so chunks never cross
# partitions) and the cross-chunk merge is an exact DECIMAL(38,0) sum
# over the tiny subtotal set (`_two_tier_sums`). The bound is intrinsic —
# it does NOT depend on scan/shuffle partition sizing: a chunk subtotal
# is ≤ 2^23 × max-per-row-term ≈ 9e17 for the largest term (charge at
# 1e-6 units), 10× inside int64 — and the session runs ANSI mode, so an
# impossible-by-construction overflow would raise, never wrap silently.
# High-cardinality groups whose per-group row count is scale-invariant
# (per-order, per-customer) sum int64 directly.
def _e2(c: F.Column) -> F.Column:
    """Exact int64 of a 2-dp-exact double: round(100*x) via FLOOR(+0.5),
    identical in Spark and DuckDB (no engine ROUND-mode dependence)."""
    return F.floor(c * 100 + F.lit(0.5)).cast("bigint")


_DD_E2 = "CAST(FLOOR(({e}) * 100 + 0.5) AS BIGINT)"


def _vol4() -> F.Column:
    """volume = extendedprice*(1-discount), exact in 1e-4 units."""
    return _e2(F.col("l_extendedprice")) * (100 - _e2(F.col("l_discount")))


_DD_VOL4 = (
    f"({_DD_E2.format(e='l_extendedprice')}"
    f" * (100 - {_DD_E2.format(e='l_discount')}))"
)


def _two_tier_sums(
    df: DataFrame,
    keys: list[str],
    terms: dict[str, F.Column],
    counts: dict[str, F.Column | None] | None = None,
    cube: bool = False,
    rollup: bool = False,
) -> DataFrame:
    """Exact two-tier integer aggregation: int64 partial sums per
    (keys, 2^23-row chunk), then a DECIMAL(38,0) merge of the per-chunk
    subtotals (see the overflow-bound note above). `terms` maps output
    name -> int64 column expr; `counts` maps name -> boolean condition
    (None = COUNT(*)). With cube=True / rollup=True the final merge uses
    CUBE/ROLLUP over the keys — valid because SUM subtotals re-aggregate
    exactly."""
    cnts = counts or {}
    stage1 = df.groupBy(
        *keys, F.shiftright(F.monotonically_increasing_id(), 23).alias("_chunk")
    ).agg(
        *[F.sum(c).alias(n) for n, c in terms.items()],
        *[
            (
                F.count(F.lit(1))
                if c is None
                else F.sum(F.when(c, 1).otherwise(0))
            ).alias(n)
            for n, c in cnts.items()
        ],
    )
    if cube:
        grouped = stage1.cube(*keys)
    elif rollup:
        grouped = stage1.rollup(*keys)
    else:
        grouped = stage1.groupBy(*keys)
    return grouped.agg(
        *[
            F.sum(F.col(n).cast("decimal(38,0)")).alias(n)
            for n in terms
        ],
        # empty global input: stage2 sums 0 subtotal rows -> NULL, but a
        # COUNT(*) semantics must yield 0 (what DuckDB's COUNT returns)
        *[
            F.coalesce(F.sum(F.col(n)), F.lit(0).cast("bigint")).alias(n)
            for n in cnts
        ],
    )


def _money(total: str, scale: float) -> F.Column:
    """Finalize an exact integer total back to currency units as double;
    the oracle mirrors the op order exactly: CAST(t AS DOUBLE) / scale."""
    return F.col(total).cast("double") / F.lit(float(scale))


# ---------------------------------------------------------------------------
# TPC-H-style analytics
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: scan-heavy group-agg; whole-stage-codegen'd,
    int64-quantized partial sums per input partition with an exact
    decimal(38,0) merge (see _two_tier_sums) — no per-row decimal boxing
    and no Python in the hot path."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = _e2(F.col("l_quantity")), _e2(F.col("l_extendedprice"))
    disc, tax = _e2(F.col("l_discount")), _e2(F.col("l_tax"))
    disc_price4 = price * (100 - disc)
    charge6 = price * (100 - disc) * (100 + tax)
    totals = _two_tier_sums(
        li.filter(F.col("l_shipdate") <= _ts("2000-09-02")),
        ["l_returnflag", "l_linestatus"],
        {
            "t_qty": qty,
            "t_price": price,
            "t_disc4": disc_price4,
            "t_charge6": charge6,
            "t_disc": disc,
        },
        {"count_order": None},
    )
    return totals.select(
        "l_returnflag",
        "l_linestatus",
        _money("t_qty", 100.0).alias("sum_qty"),
        _money("t_price", 100.0).alias("sum_base_price"),
        _money("t_disc4", 1e4).alias("sum_disc_price"),
        _money("t_charge6", 1e6).alias("sum_charge"),
        (_money("t_qty", 100.0) / F.col("count_order")).alias("avg_qty"),
        (_money("t_price", 100.0) / F.col("count_order")).alias("avg_price"),
        (_money("t_disc", 100.0) / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


_Q1_QTY = _DD_E2.format(e="l_quantity")
_Q1_PRICE = _DD_E2.format(e="l_extendedprice")
_Q1_DISC = _DD_E2.format(e="l_discount")
_Q1_TAX = _DD_E2.format(e="l_tax")
ORACLE_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_Q1_QTY}) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM({_Q1_PRICE}) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM({_Q1_PRICE} * (100 - {_Q1_DISC})) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM({_Q1_PRICE} * (100 - {_Q1_DISC}) * (100 + {_Q1_TAX})) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM({_Q1_QTY}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
       CAST(SUM({_Q1_PRICE}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
       CAST(SUM({_Q1_DISC}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: selective dimension filter broadcast into a
    fact-fact join, top-10 by revenue (deterministic tie-break)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1997-01-01")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        # per-order group: row count is scale-invariant, so the int64
        # quantized sum can't overflow at any sf (see _e2 rationale)
        .agg(F.sum(_vol4()).alias("t_rev"))
        .select(
            "l_orderkey", "o_orderdate", _money("t_rev", 1e4).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ORACLE_SHIPPING = f"""
SELECT l_orderkey, o_orderdate,
       CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: the full star join; every dimension broadcast, the
    only shuffle is lineitem ⋈ orders + the final group-agg."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1999-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return _two_tier_sums(joined, ["n_name"], {"t_rev": _vol4()}).select(
        "n_name", _money("t_rev", 1e4).alias("revenue")
    )


ORACLE_LOCAL_SUPPLIER = f"""
SELECT n_name, CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: pure filter + scalar aggregate; the filters reach
    the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    filt = li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev4 = _e2(F.col("l_extendedprice")) * _e2(F.col("l_discount"))
    return _two_tier_sums(
        filt, [], {"t_rev": rev4}, {"n_rows": None}
    ).select(_money("t_rev", 1e4).alias("revenue"), "n_rows")


ORACLE_FORECAST = f"""
SELECT CAST(SUM({_DD_E2.format(e="l_extendedprice")}
             * {_DD_E2.format(e="l_discount")}) AS DOUBLE) / 10000.0
       AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: returned-item revenue per customer, top 20."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # per-customer returned lines: scale-invariant group size, int64
        # quantized sum is overflow-safe at any sf
        .agg(F.sum(_vol4()).alias("t_rev"))
        .select(
            "c_custkey", "c_name", "n_name",
            _money("t_rev", 1e4).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLE_RETURNED = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# join strategies
# ---------------------------------------------------------------------------


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer with their order count (0 kept)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


ORACLE_JOIN_LEFT = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with coalesced keys: per-(user, day) click activity
    stitched to purchase activity. customer⟗orders would be vacuous
    (the FK always matches); click-days vs purchase-days is sparse on
    BOTH sides (~105 left-only / ~99 right-only at sf0.001), so the
    outer semantics are actually exercised."""
    ev = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day")

    def side(etype: str, out: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy("user_id", day)
            .agg(F.count(F.lit(1)).alias(out))
        )

    clicks = side("click", "n_clicks")
    purchases = side("purchase", "n_purchases")
    # list-form join coalesces the USING keys across both sides
    return clicks.join(purchases, ["user_id", "day"], "full").select(
        "user_id",
        "day",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


ORACLE_JOIN_FULL = """
WITH c AS (
  SELECT user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
         COUNT(*) AS n
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
  SELECT user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
         COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(c.day, p.day) AS day,
       COALESCE(c.n, 0) AS n_clicks,
       COALESCE(p.n, 0) AS n_purchases
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id AND c.day = p.day
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS): customers with at least one open order."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


ORACLE_JOIN_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti (NOT EXISTS): customers with no urgent orders."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


ORACLE_JOIN_ANTI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast star edge: parts by brand revenue."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return _two_tier_sums(
        joined,
        ["p_brand"],
        {"t_rev": _e2(F.col("l_extendedprice"))},
        {"n_items": None},
    ).select(
        "p_brand", _money("t_rev", 100.0).alias("brand_revenue"), "n_items"
    )


ORACLE_JOIN_BROADCAST = f"""
SELECT p_brand,
       CAST(SUM({_DD_E2.format(e="l_extendedprice")}) AS DOUBLE) / 100.0
       AS brand_revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------


def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value — the canonical top-k-per-group
    window; at scale this shuffles once on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


ORACLE_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
WHERE rnk <= 3
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order history (frame query)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # per-customer window partition: scale-invariant size, the exact
    # int64 quantized sum (see _e2) can't overflow at any sf
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(_e2(F.col("o_totalprice"))).over(w).cast("double")
            / F.lit(100.0)
        ).alias("running_total"),
    )


ORACLE_WINDOW_RUNNING = f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM({_DD_E2.format(e="o_totalprice")}) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 100.0 AS running_total
FROM orders
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: gap in days between consecutive orders per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_ts = F.lag("o_orderdate").over(w)
    gap_days = (
        (F.unix_timestamp("o_orderdate") - F.unix_timestamp(prev_ts)) / 86400.0
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(gap_days, 4).alias("days_since_prev"),
    )


ORACLE_WINDOW_LAG = """
SELECT o_custkey, o_orderkey,
       ROUND(CAST(epoch(o_orderdate) -
             epoch(LAG(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             AS DOUBLE) / 86400.0, 4) AS days_since_prev
FROM orders
"""


# ---------------------------------------------------------------------------
# grouping extensions / distinct / set ops / top-k / scalars
# ---------------------------------------------------------------------------


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy of customer balances."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return _two_tier_sums(
        joined,
        ["r_name", "n_name"],
        {"t_bal": _e2(F.col("c_acctbal"))},
        {"n_cust": None},
        rollup=True,
    ).select(
        F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
        F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
        "n_cust",
        _money("t_bal", 100.0).alias("total_bal"),
    )


ORACLE_ROLLUP = f"""
SELECT COALESCE(r_name, '(all)') AS region_name,
       COALESCE(n_name, '(all)') AS nation_name,
       COUNT(*) AS n_cust,
       CAST(SUM({_DD_E2.format(e="c_acctbal")}) AS DOUBLE) / 100.0
       AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag × linestatus. The CUBE runs over the tiny
    per-partition subtotal set (SUM/COUNT re-aggregate exactly), not the
    raw rows — see _two_tier_sums(cube=True)."""
    li = load_table(spark, sf_dir, "lineitem")
    return _two_tier_sums(
        li,
        ["l_returnflag", "l_linestatus"],
        {"t_qty": _e2(F.col("l_quantity"))},
        {"n_rows": None},
        cube=True,
    ).select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        "n_rows",
        _money("t_qty", 100.0).alias("sum_qty"),
    )


ORACLE_CUBE = f"""
SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
       COALESCE(l_linestatus, '(all)') AS linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM({_DD_E2.format(e="l_quantity")}) AS DOUBLE) / 100.0
       AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + distinct aggregation per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


ORACLE_DISTINCT = """
SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets, tagged."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    u = building.union(rich).distinct().withColumn("op", F.lit("union"))
    i = building.intersect(rich).withColumn("op", F.lit("intersect"))
    e = building.exceptAll(rich).distinct().withColumn("op", F.lit("except"))
    return u.unionAll(i).unionAll(e)


ORACLE_SET_OPS = """
WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     r AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey, 'union' AS op FROM (SELECT * FROM b UNION SELECT * FROM r)
UNION ALL
SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM b INTERSECT SELECT * FROM r)
UNION ALL
SELECT c_custkey, 'except' AS op FROM (SELECT * FROM b EXCEPT SELECT * FROM r)
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no full sort at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


_DIV_TOPK_K = 20
_DIV_TOPK_PER_NATION = 2


def q_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k (per the distributed diversified top-k search
    family, e.g. EDBT 2020 'Diversified Top-k Best Region Search'): the
    k best orders GLOBALLY subject to a per-nation cap, so one rich
    nation cannot monopolize the result page. Two-stage funnel: a
    per-nation window keeps the cap-best rows of each nation (parallel,
    partitioned by nation), and the global top-k then ranks only
    cap x nations <= 50 surviving rows — TakeOrderedAndProject over a
    bounded funnel, never a data-sized global sort. Deterministic
    tiebreak (price DESC, orderkey ASC) at both stages."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("o_orderkey", "n_name", "o_totalprice")
    )
    w = W.partitionBy("n_name").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    capped = joined.withColumn(
        "nation_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("nation_rank") <= _DIV_TOPK_PER_NATION)
    return (
        capped.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(_DIV_TOPK_K)
        .select(
            "o_orderkey",
            "n_name",
            F.round("o_totalprice", 2).alias("price"),
            "nation_rank",
        )
    )


ORACLE_DIVERSIFIED_TOPK = f"""
WITH ranked AS (
  SELECT o.o_orderkey, n.n_name, o.o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
              ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT)
           AS nation_rank
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT o_orderkey, n_name, ROUND(o_totalprice, 2) AS price, nation_rank
FROM ranked WHERE nation_rank <= {_DIV_TOPK_PER_NATION}
ORDER BY o_totalprice DESC, o_orderkey LIMIT {_DIV_TOPK_K}
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface in one projection."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dev"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 6).alias("price_ln"),
        (F.col("p_size") % 7).cast("long").alias("size_mod"),
    )


ORACLE_SCALARS = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
       SUBSTRING(p_type, 1, 3) AS type_prefix,
       CONCAT_WS('-', p_brand, p_type) AS brand_type,
       CAST(ABS(p_size - 25) AS BIGINT) AS size_dev,
       ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
       ROUND(LN(p_retailprice + 1), 6) AS price_ln,
       CAST(p_size % 7 AS BIGINT) AS size_mod
FROM part
"""


def q_date_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + per-year/month aggregation of order volume."""
    orders = load_table(spark, sf_dir, "orders")
    projected = orders.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        _e2(F.col("o_totalprice")).alias("tp2"),
    )
    return _two_tier_sums(
        projected, ["yr", "mo"], {"t_vol": F.col("tp2")}, {"n_orders": None}
    ).select("yr", "mo", "n_orders", _money("t_vol", 100.0).alias("volume"))


ORACLE_DATES = f"""
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
       COUNT(*) AS n_orders,
       CAST(SUM({_DD_E2.format(e="o_totalprice")}) AS DOUBLE) / 100.0
       AS volume
FROM orders GROUP BY 1, 2
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation) of quantity by linestatus."""
    li = load_table(spark, sf_dir, "lineitem")
    qty2 = _e2(F.col("l_quantity"))
    return _two_tier_sums(
        li,
        ["l_returnflag"],
        {
            "t_open": F.when(
                F.col("l_linestatus") == "O", qty2
            ).otherwise(F.lit(0)),
            "t_filled": F.when(
                F.col("l_linestatus") == "F", qty2
            ).otherwise(F.lit(0)),
        },
    ).select(
        "l_returnflag",
        _money("t_open", 100.0).alias("qty_open"),
        _money("t_filled", 100.0).alias("qty_filled"),
    )


_PIVOT_Q2 = _DD_E2.format(e="l_quantity")
ORACLE_PIVOT = f"""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {_PIVOT_Q2} ELSE 0 END) AS DOUBLE) / 100.0 AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {_PIVOT_Q2} ELSE 0 END) AS DOUBLE) / 100.0 AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# temporal joins (beyond-reference: as-of / range)
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at or
    before the event time. Spark lacks a native as-of join; implemented as
    a union + running `last_value(ignoreNulls)` window — one shuffle on
    user_id, linear in rows, no range explosion (guide: "As-of / range
    join" pattern). Orders deduped per (user, ts) to make the match
    deterministic."""
    events = load_table(spark, sf_dir, "events")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
        )
        .agg(F.max("o_orderkey").alias("orderkey"))
    )
    ev = events.select(
        "user_id",
        "ts",
        F.col("event_id").alias("event_id"),
        F.lit(None).cast("long").alias("orderkey"),
        F.lit(1).alias("tag"),
    )
    od = orders.select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        "orderkey",
        F.lit(0).alias("tag"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = ev.unionByName(od).withColumn(
        "matched_orderkey", F.last("orderkey", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("tag") == 1)
        .filter(F.col("matched_orderkey").isNotNull())
        .select("event_id", "user_id", "matched_orderkey")
    )


ORACLE_ASOF = """
WITH o AS (SELECT o_custkey AS user_id, o_orderdate AS ots,
                  MAX(o_orderkey) AS orderkey
           FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, o.orderkey AS matched_orderkey
FROM events e ASOF JOIN o
  ON e.user_id = o.user_id AND e.ts >= o.ots
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for each event, how many of the same user's events land
    in the following 6 hours. Self-join on events — the fixture's only
    table that overlaps its own time range, so the result is guaranteed
    non-empty at every SF (events and orders fixtures occupy disjoint
    decades, which made the old event×order form vacuously empty).

    Equi-join on user_id bounds the blow-up; the range predicate filters
    inside each user group — the standard bounded-range-join shape."""
    a = load_table(spark, sf_dir, "events").alias("a")
    b = load_table(spark, sf_dir, "events").alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 6 HOURS"))
    )
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.event_id").alias("event_id"),
            F.col("a.user_id").alias("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_follow_events"))
    )


ORACLE_RANGE_JOIN = """
SELECT a.event_id AS event_id, a.user_id AS user_id,
       COUNT(*) AS n_follow_events
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 6 HOUR
GROUP BY a.event_id, a.user_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap splits sessions (lag +
    cumulative sum — the batch analog of session_window). The gap is
    compared in microseconds, so a gap of 1800.4 s opens a new session
    as the oracle's fractional `epoch(ts)` difference does (whole-second
    `unix_timestamp` would truncate it to 1800)."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = (
        events.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wcum).cast("long"))
    )
    # per-session group: scale-invariant size, int64 sum overflow-safe
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_e2(F.col("value"))).alias("t_val"),
    ).select(
        "user_id", "session_id", "n_events",
        _money("t_val", 100.0).alias("session_value"),
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
       / 100.0 AS session_value
FROM s GROUP BY user_id, session_id
"""


# Gap-histogram cap for the session-gap planner: one week of minutes.
# Gaps longer than this are one bucket — they are all "new session"
# territory, the planner only needs resolution around the knee.
_GAP_CAP_MIN = 10_080
_GAP_QUANTILES_PPM = (500_000, 900_000, 950_000, 990_000)


def q_session_gap_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timeout PLANNER that goes with `sessionize_events` /
    `session_window_agg`: the distribution of per-user inter-event
    gaps, reduced to the quantiles a session-gap (and streaming
    watermark) config is chosen from. `sessionize_events` hardcodes
    30 min; this measures what the corpus actually does and recommends
    the p95 natural gap — sessions then split only on the tail beyond
    typical within-session idling.

    Exactness: gaps are whole seconds (Spark `unix_timestamp` diff ==
    DuckDB `date_diff('second', ...)`, both count second-boundary
    crossings), bucketed to minutes capped at one week, and each
    quantile is the smallest bucket whose cumulative count meets the
    exact-integer ceil target — int64 end-to-end.

    Scale shape: the lag window is user-partitioned (hash exchange +
    per-user local sort, the sessionize shape); everything after is a
    <=10081-row histogram — the only unpartitioned window sorts that
    bounded frame, never the events."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(
        F.lag("ts").over(w)
    )
    hist = (
        events.select(gap_s.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
        .select(
            F.least(
                F.lit(_GAP_CAP_MIN).cast("long"),
                F.expr("gap_s div 60"),
            ).alias("gap_min")
        )
        .groupBy("gap_min")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    # both windows share the constant partitioning spec, so the
    # <=10081-row histogram crosses ONE SinglePartition exchange and
    # both frames evaluate in the same WindowExec
    w_one = W.partitionBy(F.lit(0))
    w_asc = w_one.orderBy("gap_min").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = hist.select(
        "gap_min",
        F.sum("n_b").over(w_asc).alias("cum"),
        F.sum("n_b").over(w_one).alias("n_gaps"),
    )

    def _q(ppm: int) -> Column:
        tgt = F.expr(f"(n_gaps * {ppm} + 999999) div 1000000")
        return F.min(F.when(F.col("cum") >= tgt, F.col("gap_min")))

    picks = [
        _q(ppm).alias(f"p{ppm // 10000}_gap_min")
        for ppm in _GAP_QUANTILES_PPM
    ]
    return c.groupBy().agg(
        F.max("n_gaps").alias("n_gaps"), *picks
    ).withColumn(
        "recommended_timeout_min", F.col("p95_gap_min")
    )


def _oracle_session_gap_plan() -> str:
    qcols = ", ".join(
        f"MIN(CASE WHEN cum >= (n_gaps * {ppm} + 999999) // 1000000"
        f" THEN gap_min END) AS p{ppm // 10000}_gap_min"
        for ppm in _GAP_QUANTILES_PPM
    )
    return f"""
WITH g AS (
  SELECT date_diff('second', LAG(ts) OVER w, ts) AS gap_s
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
h AS (
  SELECT LEAST({_GAP_CAP_MIN}, gap_s // 60) AS gap_min,
         CAST(COUNT(*) AS BIGINT) AS n_b
  FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
c AS (
  SELECT gap_min,
         CAST(SUM(n_b) OVER (ORDER BY gap_min
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(n_b) OVER () AS BIGINT) AS n_gaps
  FROM h)
SELECT MAX(n_gaps) AS n_gaps, {qcols},
       MIN(CASE WHEN cum >= (n_gaps * 950000 + 999999) // 1000000
                THEN gap_min END) AS recommended_timeout_min
FROM c
"""


def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of order value per
    status — at scale, swap for percentile_approx with a t-digest."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


ORACLE_PERCENTILE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY o_orderstatus
"""


def q_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-subquery shape: customers above their segment's
    average balance — rendered as broadcast join against the tiny
    per-segment aggregate (the scalable form of the subquery)."""
    cust = load_table(spark, sf_dir, "customer")
    # exact quantized average (float-parity policy): the threshold must
    # be identical on both engines or a boundary customer flips in/out
    seg_avg = _two_tier_sums(
        cust,
        ["c_mktsegment"],
        {"t_bal": _e2(F.col("c_acctbal"))},
        {"n_seg": None},
    ).select(
        "c_mktsegment",
        (_money("t_bal", 100.0) / F.col("n_seg")).alias("seg_avg"),
    )
    return (
        cust.join(F.broadcast(seg_avg), "c_mktsegment")
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.col("c_acctbal").alias("bal"),
            "seg_avg",
        )
    )


ORACLE_ABOVE_AVG = f"""
SELECT c_custkey, c_mktsegment, c_acctbal AS bal, seg_avg
FROM customer
JOIN (SELECT c_mktsegment AS seg,
             CAST(SUM({_DD_E2.format(e="c_acctbal")}) AS DOUBLE) / 100.0
             / COUNT(*) AS seg_avg
      FROM customer GROUP BY 1) s
  ON c_mktsegment = s.seg
WHERE c_acctbal > seg_avg
"""


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: nation list per region."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


ORACLE_STRING_AGG = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: priority counts for orders with at least one line
    shipped after the order date — EXISTS rendered as a left-semi join
    (shuffle on orderkey; the semi side is pre-projected to one column)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("2000-01-01"))
        & (F.col("o_orderdate") < _ts("2000-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
  AND o_orderdate < TIMESTAMP '2000-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: bilateral trade volume between two nations by
    ship year. Both nation dimensions broadcast; the lineitem⋈orders
    shuffle dominates and is shared with every other fact-fact query."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _vol4().alias("v4"),
        )
    )
    return _two_tier_sums(
        joined, ["supp_nation", "cust_nation", "l_year"], {"t_rev": F.col("v4")}
    ).select(
        "supp_nation",
        "cust_nation",
        "l_year",
        _money("t_rev", 1e4).alias("revenue"),
    )


ORACLE_VOLUME_SHIPPING = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: NATION_5's share of PROMO-part revenue by order
    year. Conditional aggregation over one pass — no second join."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.col("n_name"),
            _vol4().alias("v4"),
        )
    )
    totals = _two_tier_sums(
        joined,
        ["o_year"],
        {
            "t_nat": F.when(
                F.col("n_name") == "NATION_5", F.col("v4")
            ).otherwise(F.lit(0)),
            "t_all": F.col("v4"),
        },
    )
    return totals.select(
        "o_year",
        (
            F.col("t_nat").cast("double") / F.col("t_all").cast("double")
        ).alias("mkt_share"),
    )


ORACLE_MARKET_SHARE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n_name = 'NATION_5' THEN {_DD_VOL4} ELSE 0 END) AS DOUBLE)
       / CAST(SUM({_DD_VOL4}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1
"""


def q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (no partsupp fixture → cost term dropped): profit
    by supplier nation × ship year for widget parts."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
            _vol4().alias("v4"),
        )
    )
    return _two_tier_sums(
        joined, ["nation", "o_year"], {"t_profit": F.col("v4")}
    ).select("nation", "o_year", _money("t_profit", 1e4).alias("sum_profit"))


ORACLE_PROFIT = f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
       CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog (no shipmode fixture → keyed on return flag):
    high- vs low-priority line counts per return flag for one ship year."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("2000-01-01"))
        & (F.col("l_shipdate") < _ts("2001-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_PRIORITY_LINES = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  AND l_shipdate < TIMESTAMP '2001-01-01'
GROUP BY l_returnflag
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: PROMO revenue share per ship month of one year —
    conditional agg, part dimension broadcast."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("2000-01-01"))
        & (F.col("l_shipdate") < _ts("2001-01-01"))
    )
    joined = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(
        F.month("l_shipdate").alias("l_month"),
        F.col("p_type"),
        _vol4().alias("v4"),
    )
    totals = _two_tier_sums(
        joined,
        ["l_month"],
        {
            "t_promo": F.when(
                F.col("p_type") == "PROMO", F.col("v4")
            ).otherwise(F.lit(0)),
            "t_all": F.col("v4"),
        },
    )
    return totals.select(
        "l_month",
        (
            F.lit(100.0)
            * F.col("t_promo").cast("double")
            / F.col("t_all").cast("double")
        ).alias("promo_revenue_pct"),
    )


ORACLE_PROMO = f"""
SELECT CAST(month(l_shipdate) AS INT) AS l_month,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DD_VOL4} ELSE 0 END) AS DOUBLE)
       / CAST(SUM({_DD_VOL4}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  AND l_shipdate < TIMESTAMP '2001-01-01'
GROUP BY 1
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: top-100 large-volume orders. The HAVING subquery
    is a self-aggregation of lineitem reused via semi join — at scale this
    is one shuffle on l_orderkey for both the filter and the final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    # exact integer HAVING: a knife-edge order at exactly 150.00 can't be
    # flipped by double summation order (both engines compare exact ints)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_e2(F.col("l_quantity"))).alias("qty2"))
        .filter(F.col("qty2") > 15000)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        # per-order group: scale-invariant size, int64 sum overflow-safe
        .agg(F.sum(_e2(F.col("l_quantity"))).alias("t_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", _money("t_qty", 100.0).alias("sum_qty"),
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(100)
    )


ORACLE_LARGE_ORDERS = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM({_DD_E2.format(e="l_quantity")}) AS DOUBLE) / 100.0
       AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING SUM({_DD_E2.format(e="l_quantity")}) > 15000)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: disjunctive brand/size/quantity brackets — one
    broadcast join, the OR-of-ANDs evaluated post-join (Catalyst pushes
    the common p_partkey equi-key; the disjunction can't be pushed)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem")
    brackets = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    filtered = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).filter(brackets)
    return _two_tier_sums(filtered, [], {"t_rev": _vol4()}).select(
        _money("t_rev", 1e4).alias("revenue")
    )


ORACLE_BRACKETED = f"""
SELECT CAST(SUM({_DD_VOL4}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed stats per
    event_type (get_json_object runs JVM-side — no Python)."""
    events = load_table(spark, sf_dir, "events")
    # parse each props JSON ONCE behind a Project boundary — three
    # aggregates over the same extraction must not re-parse per row
    proj = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return proj.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


ORACLE_JSON_PROPS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over customer: (segment, nation), (segment), () —
    one shuffle, Spark expands the sets in a single Expand node."""
    cust = load_table(spark, sf_dir, "customer")
    # grouping sets over per-chunk int64 subtotals (same exact
    # re-aggregation + overflow-bound argument as _two_tier_sums)
    sub = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.shiftright(F.monotonically_increasing_id(), 23).alias("_chunk"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_e2(F.col("c_acctbal"))).alias("t"),
    )
    return (
        sub.groupingSets(
            [["c_mktsegment", "c_nationkey"], ["c_mktsegment"], []],
            "c_mktsegment",
            "c_nationkey",
        )
        .agg(
            F.sum("n").alias("n_cust"),
            F.sum(F.col("t").cast("decimal(38,0)")).alias("t_bal"),
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "n_cust",
            _money("t_bal", 100.0).alias("sum_bal"),
        )
    )


ORACLE_GROUPING_SETS = f"""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_cust,
       CAST(SUM({_DD_E2.format(e="c_acctbal")}) AS DOUBLE) / 100.0
       AS sum_bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
"""


def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt) of part metrics — the long-format
    normalization used throughout the reduction algebra (SURVEY §2.5)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "val")


ORACLE_UNPIVOT = """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
"""


# SQL-entry queries: identical ANSI text runs on Spark AND DuckDB, so the
# oracle IS the query — these exercise Catalyst's subquery decorrelation
# (scalar subquery → broadcast join, NOT EXISTS → broadcast anti join)
_SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(FLOOR((l_discount) * 100 + 0.5) AS BIGINT)))
              AS DOUBLE) / 10000.0 AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    AND l_shipdate < TIMESTAMP '2000-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
"""

# TPC-H Q2 analog (completes the 22-query TPC-H sweep; no partsupp in
# the fixture, so the cheapest observed lineitem unit price per
# (part, supplier) stands in for ps_supplycost — the same derived-table
# adaptation Q11/Q16 use). The spec's correlated scalar subquery
# "cost = (SELECT MIN(cost) ... same part, region suppliers only)" is
# expressed as MIN() OVER (PARTITION BY partkey) over the
# region-filtered supply table: identical semantics (all tied
# minimum-cost suppliers survive, part-attribute filters stay OUTSIDE
# the min exactly as in the spec), but ONE lineitem scan — Spark plans
# the correlated form as two full ps derivations with no exchange
# reuse (measured), and at 100 TB the duplicate scan of the dominant
# fact table is the whole cost. Correlated-subquery decorrelation is
# exercised by Q15/Q17/Q22 instead. Scale: one corpus-sized exchange
# for the (part, supplier) min agg, one partkey re-exchange for the
# window (both hash, no range/global sort); supplier⋈nation⋈region is
# broadcast-sized; the min is an exact int64 (2-dp money grid) so the
# tie can't flip between engines; ORDER BY + LIMIT 100 is a bounded
# TakeOrderedAndProject over a unique total order (s_name unique per
# supplier, p_partkey breaks part ties).
_SQL_MIN_COST_SUPPLIER = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS cost2
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
pse AS (
  SELECT ps.partkey, ps.cost2, eu.s_acctbal, eu.s_name, eu.n_name,
         MIN(ps.cost2) OVER (PARTITION BY ps.partkey) AS min_cost2
  FROM ps JOIN eu ON eu.s_suppkey = ps.suppkey)
SELECT pse.s_acctbal, pse.s_name, pse.n_name, p.p_partkey, p.p_brand,
       CAST(pse.cost2 AS DOUBLE) / 100.0 AS supply_cost
FROM pse
JOIN part p ON pse.partkey = p.p_partkey
WHERE pse.cost2 = pse.min_cost2
  AND p.p_size IN (1, 4, 7) AND p.p_type = 'STANDARD'
ORDER BY pse.s_acctbal DESC, pse.n_name, pse.s_name, p.p_partkey
LIMIT 100
"""

_SQL_IDLE_RICH_CUSTOMERS = """
SELECT c_nationkey, COUNT(*) AS n_cust,
       CAST(SUM(CAST(FLOOR((c_acctbal) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
       / 100.0 AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(FLOOR((c_acctbal) * 100 + 0.5)
                                        AS BIGINT)) AS DOUBLE)
                          / 100.0 / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def _sql_query(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q15/Q22-style subquery shapes run as ANSI SQL: Catalyst
        decorrelates the scalar subquery and the NOT EXISTS into
        broadcast (anti) joins — no per-row re-execution."""
        from parallelutilities_jl_spark.sources.fixtures import register_all

        register_all(spark, sf_dir)
        return spark.sql(sql)

    return run


q_top_supplier = _sql_query(_SQL_TOP_SUPPLIER)
q_idle_rich_customers = _sql_query(_SQL_IDLE_RICH_CUSTOMERS)
q_min_cost_supplier = _sql_query(_SQL_MIN_COST_SUPPLIER)


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function sampler over a deterministic total order:
    ntile/percent_rank/cume_dist/first_value per order-status group."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value("o_orderkey").over(w).alias("cheapest_in_status"),
    )


ORACLE_WINDOW_FUNCTIONS = """
SELECT o_orderkey, o_orderstatus,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(o_orderkey) OVER w AS cheapest_in_status
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


def q_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 7-day revenue: a RANGE interval frame (6
    preceding days + the current day, all peer rows included) over an
    integer day key — the time-series frame a monitoring rollup uses.

    Both engines order by the identical integer `day_no` (days since
    epoch) so frame membership is bit-identical; the framed SUM goes
    through DECIMAL per the float-parity policy. Shape: one shuffle on
    o_custkey, then a sorted single-pass sliding frame per partition —
    no self-join, no re-scan, linear at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    ).alias("day_no")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("day_no"))
        .rangeBetween(-6, 0)
    )
    return orders.select(
        "o_orderkey", "o_custkey", day, "o_totalprice"
    ).select(
        "o_orderkey",
        "o_custkey",
        "day_no",
        (
            F.sum(_e2(F.col("o_totalprice"))).over(w).cast("double")
            / F.lit(100.0)
        ).alias("rev_7d"),
    )


ORACLE_ROLLING_7D = f"""
SELECT o_orderkey, o_custkey,
       (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day_no,
       CAST(SUM({_DD_E2.format(e="o_totalprice")}) OVER (
           PARTITION BY o_custkey
           ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 100.0 AS rev_7d
FROM orders
"""


_SQL_LATERAL_TOPK = """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
"""


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per
    nation, expressed as a lateral per-row subquery (the SQL-standard
    form of for-each-row-top-k). Catalyst decorrelates it into the same
    partitioned window-rank plan `window_topk_per_group` builds by hand
    — declared here so the SQL surface itself is covered. The outer side
    is the 25-row nation dim; the inner scan shuffles once on
    nationkey."""
    from parallelutilities_jl_spark.sources.fixtures import register_all

    register_all(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOPK)


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes, adapted to the fixture schema (no partsupp
# table, no l_commitdate/l_receiptdate/o_comment columns — each query
# keeps its characteristic PLAN SHAPE on the columns that exist).
# ---------------------------------------------------------------------------


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: customer order-count distribution through an
    outer join with a filtered build side (the o_comment NOT LIKE filter
    becomes an order-priority exclusion). Shape: shuffle join on custkey,
    then two cascaded aggs — the second is tiny (distinct counts)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


ORACLE_CUSTDIST = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
"""


Q11_FRAC_NUM = 7  # part qualifies when value * 10000 > total * 7
Q11_FRAC_DEN = 10_000


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog (no partsupp: part revenue stands in for stock
    value): parts whose revenue exceeds a FRACTION of the global total —
    the scalar-subquery HAVING shape. The global total is a one-row
    broadcast; the comparison stays in DECIMAL on both engines (an exact
    integer-scaled compare, so a part sitting exactly at the threshold
    cannot flip between engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    # per-part sums: scale-invariant group size, int64-safe; the global
    # total needs the two-tier decimal merge (it grows with the corpus)
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_vol4()).alias("v4")
    )
    total = _two_tier_sums(li, [], {"t4": _vol4()})
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("v4").cast("decimal(38,0)") * Q11_FRAC_DEN
            > F.col("t4") * Q11_FRAC_NUM
        )
        .select("l_partkey", _money("v4", 1e4).alias("part_value"))
    )


ORACLE_IMPORTANT_PARTS = f"""
WITH pv AS (SELECT l_partkey, SUM({_DD_VOL4}) AS v4
            FROM lineitem GROUP BY 1),
tot AS (SELECT SUM({_DD_VOL4}) AS t4 FROM lineitem)
SELECT l_partkey, CAST(v4 AS DOUBLE) / 10000.0 AS part_value
FROM pv, tot WHERE v4 * {Q11_FRAC_DEN} > t4 * {Q11_FRAC_NUM}
"""


def q_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: distinct-supplier counts per part attribute,
    excluding flagged suppliers (negative balance stands in for the
    complaints comment). Shape: broadcast ANTI join against the
    blacklist, broadcast part join, then a distinct agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    return (
        li.join(
            F.broadcast(bad),
            li.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_PARTS_SUPPLIER_CNT = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-average-quantity lines of one brand
    — the correlated-scalar-subquery shape, decorrelated into a per-part
    aggregate joined back to the fact. The 0.2×avg comparison is kept
    EXACT by cross-multiplying in quantized int64 (qty2×5×cnt < Σqty2),
    so a line at exactly 0.2×avg agrees between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # per-part group: scale-invariant size, int64 sum overflow-safe
    lim = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_e2(F.col("l_quantity"))).alias("sq2"),
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    small = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(lim, li.l_partkey == lim.pk)
        .filter(_e2(F.col("l_quantity")) * 5 * F.col("cnt") < F.col("sq2"))
    )
    return _two_tier_sums(
        small, [], {"t_price": _e2(F.col("l_extendedprice"))}
    ).select(
        (_money("t_price", 100.0) / F.lit(7.0)).alias("avg_yearly")
    )


ORACLE_SMALL_QTY = f"""
WITH lim AS (SELECT l_partkey AS pk, COUNT(*) AS cnt,
                    SUM({_DD_E2.format(e="l_quantity")}) AS sq2
             FROM lineitem GROUP BY 1)
SELECT CAST(SUM({_DD_E2.format(e="l_extendedprice")}) AS DOUBLE) / 100.0
       / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
JOIN lim ON pk = l_partkey
WHERE p_brand = 'Brand#1'
  AND {_DD_E2.format(e="l_quantity")} * 5 * cnt < sq2
"""


Q20_QTY_THRESHOLD = 250


def q_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog: suppliers who moved more than a threshold
    quantity of promo-class parts in 1997 — the nested-IN-with-aggregate
    shape: inner agg with HAVING feeds a SEMI join against supplier.
    Quantity threshold compared in DECIMAL (exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        # per-supplier sums: scale-invariant group size, int64-safe
        .groupBy("l_suppkey")
        .agg(F.sum(_e2(F.col("l_quantity"))).alias("q2"))
        .filter(F.col("q2") > Q20_QTY_THRESHOLD * 100)
    )
    sup = load_table(spark, sf_dir, "supplier")
    return sup.join(
        heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_name", "s_acctbal")


ORACLE_PROMO_SUPPLIERS = f"""
SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING SUM({_DD_E2.format(e="l_quantity")}) > {Q20_QTY_THRESHOLD * 100})
"""


Q21_LATE_DAYS = 60


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog: suppliers who were the ONLY late supplier on a
    multi-supplier finished order ("late" = shipped > 60 days after the
    order date; the fixture has no commit/receipt dates). The classic
    EXISTS / NOT-EXISTS pair decorrelates into per-order supplier
    aggregates — one shuffle on orderkey, then a broadcast supplier
    join; no correlated re-scans of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    late_expr = (
        F.col("l_shipdate")
        > F.col("o_orderdate")
        + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
    ).cast("int")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_expr).alias("late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late"),
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.join(per_order, "l_orderkey")
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
            & (F.col("late") == 1)
        )
        .join(F.broadcast(sup), per_supp.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLE_WAITING_SUPPLIERS = f"""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate >
                  o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
             THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2),
per_order AS (SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
              FROM l GROUP BY 1)
SELECT s_name, COUNT(*) AS numwait
FROM l JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE n_supp >= 2 AND n_late = 1 AND late = 1
GROUP BY s_name
"""


_MERGE_SPLIT = "1999-01-01"  # snapshot/delta boundary inside the date range


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: a monthly revenue rollup kept as a
    SNAPSHOT of partial aggregates (orders before the boundary) merged
    with a new DELTA batch (orders after) — union the two partial-agg
    frames and re-aggregate, never re-scanning the snapshot's raw rows.
    Correctness contract (what the oracle checks): merged partials ==
    full recompute over all raw rows, which holds because count/sum are
    decomposable and the decimal sums are combine-order-free.

    At 100 TB: the snapshot side is months × keys rows (tiny — already
    aggregated), so the daily merge costs one scan of the delta plus a
    shuffle of two partial-agg frames; the alternative full recompute
    re-scans the whole fact table every ingest."""
    orders = load_table(spark, sf_dir, "orders")
    month = (
        F.year("o_orderdate") * 100 + F.month("o_orderdate")
    ).cast("long").alias("ym")
    boundary = F.to_timestamp(F.lit(_MERGE_SPLIT))

    def partial(df):
        # int64 partial per (month, 2^23-row chunk) — the mergeable
        # snapshot/delta state; the final merge re-sums in DECIMAL(38,0)
        return df.select(
            month,
            F.shiftright(F.monotonically_increasing_id(), 23).alias("_chunk"),
            "o_totalprice",
        ).groupBy("ym", "_chunk").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_e2(F.col("o_totalprice"))).alias("rev2"),
        )

    snapshot = partial(orders.filter(F.col("o_orderdate") < boundary))
    delta = partial(orders.filter(F.col("o_orderdate") >= boundary))
    return (
        snapshot.unionByName(delta)
        .groupBy("ym")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum(F.col("rev2").cast("decimal(38,0)")).alias("t_rev"),
        )
        .select("ym", "n_orders", _money("t_rev", 100.0).alias("revenue"))
    )


# oracle = full recompute from raw rows; equality proves the merge
ORACLE_INCR_AGG_MERGE = f"""
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
       COUNT(*) AS n_orders,
       CAST(SUM({_DD_E2.format(e="o_totalprice")}) AS DOUBLE) / 100.0
       AS revenue
FROM orders
GROUP BY 1
"""


def q_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse a keyed change
    stream into validity intervals — the MERGE a warehouse dimension
    load performs nightly. Source: each customer's order-status
    timeline (one status per active day via min_by/arg_min on the
    orderkey); consecutive equal statuses collapse into one version
    with `[eff_from_day, eff_to_day)` bounds (open current version ⇒
    NULL eff_to_day) and a per-key version number.

    Scale shape: one (custkey, day) min_by agg (map-side combinable),
    then LAG/LEAD/ROW_NUMBER windows partitioned BY KEY —
    per-customer history is short and the window never crosses keys, so
    state is bounded per partition and there is no global sort. Day
    keys are exact integer epoch division (positive domain — `div` and
    `//` agree)."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    per_day = (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.expr(
                "unix_timestamp(date_trunc('day', o_orderdate)) div 86400"
            ).alias("day"),
            "o_orderkey",
            "o_orderstatus",
        )
        .groupBy("custkey", "day")
        .agg(F.min_by("o_orderstatus", "o_orderkey").alias("status"))
    )
    w = W.partitionBy("custkey").orderBy("day")
    changes = (
        per_day.withColumn("prev", F.lag("status").over(w))
        .filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("status"))
        )
        .select("custkey", "status", F.col("day").alias("eff_from_day"))
    )
    w2 = W.partitionBy("custkey").orderBy("eff_from_day")
    return changes.select(
        "custkey",
        "status",
        "eff_from_day",
        (F.lead("eff_from_day").over(w2)).alias("eff_to_day"),
        F.row_number().over(w2).cast("long").alias("version_n"),
    )


ORACLE_SCD2_STATUS_HISTORY = """
WITH per_day AS (
  SELECT o_custkey AS custkey,
         CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT)
           // 86400 AS day,
         arg_min(o_orderstatus, o_orderkey) AS status
  FROM orders GROUP BY 1, 2
),
changes AS (
  SELECT custkey, status, day AS eff_from_day FROM (
    SELECT custkey, day, status,
           LAG(status) OVER (PARTITION BY custkey ORDER BY day) AS prev
    FROM per_day)
  WHERE prev IS NULL OR prev <> status
)
SELECT custkey, status, eff_from_day,
       LEAD(eff_from_day) OVER (PARTITION BY custkey
                                ORDER BY eff_from_day) AS eff_to_day,
       CAST(ROW_NUMBER() OVER (PARTITION BY custkey
                               ORDER BY eff_from_day) AS BIGINT)
         AS version_n
FROM changes
"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_HOURS = 24  # unbounded converts every fixture user (the
# month-long stream has every type per user somewhere); 24 h yields a
# real 150 -> 60 -> 25 drop-off at sf0.01


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel: how many users performed
    view → click → purchase IN THAT TIME ORDER, each step within
    {FUNNEL_WINDOW_HOURS} h of the previous one (co-occurrence without
    ordering is not a funnel). Min-chaining makes the sequential match
    exact with plain relational ops: t1 = first view; t2 = first click
    in (t1, t1+W]; t3 = first purchase in (t2, t2+W] — the standard
    windowed-funnel formulation (greedy-earliest matching).

    Scale shape: each step is a user-keyed MIN over a pushed-down
    event-type slice joined to the (shrinking) per-user frontier on
    user_id — the same equi-key throughout, so AQE reuses the
    partitioning; no window over the event stream, no per-user
    collect_list. Output is one tiny row per step."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )

    def step_after(etype: str, prev: DataFrame | None) -> DataFrame:
        s = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(
                (F.col("ts") > F.col("t"))
                & (
                    F.col("ts")
                    <= F.expr(
                        f"t + INTERVAL {FUNNEL_WINDOW_HOURS} HOURS"
                    )
                )
            )
        return s.groupBy("user_id").agg(F.min("ts").alias("t"))

    out = None
    prev = None
    for i, etype in enumerate(FUNNEL_STEPS):
        prev = step_after(etype, prev)
        row = prev.agg(
            F.lit(i + 1).cast("long").alias("step_idx"),
            F.lit(etype).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _oracle_funnel() -> str:
    ctes = []
    prev = None
    selects = []
    for i, etype in enumerate(FUNNEL_STEPS, start=1):
        if prev is None:
            ctes.append(
                f"s{i} AS (SELECT user_id, MIN(ts) AS t FROM events "
                f"WHERE event_type = '{etype}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e "
                f"JOIN {prev} p ON p.user_id = e.user_id "
                f"WHERE e.event_type = '{etype}' AND e.ts > p.t "
                f"AND e.ts <= p.t + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR "
                f"GROUP BY e.user_id)"
            )
        prev = f"s{i}"
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS step_idx, '{etype}' AS step, "
            f"COUNT(*) AS n_users FROM s{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(selects)


ORACLE_FUNNEL_CONVERSION = _oracle_funnel()


_DAY_SECS = 86400


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix — the canonical product-analytics
    rollup: users grouped by first-active day, and for each later day
    the count still active. Emits (cohort, day_offset, n_active,
    cohort_size) — the numerator/denominator of every retention curve.
    (Daily grain because the fixture spans one month with every user
    active every week — weekly cohorts would collapse to a single
    always-100% cell; daily cohorts genuinely decay.)

    Scale shape: one distinct-(user, day) shuffle, a user-keyed MIN to
    find cohorts (same key as the distinct — AQE reuses the
    partitioning), one (cohort, offset) agg, and a broadcast of the
    tiny cohort-size table. `n_active` is a plain COUNT because the
    (user, day) distinct upstream already guarantees one row per user
    per day — no distinct-expand in the big agg. Day keys are exact
    integer division of the epoch (positive domain, so Spark's `div`
    and DuckDB's `//` agree)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr(
        f"unix_timestamp(date_trunc('day', ts)) div {_DAY_SECS}"
    ).alias("day")
    uw = ev.select("user_id", day).distinct()
    first = uw.groupBy("user_id").agg(F.min("day").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        uw.join(first, "user_id")
        .groupBy("cohort", (F.col("day") - F.col("cohort")).alias(
            "day_offset"
        ))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort").select(
        "cohort", "day_offset", "n_active", "cohort_size"
    )


ORACLE_RETENTION_COHORTS = f"""
WITH uw AS (SELECT DISTINCT user_id,
                   CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                     // {_DAY_SECS} AS day
            FROM events),
f AS (SELECT user_id, MIN(day) AS cohort FROM uw GROUP BY 1),
s AS (SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY 1),
r AS (SELECT f.cohort, uw.day - f.cohort AS day_offset,
             COUNT(*) AS n_active
      FROM uw JOIN f USING (user_id) GROUP BY 1, 2)
SELECT r.cohort, r.day_offset, r.n_active, s.cohort_size
FROM r JOIN s USING (cohort)
"""


def q_table_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style column statistics over the fact table — the
    stats a cost-based optimizer (and a data-quality monitor) feeds on:
    row count, per-column NDV, null counts, and min/max bounds, all in
    ONE scan. NDVs here are exact multi-column COUNT(DISTINCT ...) (an
    Expand in Spark — each row fans out once per distinct agg, map-side
    combinable) so the oracle equality is exact; at 100 TB the same
    query swaps `approx_count_distinct` (HLL, mergeable — the repo's
    `approx_distinct_check` is precisely the exact-vs-HLL tolerance
    gate for that swap). Quantity bounds are exact integers (the
    fixture's quantities are integral doubles); date bounds cast to
    DATE for cross-engine hash parity."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("ndv_orderkey"),
        F.countDistinct("l_partkey").alias("ndv_partkey"),
        F.countDistinct("l_returnflag").alias("ndv_returnflag"),
        (F.count(F.lit(1)) - F.count("l_quantity")).alias("nulls_quantity"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min(F.col("l_quantity").cast("long")).alias("min_qty"),
        F.max(F.col("l_quantity").cast("long")).alias("max_qty"),
        F.min(F.col("l_shipdate").cast("date")).alias("min_shipdate"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_shipdate"),
    )


ORACLE_TABLE_COLUMN_STATS = """
SELECT COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_orderkey,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_partkey,
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv_returnflag,
       CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS nulls_quantity,
       MIN(l_orderkey) AS min_orderkey,
       MAX(l_orderkey) AS max_orderkey,
       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
       CAST(MIN(l_shipdate) AS DATE) AS min_shipdate,
       CAST(MAX(l_shipdate) AS DATE) AS max_shipdate
FROM lineitem
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of `part` on (price low, size high) — the
    dominance query behind "cheapest part at every size class". A point
    survives iff no other part is <= in price AND >= in size with at
    least one strict. The naive formulation is an O(n^2) dominance
    anti-join; for a 2-D skyline the exact answer is a SORT + running
    max: a part is dominated iff a strictly-cheaper part reaches its
    size (m_lt >= size) or an equal-priced part exceeds it (m_eq >
    size). Duplicate (price, size) points don't dominate each other —
    both survive, matching set-semantics skyline.

    Scale shape: two-tier. Tier 1 collapses the data to a per-price
    histogram (groupBy price_c → max size — one map-side-combinable
    shuffle; the domain of int64 cent prices is bounded by the price
    range, not the row count). Tier 2 runs the running max over that
    histogram — the only ordered pass touches histogram rows, never
    data rows, so no data-sized sort and no rangepartitioning exchange.
    The (tiny) dominance frontier broadcasts back onto the parts scan.
    Prices quantized to exact int64 cents (fixture doubles are 2-dp
    exact, see _e2), so "strictly cheaper" has no double ties."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
        .select(
            "p_partkey",
            "p_size",
            _e2(F.col("p_retailprice")).alias("price_c"),
        )
    )
    hist = p.groupBy("price_c").agg(F.max("p_size").alias("m_eq"))
    w_lt = W.orderBy("price_c").rowsBetween(W.unboundedPreceding, -1)
    frontier = hist.withColumn("m_lt", F.max("m_eq").over(w_lt))
    return (
        p.join(F.broadcast(frontier), "price_c")
        .filter(
            (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("p_size")))
            & (F.col("m_eq") <= F.col("p_size"))
        )
        .select("p_partkey", "price_c", "p_size")
    )


ORACLE_SKYLINE_PARTS = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
f AS (
  SELECT p_partkey, price_c, p_size,
         MAX(p_size) OVER (ORDER BY price_c
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt,
         MAX(p_size) OVER (PARTITION BY price_c) AS m_eq
  FROM p)
SELECT p_partkey, price_c, p_size FROM f
WHERE (m_lt IS NULL OR m_lt < p_size) AND m_eq <= p_size
"""


ISLAND_GAP_SECS = 1800  # an event extends a user's activity 30 min


def q_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: merge each user's event intervals
    [ts, ts+{ISLAND_GAP_SECS}s) into maximal overlapping runs and
    report per-user island count + total covered seconds — the interval
    union behind session stitching, uptime accounting, and coverage
    dedup. New island when an event starts strictly after the running
    max end of all prior intervals (touching merges).

    Scale shape: everything is windowed per user_id — one hash shuffle
    on the natural key, then two narrow window passes (running max,
    running sum) and a (user, island) agg that reuses the partitioning.
    No self-join (the classic interval-overlap join formulation is
    O(n^2) per user); integer epoch-second arithmetic end-to-end, so
    island boundaries are bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
    )
    iv = ev.withColumn("e", F.col("t") + F.lit(ISLAND_GAP_SECS))
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "is_new",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("t") > F.max("e").over(w_prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = (
        marked.withColumn("island", F.sum("is_new").over(w_run))
        .groupBy("user_id", "island")
        .agg(
            F.min("t").alias("start_t"),
            F.max("e").alias("end_t"),
        )
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("end_t") - F.col("start_t")).alias("covered_secs"),
        F.max(F.col("end_t") - F.col("start_t")).alias("longest_secs"),
    )


ORACLE_INTERVAL_ISLANDS = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t,
         epoch_us(ts) // 1000000 + {ISLAND_GAP_SECS} AS e
  FROM events),
m AS (
  SELECT user_id, t, e,
         CASE WHEN MAX(e) OVER w IS NULL
                OR t > MAX(e) OVER w THEN 1 ELSE 0 END AS is_new
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
         t, e
  FROM m),
g AS (
  SELECT user_id, island, MIN(t) AS start_t, MAX(e) AS end_t
  FROM isl GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands,
       CAST(SUM(end_t - start_t) AS BIGINT) AS covered_secs,
       CAST(MAX(end_t - start_t) AS BIGINT) AS longest_secs
FROM g GROUP BY user_id
"""


def q_fk_orphan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the constraint check a lakehouse
    runs because parquet has no foreign keys: for each FK edge of the
    star schema, the row count, distinct-key count, and ORPHAN count
    (non-null children whose parent key is absent — null keys are a
    different defect, counted by table_column_stats-style checks). One
    tiny row per edge; a nonzero orphan count is the data-quality
    alarm.

    Scale shape: every child table is scanned ONCE — all its FK edges
    ride the same pass as left joins against distinct parent-key
    frames (dimension parents broadcast; the lineitem→orders edge
    shuffles on the join key like every fact-fact join), then a single
    aggregate emits all of that child's edge counts, fanned out to
    per-edge rows from the 1-row result. Orphans are COUNTED, never
    materialized."""

    def keys_of(parent: DataFrame, pkey: str, alias: str) -> DataFrame:
        return (
            parent.select(F.col(pkey).alias(alias))
            .distinct()
            .withColumn(f"hit_{alias}", F.lit(1))
        )

    def orphan_sum(ckey: str) -> F.Column:
        return F.sum(
            F.when(
                F.col(f"hit_{ckey}").isNull()
                & F.col(ckey).isNotNull(),
                1,
            ).otherwise(0)
        ).cast("long")

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    li_agg = (
        li.select("l_orderkey", "l_partkey")
        .join(keys_of(orders, "o_orderkey", "l_orderkey"), "l_orderkey", "left")
        .join(
            F.broadcast(keys_of(part, "p_partkey", "l_partkey")),
            "l_partkey",
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("k_order"),
            F.countDistinct("l_partkey").alias("k_part"),
            orphan_sum("l_orderkey").alias("o_order"),
            orphan_sum("l_partkey").alias("o_part"),
        )
    )

    def one_edge(
        name: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str
    ) -> DataFrame:
        return (
            child.select(ckey)
            .join(F.broadcast(keys_of(parent, pkey, ckey)), ckey, "left")
            .agg(
                F.lit(name).alias("fk_edge"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(ckey).alias("n_keys"),
                orphan_sum(ckey).alias("n_orphans"),
            )
        )

    out = li_agg.select(
        F.lit("lineitem.orderkey->orders").alias("fk_edge"),
        "n_rows",
        F.col("k_order").alias("n_keys"),
        F.col("o_order").alias("n_orphans"),
    ).unionAll(
        li_agg.select(
            F.lit("lineitem.partkey->part").alias("fk_edge"),
            "n_rows",
            F.col("k_part").alias("n_keys"),
            F.col("o_part").alias("n_orphans"),
        )
    )
    for e in (
        one_edge("orders.custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        one_edge("customer.nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        one_edge("supplier.nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
    ):
        out = out.unionAll(e)
    return out


def _oracle_fk_census() -> str:
    edges = [
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    selects = [
        f"""SELECT '{name}' AS fk_edge,
       (SELECT COUNT(*) FROM {c}) AS n_rows,
       CAST((SELECT COUNT(DISTINCT {ck}) FROM {c}) AS BIGINT) AS n_keys,
       (SELECT COUNT(*) FROM {c}
        WHERE {ck} IS NOT NULL
          AND {ck} NOT IN (SELECT {pk} FROM {p} WHERE {pk} IS NOT NULL))
         AS n_orphans"""
        for name, c, ck, p, pk in edges
    ]
    return "\nUNION ALL\n".join(selects)


ORACLE_FK_ORPHAN_CENSUS = _oracle_fk_census()


BEHAV_TOP_N = 20  # most-similar (query, neighbor) rows reported
BEHAV_N_QUERY = 10  # query cohort: user_id < this


def q_user_behavior_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity between users' daily-activity vectors —
    the collaborative-filtering / behavioral-cohort shape (REPOSE, ICDE
    2021 territory): each user is a sparse (day → event-count) vector;
    a query cohort (user_id < {BEHAV_N_QUERY}) is matched against the
    whole population via the INVERTED-INDEX join (pairs meet only on
    days both were active — no dense vectors, no all-pairs). Top
    {BEHAV_TOP_N} (query, neighbor) rows by cosine, exact integer dot
    products, deterministic tiebreak.

    Scale shape: one (user, day) count agg; the day-keyed join's
    fan-out is Σ_day |Q ∩ day|·n_day — LINEAR in users because the
    query side is a broadcast cohort (the all-pairs variant is
    inherently quadratic on dense behavior and needs LSH bucketing —
    same tradeoff as the ANN tiers, which is exactly the family this
    follows). Norms ride a tiny per-user agg broadcast onto the pair
    stream. The single cosine division is one correctly-rounded double
    op (floor·10⁶ reported)."""
    ev = load_table(spark, sf_dir, "events")
    uv = ev.groupBy(
        F.col("user_id").alias("u"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    norms = uv.groupBy("u").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    a = uv.filter(F.col("u") < BEHAV_N_QUERY).select(
        F.col("u").alias("ua"), "day", F.col("c").alias("ca")
    )
    b = uv.select(
        F.col("u").alias("ub"), "day", F.col("c").alias("cb")
    )
    dots = (
        F.broadcast(a)
        .join(b, "day")
        .filter(F.col("ua") != F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("u").alias("ua"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("u").alias("ub"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "ua")
        .join(F.broadcast(nb), "ub")
        .select(
            "ua",
            "ub",
            F.floor(
                F.col("dot")
                * F.lit(1e6)
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            )
            .cast("long")
            .alias("cos_e6"),
        )
        .orderBy(F.col("cos_e6").desc(), "ua", "ub")
        .limit(BEHAV_TOP_N)
    )


ORACLE_USER_BEHAVIOR_SIM = f"""
WITH uv AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
norms AS (SELECT u, SUM(c * c) AS n2 FROM uv GROUP BY u),
dots AS (
  SELECT a.u AS ua, b.u AS ub, SUM(a.c * b.c) AS dot
  FROM uv a JOIN uv b ON a.day = b.day AND a.u <> b.u
  WHERE a.u < {BEHAV_N_QUERY}
  GROUP BY 1, 2)
SELECT ua, ub,
       CAST(FLOOR(dot * 1e6 /
             (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))))
            AS BIGINT) AS cos_e6
FROM dots JOIN norms na ON na.u = ua JOIN norms nb ON nb.u = ub
ORDER BY cos_e6 DESC, ua, ub LIMIT {BEHAV_TOP_N}
"""


TRIM_PCT = 5  # symmetric trim fraction (percent) for robust stats


def q_trimmed_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {TRIM_PCT}%-trimmed and winsorized mean of lineitem
    quantity WITHOUT a global sort — robust statistics via the
    bounded-domain histogram trick (quantities are small integers, as
    most physical measures are after quantization): collapse the table
    to a value histogram, take cumulative ranks over the ≤|domain|-row
    histogram, and intersect each value's rank interval with the kept
    band [k, n−k]. kept_i = max(0, min(cum_i, n−k) − max(cum_i − c_i,
    k)) is exact integer arithmetic, so both engines agree bit-for-bit;
    the winsorized tails clamp to the rank-(k+1) and rank-(n−k) values
    read off the same histogram.

    Scale shape: ONE map-side-combinable groupBy is the only data-sized
    operation; the cumulative window runs over the bounded histogram
    (50 rows here), not the data. Contrast with sort-based trimmed
    means (global sort) or two-pass percentile+filter (two scans).
    Int64 bound: sum·10⁶ overflows past ~2·10¹¹ rows — promote the two
    mean numerators to DECIMAL(38,0) at that scale (one cast each)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").isNotNull())
        .select(F.col("l_quantity").cast("long").alias("v"))
    )
    hist = li.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.agg(
        F.sum("c").alias("n"),
        F.expr(f"sum(c) * {TRIM_PCT} div 100").alias("k"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cum") - F.col("c"), F.col("k")),
    )
    agg = j.agg(
        F.first("n").alias("n"),
        F.first("k").alias("k"),
        F.sum(F.col("v") * kept).alias("tsum"),
        F.sum(kept).alias("tn"),
        F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("v"))).alias(
            "lo_v"
        ),
        F.min(
            F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("v"))
        ).alias("hi_v"),
    )
    return agg.select(
        "n",
        "k",
        "lo_v",
        "hi_v",
        F.expr("tsum * 1000000 div tn").alias("trimmed_mean_e6"),
        F.expr(
            "(tsum + k * (lo_v + hi_v)) * 1000000 div n"
        ).alias("winsor_mean_e6"),
    )


ORACLE_TRIMMED_ROBUST = f"""
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
cum AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
tot AS (SELECT SUM(c) AS n, SUM(c) * {TRIM_PCT} // 100 AS k FROM hist),
j AS (SELECT v, c, cum, n, k,
             GREATEST(0, LEAST(cum, n - k) - GREATEST(cum - c, k)) AS kept
      FROM cum CROSS JOIN tot),
agg AS (
  SELECT ANY_VALUE(n) AS n, ANY_VALUE(k) AS k,
         SUM(v * kept) AS tsum, SUM(kept) AS tn,
         MIN(CASE WHEN cum >= k + 1 THEN v END) AS lo_v,
         MIN(CASE WHEN cum >= n - k THEN v END) AS hi_v
  FROM j)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       lo_v, hi_v,
       CAST(tsum * 1000000 // tn AS BIGINT) AS trimmed_mean_e6,
       CAST((tsum + k * (lo_v + hi_v)) * 1000000 // n AS BIGINT)
         AS winsor_mean_e6
FROM agg
"""


def q_median_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and MAD (median absolute deviation — THE robust
    scale estimator) of lineitem quantity, without a global sort and
    without two data scans: the bounded-integer value histogram is
    computed once (the only data-sized operation), the median is read
    off its cumulative ranks, the |v − median| DEVIATION histogram is
    derived from the 50-row value histogram itself (never from the
    data), and the MAD is read off the deviation histogram's ranks.
    Lower-median convention at even counts (rank ⌈n/2⌉ — integer,
    engine-exact; the interpolated variant needs one more histogram
    lookup, same shape).

    Pairs with `trimmed_robust_stats`: together they are the
    outlier-resistant location/scale panel a data-quality monitor
    tracks instead of mean/stddev."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").isNotNull())
        .select(F.col("l_quantity").cast("long").alias("v"))
    )
    hist = li.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.agg(F.expr("(sum(c) + 1) div 2").alias("mrank"),
                   F.sum("c").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.col("mrank"))
        .agg(F.min("v").alias("median"), F.first("n").alias("n"))
    )
    dev = (
        hist.crossJoin(F.broadcast(med))
        .groupBy(F.abs(F.col("v") - F.col("median")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    dcum = dev.withColumn("cum", F.sum("c").over(wd))
    return (
        dcum.crossJoin(F.broadcast(med))
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(
            F.first("n").alias("n"),
            F.first("median").alias("median"),
            F.min("d").alias("mad"),
        )
    )


ORACLE_MEDIAN_MAD = """
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
cum AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
tot AS (SELECT (SUM(c) + 1) // 2 AS mrank, SUM(c) AS n FROM hist),
med AS (SELECT MIN(v) AS median, ANY_VALUE(n) AS n
        FROM cum CROSS JOIN tot WHERE cum >= mrank),
dev AS (SELECT ABS(v - median) AS d, SUM(c) AS c
        FROM hist CROSS JOIN med GROUP BY 1),
dcum AS (
  SELECT d, SUM(c) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dev)
SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n,
       ANY_VALUE(median) AS median,
       MIN(d) AS mad
FROM dcum CROSS JOIN med WHERE cum >= (n + 1) // 2
"""


ROLLING_WINDOW_DAYS = 7  # trailing window for the active-user series


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {ROLLING_WINDOW_DAYS}-day distinct active users per day
    (the WAU/MAU series) — EXACT, not HLL: a user active on day d is
    "active" for observation days [d, d+{ROLLING_WINDOW_DAYS}-1], so
    the sliding distinct count is a {ROLLING_WINDOW_DAYS}-way offset
    fan-out of the COMPACTED user-day frame followed by one
    count-distinct. Observation days past the stream's end are clipped.

    Scale shape: the event stream collapses to distinct (user, day)
    FIRST (map-side-combinable — at 100 TB this is the only data-sized
    shuffle; user-days are bounded by users × window, orders of
    magnitude smaller), then the ×{ROLLING_WINDOW_DAYS} explode and the
    per-day distinct agg run on the compacted frame. No data-sized
    window, no per-day self-join; the max-day clip is a broadcast
    1-row frame."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    mx = ud.agg(F.max("day").alias("mxd"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {ROLLING_WINDOW_DAYS - 1}))"
            )
        ).alias("obs_day"),
    )
    return (
        contrib.join(F.broadcast(mx), F.col("obs_day") <= F.col("mxd"))
        .groupBy("obs_day")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_ROLLING_ACTIVE_USERS = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
mx AS (SELECT MAX(day) AS mxd FROM ud),
c AS (
  SELECT user_id, day + CAST(UNNEST(generate_series(0,
           {ROLLING_WINDOW_DAYS - 1})) AS INTEGER) AS obs_day
  FROM ud)
SELECT obs_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM c, mx WHERE obs_day <= mxd
GROUP BY obs_day
"""


ANOMALY_Z = 2  # flag days beyond 2 population std-devs


def q_anomaly_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly flags on the event stream: per event_type daily
    counts, flagging days whose count deviates more than {ANOMALY_Z}
    population std-devs from that type's mean — the data-quality canary
    every ingestion pipeline runs. The z-test is evaluated in EXACT
    integer arithmetic: z^2 > Z^2 ⇔ (N·c − S)² > Z²·(N·Q − S²) with
    N = #days, S = Σc, Q = Σc² — no float variance, no sqrt, so both
    engines flag identical days.

    Scale shape: one map-side-combinable (type, day) count, a tiny
    per-type stats agg (≤ #types rows) broadcast back onto the daily
    counts. At 100 TB the daily rollup is the only data-sized shuffle.
    Int64 bound: (N·c)² caps the day count at ~3e9/N days before
    overflow — past that, promote the squared terms to DECIMAL(38,0)
    (one cast, same formula)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("nn") * F.col("n") - F.col("s")
    var_n3 = F.col("nn") * F.col("q") - F.col("s") * F.col("s")
    return j.select(
        "event_type",
        "day",
        "n",
        (dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * var_n3).alias(
            "is_anomaly"
        ),
    )


ORACLE_ANOMALY_DAILY = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
st AS (
  SELECT event_type, COUNT(*) AS nn, SUM(n) AS s, SUM(n * n) AS q
  FROM daily GROUP BY 1)
SELECT d.event_type, d.day, d.n,
       (nn * n - s) * (nn * n - s)
         > {ANOMALY_Z * ANOMALY_Z} * (nn * q - s * s) AS is_anomaly
FROM daily d JOIN st USING (event_type)
"""


# k-anonymity threshold: groups of quasi-identifier values carrying
# fewer than this many distinct users are re-identification risks
K_ANON = 5


def q_k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk census over the event log's quasi-identifiers
    (the release-gating governance table next to the PII scrub): a QI
    group is the (event_type, hour-of-day, integer value band) tuple —
    attributes an attacker plausibly knows — and any group carrying
    fewer than {K_ANON} distinct users is a re-identification risk
    (Sweeney's k-anonymity, the standard release criterion). Emits,
    per event_type: group counts, risky-group counts, the event volume
    sitting in risky groups, and the exposed user-memberships (summed
    per group — a user in two risky groups counts twice, since each
    group is a separate disclosure channel).

    Scale shape: one QI-keyed hash agg (the distinct-user count rides
    the same shuffle as a partial-aggregable approx at production
    scale; exact here for the oracle) and a tiny per-type tail —
    the same two-level shape as the quality histogram planners."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            F.hour("ts").cast("long").alias("hour_of_day"),
            F.floor("value").cast("long").alias("val_band"),
            "user_id",
        )
        .groupBy("event_type", "hour_of_day", "val_band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    risky = F.col("n_users") < K_ANON
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(risky.cast("long")).alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("n_events")).otherwise(0)).alias(
            "n_risky_events"
        ),
        F.sum(F.when(risky, F.col("n_users")).otherwise(0)).alias(
            "n_exposed"
        ),
    )


ORACLE_K_ANONYMITY = f"""
WITH g AS (SELECT event_type,
                  CAST(hour(ts) AS BIGINT) AS hour_of_day,
                  CAST(FLOOR(value) AS BIGINT) AS val_band,
                  CAST(COUNT(*) AS BIGINT) AS n_events,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events GROUP BY 1, 2, 3)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_users < {K_ANON} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_risky_groups,
       CAST(SUM(CASE WHEN n_users < {K_ANON} THEN n_events ELSE 0 END)
            AS BIGINT) AS n_risky_events,
       CAST(SUM(CASE WHEN n_users < {K_ANON} THEN n_users ELSE 0 END)
            AS BIGINT) AS n_exposed
FROM g GROUP BY 1
"""


QUERIES = {
    "k_anonymity_census": q_k_anonymity_census,
    "q1_pricing_summary": q_pricing_summary,
    "skyline_parts": q_skyline_parts,
    "interval_islands": q_interval_islands,
    "anomaly_daily_counts": q_anomaly_daily_counts,
    "rolling_active_users": q_rolling_active_users,
    "trimmed_robust_stats": q_trimmed_robust_stats,
    "median_mad_stats": q_median_mad_stats,
    "user_behavior_similarity": q_user_behavior_similarity,
    "fk_orphan_census": q_fk_orphan_census,
    "table_column_stats": q_table_column_stats,
    "retention_cohorts": q_retention_cohorts,
    "funnel_conversion": q_funnel_conversion,
    "scd2_status_history": q_scd2_status_history,
    "incremental_agg_merge": q_incremental_agg_merge,
    "q3_shipping_priority": q_shipping_priority,
    "q5_local_supplier_volume": q_local_supplier_volume,
    "q6_forecast_revenue": q_forecast_revenue,
    "q10_returned_items": q_returned_items,
    "join_left_outer": q_join_left,
    "join_full_outer": q_join_full_outer,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_broadcast_dim": q_join_broadcast_dim,
    "window_topk_per_group": q_window_topk_orders,
    "window_running_sum": q_window_running_sum,
    "window_lag_lead": q_window_lag_lead,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "distinct_agg": q_distinct_agg,
    "set_ops": q_set_ops,
    "topk_orders": q_topk_orders,
    "diversified_topk": q_diversified_topk,
    "scalar_functions": q_scalar_functions,
    "date_breakdown": q_date_breakdown,
    "pivot_status": q_pivot_status,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "sessionize_events": q_sessionize,
    "session_gap_plan": q_session_gap_plan,
    "percentile_stats": q_percentile_stats,
    "above_segment_avg": q_above_segment_avg,
    "string_agg_nations": q_string_agg,
    "q4_order_priority": q_order_priority_check,
    "q7_volume_shipping": q_volume_shipping,
    "q8_market_share": q_market_share,
    "q9_profit_by_nation": q_profit_by_nation,
    "q12_priority_lines": q_priority_lines,
    "q14_promo_revenue": q_promo_revenue,
    "q18_large_orders": q_large_orders,
    "q19_bracketed_revenue": q_bracketed_revenue,
    "json_props_stats": q_json_props,
    "grouping_sets_customer": q_grouping_sets,
    "unpivot_part_metrics": q_unpivot_part,
    "q15_top_supplier": q_top_supplier,
    "q22_idle_rich_customers": q_idle_rich_customers,
    "q2_min_cost_supplier": q_min_cost_supplier,
    "window_rank_functions": q_window_functions,
    "window_rolling_7d": q_rolling_7d_revenue,
    "lateral_topk_per_nation": q_lateral_topk,
    "q13_custdist": q_custdist,
    "q11_important_parts": q_important_parts,
    "q16_parts_supplier_cnt": q_parts_supplier_cnt,
    "q17_small_qty_revenue": q_small_qty_revenue,
    "q20_promo_suppliers": q_promo_suppliers,
    "q21_waiting_suppliers": q_waiting_suppliers,
}

ORACLES = {
    "k_anonymity_census": ORACLE_K_ANONYMITY,
    "skyline_parts": ORACLE_SKYLINE_PARTS,
    "interval_islands": ORACLE_INTERVAL_ISLANDS,
    "anomaly_daily_counts": ORACLE_ANOMALY_DAILY,
    "rolling_active_users": ORACLE_ROLLING_ACTIVE_USERS,
    "trimmed_robust_stats": ORACLE_TRIMMED_ROBUST,
    "median_mad_stats": ORACLE_MEDIAN_MAD,
    "user_behavior_similarity": ORACLE_USER_BEHAVIOR_SIM,
    "fk_orphan_census": ORACLE_FK_ORPHAN_CENSUS,
    "incremental_agg_merge": ORACLE_INCR_AGG_MERGE,
    "table_column_stats": ORACLE_TABLE_COLUMN_STATS,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "funnel_conversion": ORACLE_FUNNEL_CONVERSION,
    "scd2_status_history": ORACLE_SCD2_STATUS_HISTORY,
    "q4_order_priority": ORACLE_ORDER_PRIORITY,
    "q7_volume_shipping": ORACLE_VOLUME_SHIPPING,
    "q8_market_share": ORACLE_MARKET_SHARE,
    "q9_profit_by_nation": ORACLE_PROFIT,
    "q12_priority_lines": ORACLE_PRIORITY_LINES,
    "q14_promo_revenue": ORACLE_PROMO,
    "q18_large_orders": ORACLE_LARGE_ORDERS,
    "q19_bracketed_revenue": ORACLE_BRACKETED,
    "json_props_stats": ORACLE_JSON_PROPS,
    "grouping_sets_customer": ORACLE_GROUPING_SETS,
    "unpivot_part_metrics": ORACLE_UNPIVOT,
    "q15_top_supplier": _SQL_TOP_SUPPLIER,
    "q2_min_cost_supplier": _SQL_MIN_COST_SUPPLIER,
    "q22_idle_rich_customers": _SQL_IDLE_RICH_CUSTOMERS,
    "window_rank_functions": ORACLE_WINDOW_FUNCTIONS,
    "window_rolling_7d": ORACLE_ROLLING_7D,
    "lateral_topk_per_nation": _SQL_LATERAL_TOPK,
    "percentile_stats": ORACLE_PERCENTILE,
    "above_segment_avg": ORACLE_ABOVE_AVG,
    "string_agg_nations": ORACLE_STRING_AGG,
    "q1_pricing_summary": ORACLE_PRICING,
    "q3_shipping_priority": ORACLE_SHIPPING,
    "q5_local_supplier_volume": ORACLE_LOCAL_SUPPLIER,
    "q6_forecast_revenue": ORACLE_FORECAST,
    "q10_returned_items": ORACLE_RETURNED,
    "join_left_outer": ORACLE_JOIN_LEFT,
    "join_full_outer": ORACLE_JOIN_FULL,
    "join_semi": ORACLE_JOIN_SEMI,
    "join_anti": ORACLE_JOIN_ANTI,
    "join_broadcast_dim": ORACLE_JOIN_BROADCAST,
    "window_topk_per_group": ORACLE_WINDOW_TOPK,
    "window_running_sum": ORACLE_WINDOW_RUNNING,
    "window_lag_lead": ORACLE_WINDOW_LAG,
    "agg_rollup": ORACLE_ROLLUP,
    "agg_cube": ORACLE_CUBE,
    "distinct_agg": ORACLE_DISTINCT,
    "set_ops": ORACLE_SET_OPS,
    "topk_orders": ORACLE_TOPK,
    "diversified_topk": ORACLE_DIVERSIFIED_TOPK,
    "scalar_functions": ORACLE_SCALARS,
    "date_breakdown": ORACLE_DATES,
    "pivot_status": ORACLE_PIVOT,
    "asof_join": ORACLE_ASOF,
    "range_join": ORACLE_RANGE_JOIN,
    "sessionize_events": ORACLE_SESSIONIZE,
    "session_gap_plan": _oracle_session_gap_plan(),
    "q13_custdist": ORACLE_CUSTDIST,
    "q11_important_parts": ORACLE_IMPORTANT_PARTS,
    "q16_parts_supplier_cnt": ORACLE_PARTS_SUPPLIER_CNT,
    "q17_small_qty_revenue": ORACLE_SMALL_QTY,
    "q20_promo_suppliers": ORACLE_PROMO_SUPPLIERS,
    "q21_waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
}
