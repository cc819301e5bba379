"""Decision-support query pack modeled on the classic TPC-H shapes the
r5 additions left uncovered: the pricing-summary full-scan aggregate,
the segment top-k join, the EXISTS semi-join count, the conditional
two-way count, the promo revenue share, and the HAVING-over-aggregate
big-order report. The reference implements none of these (its query
surface is the catalog scans, SURVEY.md §2.2); they complete the
"switch a reference user's analytics to this repo" story alongside
revenue_by_nation (Q5-shaped) and lineitem_discount_revenue (Q6).

Determinism discipline (operators/_registry.py): money sums are exact
DECIMAL or integer-cents sums CAST to DOUBLE at the end; averages are
exact-sum ÷ exact-count IEEE divisions; every top-k carries a
total-order tiebreaker.

Scale notes (100 TB): every query here is scan → (broadcast-eligible
dim join) → partial-agg-friendly hash aggregate; date predicates reach
the parquet scan as PushedFilters; no query shuffles more than
(group keys, partial sums). The EXISTS shape is a LeftSemi join keyed
on orderkey — never a correlated per-row probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import make_registry

QUERIES, ORACLE, q = make_registry()


def _dec(c, p: int = 18, s: int = 2):
    return F.col(c).cast(f"decimal({p},{s})")


def _dbl_exact(sum_col, scale: int):
    """Cross-engine-exact decimal→double: scale the EXACT decimal sum to
    its integer representation, convert int64→double (a correctly-rounded
    hardware conversion in every engine), then ONE IEEE division by the
    exact power of ten. The direct ``CAST(decimal AS DOUBLE)`` is NOT
    engine-identical: DuckDB converts via two roundings and lands one ulp
    off Java BigDecimal's correctly-rounded conversion for some values —
    caught by the r13 sf1 spot-check on sum_charge (35591213907.498270 →
    Spark ...49827, DuckDB ...498276). Headroom: int64 caps the scaled
    sum at ~9.2e18, i.e. sums to ~9.2e12 at scale 6 — far above every
    checked scale; at true warehouse scale the exact decimal itself is
    the contract and this cast is presentation."""
    p = 10**scale
    return (sum_col * F.lit(p)).cast("bigint").cast("double") / F.lit(float(p))


def _sql_dbl_exact(sum_expr: str, scale: int) -> str:
    p = 10**scale
    return f"CAST(CAST(({sum_expr}) * {p} AS BIGINT) AS DOUBLE) / {p}.0"


@q(
    "lineitem_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dbl_exact("SUM(CAST(l_quantity AS DECIMAL(18,2)))", 2)} AS sum_qty,
           {_sql_dbl_exact("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))", 2)} AS sum_base_price,
           {_sql_dbl_exact('''SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2))))''', 4)} AS sum_disc_price,
           {_sql_dbl_exact('''SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))
                    * (1 + CAST(l_tax AS DECIMAL(8,2))))''', 6)} AS sum_charge,
           {_sql_dbl_exact("SUM(CAST(l_quantity AS DECIMAL(18,2)))", 2)} / COUNT(*) AS avg_qty,
           {_sql_dbl_exact("SUM(CAST(l_discount AS DECIMAL(8,2)))", 2)} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the full-scan pricing summary — one pass, six
    exact aggregates per (returnflag, linestatus) cell. Sums are exact
    decimals converted to DOUBLE through the scaled-int64 route
    (``_dbl_exact`` — correctly-rounded in both engines, unlike the
    direct decimal cast); averages divide that exact-derived double by
    the exact count (one IEEE division, engine-identical).

    Scale notes: the canonical map-side-combine aggregate — 6 groups
    total, so the shuffle after partial aggregation is 6 rows per task
    no matter the corpus; the date predicate is a pushed parquet filter
    and only 7 of 11 columns are read."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2))
    charge = disc_price * (F.lit(1) + _dec("l_tax", 8, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl_exact(F.sum(_dec("l_quantity")), 2).alias("sum_qty"),
            _dbl_exact(F.sum(_dec("l_extendedprice")), 2).alias("sum_base_price"),
            _dbl_exact(F.sum(disc_price), 4).alias("sum_disc_price"),
            _dbl_exact(F.sum(charge), 6).alias("sum_charge"),
            (_dbl_exact(F.sum(_dec("l_quantity")), 2) / F.count(F.lit(1))).alias("avg_qty"),
            (_dbl_exact(F.sum(_dec("l_discount", 8, 2)), 2) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "orders_shipping_priority",
    sql="""
    SELECT l_orderkey, o_orderdate,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def orders_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue top-10 for one market segment.
    Revenue is an exact decimal sum (identical DOUBLE on both engines,
    so the ORDER BY agrees); l_orderkey breaks ties totally.

    Scale notes: the segment filter prunes customer before the join —
    AQE broadcasts the surviving slice; the aggregate groups on
    (orderkey, date) which the lineitem join already shuffled by, and
    the global sort sees only the aggregated rows, then limit-pushdown
    takes 10 per partition before the final merge."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2)))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "orders_late_priority",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def orders_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority that had at least one line
    shipped late (> 60 days after the order date — this dataset has no
    commit/receipt dates, so lateness is vs the order date).

    Scale notes: EXISTS compiles to a LeftSemi hash join keyed on
    orderkey — each order is emitted at most once regardless of how
    many lines are late, with no distinct pass; the quarter predicate
    pushes to the orders scan and the 5-group aggregate is partial-agg
    friendly."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@q(
    "lineitem_priority_mix",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def lineitem_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per return flag (the dataset's stand-in for
    shipmode), how many of the year's lines belonged to high- vs
    low-priority orders — the conditional-count join readout.

    Scale notes: one orderkey-keyed join (lineitem already filtered by
    the pushed year predicate), then a 3-group conditional aggregate;
    both counts come out of ONE pass (no second scan per branch)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@q(
    "part_promo_revenue_share",
    sql="""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                         ELSE 0 END) AS DOUBLE) * 100.0
           / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
             AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def part_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the month's promo-part revenue share. Per-line
    revenue is rounded to integer cents row-wise (IEEE-identical on both
    engines) so both sums are exact; the final ×100/total is two IEEE
    divisions in pinned order.

    Scale notes: part is a broadcast-eligible dim (key + type only after
    pruning); the month predicate pushes to the lineitem scan; the
    1-group aggregate is a pure map-side-combine reduction."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100).cast(
        "long"
    )
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.sum(promo).cast("double") * 100.0 / F.sum(cents).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "orders_big_volume",
    sql="""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    """,
)
def orders_big_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — customers whose single
    order moved more than 250 units. The HAVING filter runs over the
    exact decimal sum, so the cut is bit-identical across engines.

    Scale notes: the aggregate groups by orderkey (the join key — no
    extra shuffle beyond the join's); the HAVING prunes before anything
    wide is carried; customer attaches via its key only. Q18's classic
    inner 'GROUP BY l_orderkey HAVING' subquery and the outer join
    collapse into one aggregate here because custkey/orderdate ride
    functionally on o_orderkey."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.sum(_dec("l_quantity"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(qty.cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )


@q(
    "window_ntile",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucket assignment — the window-family member the rank pack
    (window_rank/_ranks_pct/_frame/_lag) didn't cover: equal-size
    quartiles of order value within each priority class. The order key
    totally orders ties so both engines assign identical buckets.

    Scale notes: o_orderpriority has FIVE distinct values, so the
    one-window form (``Window.partitionBy``) sorts ~20% of all orders
    through one task each — the same single-task collapse class as an
    unpartitioned window. Like ``window_ranks_pct``
    (relational2.py), the physical form is COST-BASED: below
    ``skew.RANK_SMALL_INPUT_BYTES`` the single window wins (the
    distributed derivation's fixed jobs cost more than one small sort);
    above it NTILE is derived from ``skew.group_distribution_ranks``
    (range-partition the (priority, price, key) total order, broadcast
    per-slice offsets, local row_number + the ceil-first-buckets
    arithmetic) — exact same buckets
    (tests/test_skew_ranks.py::test_window_ntile_branches_match proves
    bit-equality against the naive window), no task ever sorts more
    than one range slice."""
    o = table(spark, sf_dir, "orders")
    proj = o.select("o_orderkey", "o_orderpriority", "o_totalprice")
    from .skew import group_distribution_ranks, small_rank_input

    if small_rank_input(proj, cache_key=("window_ntile", sf_dir)):
        w = Window.partitionBy("o_orderpriority").orderBy(
            "o_totalprice", "o_orderkey"
        )
        return proj.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("price_quartile"),
        )
    return group_distribution_ranks(
        proj,
        "o_orderpriority",
        ["o_totalprice", "o_orderkey"],
        n_tiles=4,
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("__ntile").alias("price_quartile"),
    )


@q(
    "customer_idle_rich",
    sql="""
    WITH thr AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_cents
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS total_bal_cents
    FROM customer CROSS JOIN thr
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > avg_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def customer_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers richer than the positive-balance
    average with no RECENT order (none since 2000 — nearly every
    customer in this dataset has ordered at least once, so the classic
    never-ordered predicate would select nobody) — the anti-join +
    global-scalar-threshold combination. Balances compare as integer
    cents against an exact-sum ÷ exact-count average (one IEEE
    division, identical in both engines — a raw AVG(double) threshold
    would be partial-sum-order dependent and could flip boundary rows
    between engines).

    Scale notes: the threshold is a 1-row aggregate broadcast
    (crossJoin of a lazy scalar — the tfidf/bounds recipe); the NOT
    EXISTS compiles to a LeftAnti hash join keyed on custkey against an
    orders scan pruned to that single column; the final aggregate
    groups on nationkey with map-side combine."""
    c = table(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select(F.col("o_custkey").alias("ok"))
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(cents).cast("double") / F.count(F.lit(1))).alias("avg_cents")
        )
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("ok"), "left_anti")
        .crossJoin(F.broadcast(thr))
        .filter(cents > F.col("avg_cents"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents).alias("total_bal_cents"),
        )
    )


@q(
    "nation_volume_shipping",
    sql="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — revenue shipped between
    two specific nations per year, seen from both directions. Revenue is
    the exact decimal disc-price sum cast to DOUBLE at the end.

    Scale notes: nation is a broadcast dim on BOTH sides of the trade
    (25 rows, hinted); supplier/customer attach by key; the nation-pair
    filter prunes before the aggregate so only matching lines shuffle,
    and the date range reaches the lineitem scan as a PushedFilter."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2)))
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(rev.cast("double").alias("revenue"))
    )


@q(
    "market_share",
    sql="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(8,2))) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of ECONOMY-part
    revenue sold into the AMERICA region, per order year. Numerator and
    denominator are the same exact decimal volume sum (CASE-gated), so
    the share is one IEEE division of two exact values.

    Scale notes: nation (both roles) and region broadcast by hint;
    part/supplier/customer attach by key with AQE free to broadcast the
    filtered part side; the date range is a PushedFilter on the orders
    scan and the share is computed in the same hash aggregate as the
    sums — no second pass."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA").select("r_regionkey")
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2))
    num = F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0)))
    den = F.sum(vol)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg((num.cast("double") / den.cast("double")).alias("mkt_share"))
    )


@q(
    "customer_distribution",
    sql="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the orders-per-customer histogram INCLUDING
    zero-order customers — the left join keeps every customer and
    COUNT(o_orderkey) counts only matched rows (NULLs don't count), the
    semantics a plain inner-join groupBy silently loses. The non-join
    predicate (priority filter) is embedded in the join condition, not a
    WHERE — a WHERE would turn the left join back into an inner one.

    Scale notes: one shuffle on custkey for join+count (the aggregate
    groups on the join key, so AQE plans them in the same exchange); the
    histogram re-aggregate moves only (c_count, partial count) pairs —
    at most as many rows as distinct order counts."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "small_qty_revenue",
    sql="""
    WITH bl AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    ), thr AS (
      SELECT l_partkey AS t_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*)) AS qty_thr
      FROM bl GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM bl JOIN thr ON l_partkey = t_partkey
    WHERE l_quantity < qty_thr
    """,
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — lines
    whose quantity is under 20% of their part's average quantity. The
    classic correlated scalar subquery (the oracle SQL keeps that
    decorrelated-join spelling) is computed here as a per-part WINDOW
    aggregate instead: same exact-decimal-sum ÷ count threshold, but ONE
    scan of lineitem and ONE shuffle on l_partkey — the join form scans
    the fact twice (once for the threshold aggregate, once for the
    probe) and pays a sort-merge join on top
    (tests/test_plans.py::test_small_qty_revenue_single_scan_no_join).

    Scale notes: l_partkey is a HIGH-cardinality window key (grows with
    the corpus), so partitions stay bounded — the opposite of the
    window_ntile 5-value case; the brand filter reaches the part scan
    and AQE broadcasts the surviving slice; the final sum is a scalar
    partial-agg reduce."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey")
    )
    bl = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    thr = F.lit(0.2) * (
        F.sum(_dec("l_quantity")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        bl.withColumn("qty_thr", thr)
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@q(
    "returned_item_report",
    sql="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the top-20 customers by revenue lost to returned
    items in one quarter. Revenue is the exact decimal disc-price sum
    per customer, cast to DOUBLE before the sort so both engines order
    the same IEEE values; c_custkey is the total-order tiebreaker
    (unique per group, so the LIMIT 20 cut is deterministic).

    Scale notes: the returnflag and order-date predicates reach their
    parquet scans as PushedFilters, so only the quarter's returned
    lines shuffle; nation (25 rows) is the only plan-time broadcast
    hint — customer grows with SF and is left to AQE; the top-20 is a
    TakeOrderedAndProject over the aggregate output (per-partition
    top-k then a 20-row driver merge), never a global sort."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2)))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@q(
    "top_supplier_revenue",
    sql="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE r = (SELECT MAX(r) FROM rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum quarterly
    revenue — the classic view + scalar-max-subquery form, spelled as a
    per-supplier aggregate equi-filtered against its own max. TIE-SAFE
    by construction: the max comparison happens on the EXACT decimal
    sums (never on doubles, where two distinct exact values can round
    to the same double and a third engine-dependent ordering decides),
    so every tied supplier comes back, in both engines, identically.

    Scale notes: one shuffle on l_suppkey for the revenue aggregate
    (map-side partial sums); the scalar max is a 1-row aggregate
    broadcast back onto the per-supplier rows (the whitelisted 1-row
    crossJoin attach, not a second shuffle); supplier attaches to the
    few surviving rows — AQE broadcasts it."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2))).alias(
            "r"
        )
    )
    mx = rev.agg(F.max("r").alias("max_r"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("max_r"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue")
        )
    )


# Q19's brackets: (brand, size lo-hi, quantity lo-hi). Brands on this
# dataset run Brand#1..Brand#25.
_BRACKETS = [
    ("Brand#12", 1, 15, 1.0, 11.0),
    ("Brand#23", 1, 25, 10.0, 20.0),
    ("Brand#5", 1, 35, 20.0, 30.0),
]


@q(
    "bracket_revenue",
    sql="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three brand/size/quantity brackets
    — the OR-of-ANDs predicate-pushdown showcase. The oracle keeps the
    classic single-WHERE spelling; here each side's projection of the
    disjunction is applied BEFORE the join (for part: the brand∧size
    disjuncts; for lineitem: the quantity-range disjuncts), so both
    parquet scans carry an Or(...) in PushedFilters and only bracket-
    candidate rows ever reach the join — the full cross-column bracket
    predicate then re-checks on the joined rows. Semantically identical
    (each per-side disjunction is implied by the full predicate), and
    guaranteed-pruned rather than left to constraint inference
    (tests/test_plans.py::test_bracket_revenue_or_pushdown).

    Scale notes: part is filtered to the bracket brands before its
    scan ends, so AQE broadcasts the surviving slice; lineitem sheds
    every row outside the union of quantity ranges at the scan; the
    final sum is a scalar partial-agg reduce — no wide shuffle at
    all."""
    part_side = None
    li_side = None
    full = None
    for brand, slo, shi, qlo, qhi in _BRACKETS:
        pp = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        lp = F.col("l_quantity").between(qlo, qhi)
        part_side = pp if part_side is None else (part_side | pp)
        li_side = lp if li_side is None else (li_side | lp)
        full = (pp & lp) if full is None else (full | (pp & lp))
    p = (
        table(spark, sf_dir, "part")
        .filter(part_side)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(li_side)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 8, 2)))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(full)
        .agg(rev.cast("double").alias("revenue"))
    )


@q(
    "waiting_suppliers",
    sql="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders   ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND r_name = 'EUROPE'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    finished multi-supplier order — EXISTS plus NOT EXISTS, compiled to
    one LeftSemi and one LeftAnti join, both EQUI-KEYED on l_orderkey
    with the supplier-inequality as a residual (never a nested-loop
    probe: tests/test_plans.py::test_waiting_suppliers_semi_anti).
    Adaptation: this dataset has no l_receiptdate/l_commitdate, so
    "late" is shipped more than 90 days after the order date — the
    correlated-on-two-columns lateness predicate survives (the NOT
    EXISTS needs the *order's* date, which rides the orderkey join).

    Scale notes: the late-lines relation (F-status orders joined to
    their >90-day lines) is built once and reused as both the probe
    side and the anti side; region→nation→supplier is a broadcast dim
    chain onto the 15-supplier slice; the semi/anti joins shuffle on
    l_orderkey only; the final top-k is a TakeOrderedAndProject over at
    most |supplier| grouped rows."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    l2 = li.select(
        F.col("l_orderkey").alias("lo2"), F.col("l_suppkey").alias("ls2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("lo3"), F.col("l_suppkey").alias("ls3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("lo2"))
            & (F.col("ls2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("lo3"))
            & (F.col("ls3") != F.col("l_suppkey")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
