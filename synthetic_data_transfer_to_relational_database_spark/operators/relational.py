"""Relational operator pack: scans, filters, joins, aggregates, windows,
sorts, set ops (SURVEY.md §2.3 rows ``scan_project`` … ``set_except``).

The reference implements none of these as user ops (SURVEY.md §2.2); its
only join-like operator is the catalog equi-join (run_engine.py:122-140)
and the FK sampling join (run_engine.py:156-162, see plans/executor.py).
This pack is the query surface BASELINE.json requires, expressed as pure
DataFrame plans so Catalyst picks physical strategies (broadcast vs
sort-merge, partial aggregation, AQE skew handling).

Scale notes (100 TB):
- fixed-cardinality dimension joins (`nation`, `region`) are explicitly
  broadcast — no shuffle of the fact side; SF-scaled tables (`customer`,
  `orders`, …) are never hinted — AQE's runtime conversion broadcasts
  them only when their actual size allows;
- every aggregate is expressed so map-side partial aggregation applies
  (no distinct-on-top-of-distinct shapes);
- sorts are only global where the result is provably small (top-k after
  aggregation), otherwise window-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import make_registry

QUERIES, ORACLE, q = make_registry()


def _dec(c, p: int = 18, s: int = 2):
    """Exact decimal view of a money-like double column (see _registry)."""
    return F.col(c).cast(f"decimal({p},{s})")


def _cents(c):
    """Integer cents of a 2-decimal double — exact, order-independent sums."""
    return F.round(F.col(c) * 100).cast("long")


# ---------------------------------------------------------------------------
# Flagship: revenue by nation (scan ⋈ ⋈ ⋈ + filter + agg + sort)
# ---------------------------------------------------------------------------


@q(
    "revenue_by_nation",
    sql="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer carries NO broadcast hint: it scales with SF (~1/7 of
        # orders' cardinality — billions of rows at 100 TB), so a forced
        # broadcast is a driver/executor OOM at scale. AQE converts the
        # join to broadcast at runtime whenever customer is actually
        # small. Only fixed-cardinality dims (nation: 25 rows) are hinted.
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            # Sum exactly in decimal (order-independent), cast once at the
            # end: both engines then emit the same IEEE double — the only
            # representation the driver's value-hash treats as equal.
            F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Scans / filters
# ---------------------------------------------------------------------------


@q(
    "scan_project",
    sql="""
    SELECT p_partkey, p_name, UPPER(p_brand) AS brand_u, p_retailprice,
           p_size + 1 AS size_plus
    FROM part
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.upper("p_brand").alias("brand_u"),
        "p_retailprice",
        (F.col("p_size") + 1).alias("size_plus"),
    )


@q(
    "filter_pred",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1996-06-01'
      AND (l_discount < 0.05 OR l_tax > 0.04)
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & ((F.col("l_discount") < 0.05) | (F.col("l_tax") > 0.04))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@q(
    "join_inner",
    sql="""
    SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_quantity
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 150000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", "l_quantity"
    )


@q(
    "join_left",
    sql="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 250000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_totalprice") > 250000)
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@q(
    "join_semi",
    sql="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@q(
    "join_anti",
    sql="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customers with NO high-value order. The unfiltered form ("no order
    # at all") is EMPTY on this data — every customer has orders — so its
    # driver hash-match was vacuous (empty == empty, r17 verdict #3); the
    # totalprice predicate yields a real, non-total subset (30 rows at
    # sf0.01) while keeping the left_anti shape test_plans.py pins.
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select("c_custkey", "c_name")


@q(
    "join_broadcast",
    sql="""
    SELECT c_custkey, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mirrors the reference's ID-cache pattern (run_engine.py:46,142-153):
    # small dimension held per-executor instead of shuffled.
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )


@q(
    "join_range",
    sql="""
    SELECT o_orderkey, l_linenumber, o_orderdate, l_shipdate
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 60 DAY
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi + band condition: Catalyst keys the hash join on l_orderkey and
    # evaluates the range residual post-match — no cross product.
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cond = (
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return o.join(li, cond).select("o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@q(
    "agg_hash",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_extendedprice) AS max_price,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1 shape. Decimal/cents sums: exact ⇒ order-independent ⇒
    # identical under Spark partial aggregation and DuckDB (see _registry).
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(_cents("l_quantity")).cast("double") / F.lit(100.0) / F.count(F.lit(1))).alias("avg_qty"),
    )


@q(
    "agg_distinct",
    sql="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("cnt"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch — rows-only (sketch estimates are engine-specific)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("cnt"),
    )


QUERIES["agg_approx_distinct"] = agg_approx_distinct


@q(
    "agg_rollup",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@q(
    "agg_cube",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@q(
    "agg_gsets",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("_gsets_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
               COUNT(*) AS cnt
        FROM _gsets_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def window_rank_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-window form of ``window_rank`` — kept as the parity twin
    for tests. ``Window.partitionBy(c_nationkey)`` funnels each of the 25
    nations through ONE WindowExec task (4% of all customers per task at
    any scale), so the registered implementation is the scalable
    derivation below; bit-equality between the two is test-locked
    (tests/test_skew_ranks.py)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    w_rn = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w_rn).alias("rn"),
    )


@q(
    "window_rank",
    sql="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK / ROW_NUMBER per nation, with COST-BASED physical
    selection — the same stats-driven strategy choice Catalyst makes for
    broadcast-vs-sort-merge joins, applied to window ranking:

    - input below ``skew.RANK_SMALL_INPUT_BYTES`` (1 GiB, per
      Catalyst's optimized-plan size estimate): the one-window form.
      Even if every row landed in ONE WindowExec task, a ≤1 GiB sort is
      a normal task; the distributed derivation's extra jobs (range
      sampling + checkpoint + offsets collect, twice) would dominate.
    - larger input: ``window_rank_scalable`` — c_nationkey has 25 values,
      so at cluster scale the one-window form funnels 4% of ALL customers
      through each of 25 tasks; the distributed derivation's per-task
      volume is bounded by the range-slice size instead.

    Bit-equality of the two branches is locked by
    tests/test_skew_ranks.py; the dispatch itself by test_plans.py."""
    from .skew import small_rank_input

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    if small_rank_input(c, cache_key=("window_rank", sf_dir)):
        return window_rank_naive(spark, sf_dir)
    return window_rank_scalable(spark, sf_dir)


def window_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-rank branch of ``window_rank`` — the
    ``skew.group_rank_triple`` derivation (see its docstring for the
    construction and the null-safe join-back contract)."""
    from .skew import group_rank_triple

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    return group_rank_triple(c, "c_nationkey", "c_acctbal", "c_custkey", desc=True).select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.col("__rnk").alias("rnk"),
        F.col("__drnk").alias("drnk"),
        F.col("__rn").alias("rn"),
    )


@q(
    "window_frame",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
    FROM orders
    """,
)
def window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(w.rowsBetween(-2, 0)).cast("double").alias("moving_sum"),
        F.count(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("n_so_far"),
    )


@q(
    "window_lag",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS price_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------


@q(
    "sort_limit",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark plans this as TakeOrderedAndProject: per-partition top-100,
    # then a 100-row driver merge — no global sort even at 100 TB.
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(100)


@q(
    "topk_per_group",
    sql="""
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) t
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.select("p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@q(
    "set_union",
    sql="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@q(
    "set_intersect",
    sql="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@q(
    "set_except",
    sql="""
    SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
    EXCEPT
    SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 0
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # high-value-order custkeys minus good-standing customers. The old
    # nationkey form was EMPTY on this data (customer and supplier cover
    # the same nation keys), so its driver hash-match proved nothing
    # (r17 verdict #3); this pair has a real difference (121 rows at
    # sf0.01) and keeps the subtract (EXCEPT DISTINCT) shape.
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return o.select(F.col("o_custkey").alias("ck")).subtract(
        c.select(F.col("c_custkey").alias("ck"))
    )
