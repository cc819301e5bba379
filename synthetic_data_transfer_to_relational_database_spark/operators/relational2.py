"""Advanced relational operators: as-of join, pivot, correlated-subquery
pattern, deterministic sampling, exact percentiles.

These extend the core pack (relational.py) with the shapes a reference
user would reach for next — each still a pure DataFrame plan with a
DuckDB oracle. The as-of join is the canonical "operator Spark lacks"
case (SURVEY.md guidance): expressed as the merge-pattern composition
(union + running window max), NOT a range-explosion join — one shuffle
on the key, linear in events, the same plan an ASOF JOIN engine runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import make_registry

QUERIES, ORACLE, q = make_registry()


@q(
    "join_asof",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS is_click FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, 0 FROM events WHERE event_type = 'view'
    ), m AS (
      SELECT user_id, ts, event_id, is_click,
             MAX(CASE WHEN is_click = 0 THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, is_click
                     ROWS UNBOUNDED PRECEDING) AS prior_view_ts
      FROM u
    )
    SELECT event_id AS click_id, user_id, ts AS click_ts, prior_view_ts,
           epoch_us(ts) - epoch_us(prior_view_ts) AS gap_us
    FROM m WHERE is_click = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest view by the same user at or
    before the click. Merge pattern: tag both sides, one window ordered by
    (ts, side) carries the running max view-time forward — equal
    timestamps count as prior (view sorts first). Deterministic even with
    tied view timestamps because only MAX(ts) is carried, never an
    arbitrary tied row."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_click")
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"), F.lit(0).alias("is_click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(views).withColumn(
        "prior_view_ts", F.max(F.when(F.col("is_click") == 0, F.col("ts"))).over(w)
    )
    return merged.filter(F.col("is_click") == 1).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        "prior_view_ts",
        # exact integer microseconds: epoch()::BIGINT in DuckDB ROUNDS
        # while Spark's unix_timestamp FLOORS — micros sidestep both
        (F.unix_micros("ts") - F.unix_micros("prior_view_ts")).alias("gap_us"),
    )


@q(
    "join_full_outer",
    sql="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate
    FROM (SELECT * FROM customer WHERE c_custkey % 7 = 0) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 5 = 0) o
      ON c_custkey = o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null extension on BOTH sides (the filters make
    each side miss rows of the other). Full outer cannot broadcast —
    Spark correctly picks a shuffle join; both inputs are pre-filtered so
    the shuffle carries only the surviving rows."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 5 == 0)
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate"
    )


@q(
    "agg_string",
    sql="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is partition-order-
    dependent, so sort the array before joining — deterministic in both
    engines via the explicit ORDER BY / array_sort."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        F.count(F.lit(1)).alias("n_nations"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@q(
    "pivot_wide",
    sql="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p_urgent,
           COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p_high,
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p_medium,
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
           COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p_low
    FROM orders
    GROUP BY 1
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with EXPLICIT pivot values: passing the value list
    skips the extra distinct-collection job Spark otherwise runs, and
    keeps the plan a single hash aggregation."""
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    renames = dict(
        zip(_PRIORITIES, ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"])
    )
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # pivot-count yields null for empty cells; the SQL FILTER form yields 0
    return out.select(
        "order_month", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()]
    )


@q(
    "above_order_avg",
    sql="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_items,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_cents
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, price_cents, n_items, order_cents
    FROM t
    WHERE 2 * price_cents * n_items > 3 * order_cents
    """,
)
def above_order_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern (items priced >1.5× their order's
    average) decorrelated into a single window pass — no self-join, no
    re-scan. The comparison is pure integer arithmetic (2·p·n > 3·sum),
    exact in both engines."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    t = li.select(
        "l_orderkey",
        "l_linenumber",
        cents.alias("price_cents"),
        F.count(F.lit(1)).over(w).alias("n_items"),
        F.sum(cents).over(w).alias("order_cents"),
    )
    return t.filter(2 * F.col("price_cents") * F.col("n_items") > 3 * F.col("order_cents"))


@q(
    "sample_hash",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE (l_orderkey * 1000003 + l_linenumber) % 10 = 0
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via modular arithmetic on the key —
    reproducible across engines and runs, unlike TABLESAMPLE/rand().
    The predicate pushes to the scan as a row-group filter residual."""
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity").filter(
        (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) % 10 == 0
    )


@q(
    "window_ranks_pct",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ranks_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (ntile / percent_rank /
    cume_dist). The (price, key) total order makes every rank value
    engine-deterministic; percent_rank and cume_dist are single IEEE
    divisions of exact integers.

    The oracle SQL above is the one-window spec, but o_orderpriority has
    FIVE distinct values — ``Window.partitionBy`` on it sorts ~20% of all
    orders through one task each, the same single-task collapse class as
    an unpartitioned window. At scale this is computed via
    ``skew.group_distribution_ranks`` (range-partition the total order,
    broadcast per-slice offsets, local row_number + arithmetic): exact
    same values (tests/test_skew_ranks.py proves bit-equality against the
    naive window), no task ever sorts more than one range slice.

    Like ``relational.window_rank``, the physical form is COST-BASED:
    below ``skew.RANK_SMALL_INPUT_BYTES`` (Catalyst size estimate)
    the one-window plan wins — the distributed derivation's fixed jobs
    (range sampling + checkpoint + offsets collect) cost more than just
    sorting a small input in one task."""
    o = table(spark, sf_dir, "orders")
    proj = o.select("o_orderkey", "o_orderpriority", "o_totalprice")
    from .skew import group_distribution_ranks, small_rank_input

    if small_rank_input(proj, cache_key=("window_ranks_pct", sf_dir)):
        w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
        n = F.count("*").over(Window.partitionBy("o_orderpriority"))
        return proj.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            (F.row_number().over(w).cast("double") / n.cast("double")).alias("cume"),
        )
    ranked = group_distribution_ranks(
        proj,
        "o_orderpriority",
        ["o_totalprice", "o_orderkey"],
        n_tiles=4,
    )
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("__ntile").alias("quartile"),
        F.col("__pct_rank").alias("pct_rank"),
        F.col("__cume_dist").alias("cume"),
    )


@q(
    "scalar_array",
    sql="""
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1]::DOUBLE AS first_d,
           CAST(list_sum(list_transform(embedding[1:8]::DOUBLE[], x -> CAST(ROUND(x * 1000) AS BIGINT))) AS BIGINT) AS head_milli_sum,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive,
           list_sort(embedding[1:4]::DOUBLE[])[4] AS head_max
    FROM embeddings
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function pack over the embedding column: slice, transform,
    filter, sort — the nested-type surface the reference lacks entirely
    (SURVEY.md §1.2: extension surface). Float sums go through integer
    milli-units for cross-engine exactness."""
    e = table(spark, sf_dir, "embeddings")
    head = F.slice(F.col("embedding"), 1, 8)
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_d"),
        F.aggregate(
            F.transform(head, lambda x: F.round(x.cast("double") * 1000).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("head_milli_sum"),
        F.size(F.filter("embedding", lambda x: x.cast("double") > 0)).cast("long").alias(
            "n_positive"
        ),
        F.element_at(
            F.array_sort(F.transform(F.slice("embedding", 1, 4), lambda x: x.cast("double"))), 4
        ).alias("head_max"),
    )


@q(
    "agg_median",
    sql="""
    SELECT l_returnflag,
           quantile_cont(CAST(ROUND(l_quantity * 100) AS BIGINT), 0.5) AS median_qty_cents,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.25) AS p25_price_cents,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.75) AS p75_price_cents,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles over integer cents: both engines
    linear-interpolate between the two neighbors — identical IEEE ops on
    identical exact integers. (percentile_approx is the 100 TB variant;
    it is excluded from oracle checks because its sketch is
    engine-specific.)"""
    li = table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.percentile(qty, F.lit(0.5)).alias("median_qty_cents"),
        F.percentile(price, F.lit(0.25)).alias("p25_price_cents"),
        F.percentile(price, F.lit(0.75)).alias("p75_price_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "join_salted",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity, o_orderstatus
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join, oracle-checked against the PLAIN join —
    salting is a physical rewrite (spread each hot key over n reducers by
    widening the key with a deterministic salt), so the result set must
    be bit-identical to the unsalted equi-join. The oracle proves that
    invariant; operators/skew.py documents when to reach for it over
    AQE's runtime skew splitting."""
    from .skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber", "l_quantity"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"), "o_orderstatus")
    )
    return salted_join(li, o, on="k", n_salts=8).select(
        F.col("k").alias("l_orderkey"), "l_linenumber", "l_quantity", "o_orderstatus"
    )


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped approximate percentiles via percentile_approx — the 100 TB
    path (fixed-size sketch per group, map-side mergeable) next to the
    exact interpolation of agg_median. Rows-only: sketch results are
    engine-specific by design (accuracy=10000 bounds rank error at 1e-4).
    """
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx(cents, 0.5, 10000).alias("p50_price_cents"),
        F.percentile_approx(cents, 0.99, 10000).alias("p99_price_cents"),
        F.count(F.lit(1)).alias("n"),
    )


QUERIES["agg_approx_percentile"] = agg_approx_percentile

@q(
    "agg_mode",
    sql="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rn
      FROM c) t
    WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a DETERMINISTIC
    tie-break (count desc, then value asc). Built as count-then-top-1
    rather than the engines' mode() aggregates, whose tie-breaking is
    implementation-defined — the composed form is the only one that
    hash-matches cross-engine AND the only one that scales: the heavy
    shuffle is the partial-agg-friendly (group, value) count; the
    window runs over group x distinct-value rows (tiny)."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"
        )
    )


@q(
    "unpivot_long",
    sql="""
    WITH w AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
      FROM customer GROUP BY 1
    )
    SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM w
    UNION ALL
    SELECT c_nationkey, 'acctbal_cents' AS metric, acctbal_cents AS value FROM w
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long melt (the inverse of pivot_wide) via DataFrame.unpivot
    — Spark's native Expand-based unpivot, which emits both output rows
    per input row inside one projection, where the oracle's portable
    UNION ALL form scans the aggregate twice. Money sums ride as integer
    cents (module determinism rule).

    Scale notes: one hash aggregation keyed c_nationkey, then a
    map-side Expand — no join, no second scan, no extra shuffle."""
    c = table(spark, sf_dir, "customer")
    wide = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )
    return wide.unpivot(
        ["c_nationkey"], ["n_customers", "acctbal_cents"], "metric", "value"
    )


@q(
    "basket_pairs",
    sql="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: item pairs appearing in the same
    order, with support >= 2 — the candidate-generation step of
    association-rule mining (the same within-group self-join shape as
    text_doc_pairs_jaccard, here keyed by the transaction).

    Scale notes: the self-join is keyed on l_orderkey, so fan-out is
    quadratic ONLY in basket size (single digits for order-like data —
    sum over orders of k², never corpus-quadratic); both the distinct
    and the pair count are partial-agg-friendly hash shuffles carrying
    id pairs. A pathological million-item basket is the df-cap situation
    again: cap basket size upstream or salt that key."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@q(
    "orders_rfm",
    sql="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(MAX(FLOOR(epoch(o_orderdate) / 86400)) AS BIGINT) AS last_day,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), mx AS (
      SELECT MAX(last_day) AS corpus_last FROM rfm
    ), cuts AS (
      SELECT quantile_cont(monetary_cents, 0.25) AS q1,
             quantile_cont(monetary_cents, 0.5)  AS q2,
             quantile_cont(monetary_cents, 0.75) AS q3
      FROM rfm
    )
    SELECT r.o_custkey, mx.corpus_last - r.last_day AS recency_days,
           r.frequency, r.monetary_cents,
           CASE WHEN r.monetary_cents >= cuts.q3 THEN 4
                WHEN r.monetary_cents >= cuts.q2 THEN 3
                WHEN r.monetary_cents >= cuts.q1 THEN 2
                ELSE 1 END AS m_segment
    FROM rfm r CROSS JOIN mx CROSS JOIN cuts
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary, with a
    quartile monetary segment): the canonical value-tiering aggregation.
    Segments come from VALUE CUTPOINTS (quartiles broadcast as a
    1-row aggregate), not a global ntile window — a global ntile is the
    one-partition WindowExec collapse, while cutpoint assignment is
    map-side after one customer-keyed aggregation (the same
    sketch-then-broadcast shape write_zordered uses). The quartiles are
    cost-dispatched like events_anomaly_mad (one shared definition,
    skew.small_percentile_input, threshold
    ``skew.PERCENTILE_SMALL_INPUT_BYTES``): EXACT ungrouped
    `percentile` below the threshold (its state is a value-count map
    over one global group — oracle-hash-matchable, and cheap because
    the input is already one row per customer), ``percentile_approx``'s
    fixed-size mergeable sketch above it (billions of customers at
    100 TB; tolerance-tested). Day arithmetic is epoch floor-division
    (module convention); money rides as integer cents.

    Note ntile vs cutpoints tie semantics differ: ntile forces equal
    bucket COUNTS (ties split arbitrarily — not reproducible across
    engines), cutpoints give equal VALUE ranges with deterministic tie
    handling, which is why this form is the oracle-checkable one."""
    o = table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    rfm = o.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    from .skew import small_percentile_input

    mx = rfm.agg(F.max("last_day").alias("corpus_last"))
    exact = small_percentile_input(rfm, cache_key=("orders_rfm", sf_dir))

    def _pct(p: float):
        if exact:
            return F.percentile("monetary_cents", F.lit(p)).cast("double")
        return F.percentile_approx(
            "monetary_cents", F.lit(p), F.lit(10_000)
        ).cast("double")

    cuts = rfm.agg(
        _pct(0.25).alias("q1"), _pct(0.5).alias("q2"), _pct(0.75).alias("q3")
    )
    seg = (
        F.when(F.col("monetary_cents") >= F.col("q3"), F.lit(4))
        .when(F.col("monetary_cents") >= F.col("q2"), F.lit(3))
        .when(F.col("monetary_cents") >= F.col("q1"), F.lit(2))
        .otherwise(F.lit(1))
    )
    return (
        rfm.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(cuts))
        .select(
            "o_custkey",
            (F.col("corpus_last") - F.col("last_day")).alias("recency_days"),
            "frequency",
            "monetary_cents",
            seg.alias("m_segment"),
        )
    )


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """Wedge-close triangle enumeration over an undirected edge list
    (u, v) with DEGREE-ORDERED orientation: each edge points from its
    lower-(degree, id) endpoint to the higher one, so wedge fan-out at
    any node is bounded by its out-degree in the degree ordering —
    O(sqrt(m)) for every node including hubs (the Schank/Wagner
    refinement the id-ordering lacks: a hub's id-order out-degree is its
    full degree, skew-prone at 100 TB). Each triangle is found exactly
    once and emitted with its three ids ASCENDING BY ID (a < b < c), so
    the output is identical to the id-oriented form — only the join
    fan-out distribution changes.

    Scale shape: one symmetrize + node-keyed count for degrees, two
    id-keyed joins to orient, then the standard two-join wedge-close —
    every shuffle carries id/long pairs only. The input ``edges`` frame
    feeds the symmetrize (twice) plus the orientation join, and the
    oriented frame feeds three join sides — both are cache()d so each
    derivation (often an expensive pair-count self-join upstream) runs
    once (caller clears the session cache when done — the bench/driver
    contract)."""
    edges = edges.cache()
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u").alias("du_id"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("dv_id"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, F.col("u") == F.col("du_id"))
        .join(dv, F.col("v") == F.col("dv_id"))
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .cache()
    )
    e1 = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = oriented.select(F.col("s").alias("y2"), F.col("t").alias("z"))
    e3 = oriented.select(F.col("s").alias("x3"), F.col("t").alias("z3"))
    ids = F.array_sort(F.array("x", "y", "z"))
    return (
        e1.join(e2, F.col("y2") == F.col("y"))
        .join(e3, (F.col("x3") == F.col("x")) & (F.col("z3") == F.col("z")))
        .select(
            ids.getItem(0).alias("a"),
            ids.getItem(1).alias("b"),
            ids.getItem(2).alias("c"),
        )
    )


@q(
    "graph_triangles",
    sql="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the basket co-occurrence graph (items
    bought together in >= 2 orders): the canonical distributed graph
    primitive behind clustering coefficients and community detection.
    Delegates to :func:`oriented_triangles` — degree-ordered wedge-close,
    hub-safe fan-out, output canonically a < b < c by id (bit-equal to
    the id-oriented form; invariant-locked in tests/test_llm_ops.py)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    la = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    lb = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("v"))
    edges = (
        la.join(lb, (F.col("k") == F.col("k2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    return oriented_triangles(edges)


def pagerank(edges: DataFrame, n_iter: int = 10, damping: float = 0.85) -> DataFrame:
    """Power-iteration PageRank over an undirected edge list (u, v) —
    the iterative-numeric counterpart to dedup.connected_components'
    iterative-structural loop. Returns (u, rank, deg) for every node
    incident to an edge.

    Scale shape per iteration: one join of the (symmetrized) edges
    against the current ranks keyed on the source, one neighbor-keyed
    partial-agg sum — both shuffles carry (id, double). The driver loop
    is PLAN construction only; lineage is cut every 3 rounds with
    ``checkpoint_pinned`` (the same plan-growth hazard the CC loop
    documents — uncut, the logical plan doubles per iteration). Every
    node in the undirected graph has degree >= 1, so there is no
    dangling-mass term."""
    from .skew import checkpoint_pinned

    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).cache()
    nodes = deg.select("u")
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(n_iter):
        contribs = (
            sym.join(ranks, "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("u"), (F.col("rank") / F.col("deg")).alias("c")
            )
        )
        sums = contribs.groupBy("u").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "u", "left").select(
            "u",
            (
                F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0:
            ranks = checkpoint_pinned(ranks, eager=True)
    return ranks.join(deg, "u")


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the basket co-occurrence graph (the basket_pairs
    edge set): which items sit at the center of the bought-together
    network. Rows-only by design: ten damped double-sum iterations are
    order-sensitive in the last ulps, so no engine-exact SQL twin exists
    (the invariants — mass conservation, symmetry, hand-computed small
    graphs — are pytest-locked instead, tests/test_llm_ops.py)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    return pagerank(edges).select(
        F.col("u").alias("part_id"), "rank", "deg"
    )


QUERIES["graph_pagerank"] = graph_pagerank


@q(
    "window_first_last",
    sql="""
    SELECT o_orderkey, o_custkey,
           CAST(FIRST_VALUE(ROUND(o_totalprice * 100)) OVER w AS BIGINT)
             AS first_price_cents,
           CAST(LAST_VALUE(ROUND(o_totalprice * 100)) OVER w AS BIGINT)
             AS last_price_cents,
           CAST(NTH_VALUE(ROUND(o_totalprice * 100), 2) OVER w AS BIGINT)
             AS second_price_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over a whole-partition frame
    — the customer's first, latest, and second order value side by side
    (completing the window-function matrix next to rank/lag/frames).
    The frame is explicitly UNBOUNDED FOLLOWING: the default frame stops
    at CURRENT ROW, which silently turns LAST_VALUE into "current value"
    — the classic window gotcha, pinned identically in both engines.
    The order is totalized with (o_orderdate, o_orderkey); values ride
    as integer cents.

    Scale notes: one shuffle on o_custkey (high-cardinality key); an
    unbounded-both-ends frame is evaluated once per partition, not per
    row."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first(cents).over(w).cast("long").alias("first_price_cents"),
        F.last(cents).over(w).cast("long").alias("last_price_cents"),
        F.nth_value(cents, 2).over(w).cast("long").alias("second_price_cents"),
    )


@q(
    "skew_profile",
    sql="""
    WITH per_key AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_cnt,
             quantile_cont(cnt, 0.5) AS p50_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt
      FROM per_key
    ), top AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rnk
      FROM per_key
    )
    SELECT t.rnk, t.key, t.cnt,
           s.n_keys, s.n_rows, s.max_cnt, s.p50_cnt, s.p99_cnt,
           CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows AS skew_ratio
    FROM top t CROSS JOIN stats s
    WHERE t.rnk <= 10
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key count distribution (p50/p99/
    max), the top-10 heaviest keys, and the max-to-mean skew ratio — the
    query you run BEFORE choosing between a plain shuffle join,
    skew.salted_join, or an AQE skew hint. skew_ratio ~1 means uniform;
    >> 1 means the hottest reducer does that multiple of the average
    reducer's work.

    Scale notes: one partial-agg-friendly count by key; everything after
    operates on the KEY-cardinality frame (counts, not rows) — which can
    itself be billions of keys, so the top-10 is a distributed
    TakeOrderedAndProject (per-partition partial top-k, never a global
    unpartitioned window; the rank is then a window over the 10
    surviving rows only) and the 1-row stats frame broadcasts back
    (whitelisted 1-row crossJoin shape). The exact percentiles here are
    over one value PER KEY; with billions of keys swap in the
    percentile_approx dispatch exactly as orders_rfm does."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_cnt"),
    )
    top10 = per_key.orderBy(F.desc("cnt"), "key").limit(10)
    w = Window.orderBy(F.desc("cnt"), "key")
    top = top10.withColumn("rnk", F.row_number().over(w))
    return top.crossJoin(F.broadcast(stats)).select(
        "rnk",
        "key",
        "cnt",
        "n_keys",
        "n_rows",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        (F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows")).alias(
            "skew_ratio"
        ),
    )


@q(
    "snapshot_merge_upsert",
    sql="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 3 <> 0
    ), changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'delete'
                  WHEN o_orderkey % 3 = 0 THEN 'insert'
                  ELSE 'update' END AS op,
             o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS price_cents
      FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
    )
    SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(c.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(c.price_cents, b.price_cents) AS price_cents,
           CASE WHEN c.o_orderkey IS NULL THEN 'kept'
                WHEN b.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_op
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    WHERE COALESCE(c.op, '') <> 'delete'
    """,
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (the Delta/Iceberg MERGE INTO semantics on plain
    parquet frames): a change feed with insert/update/delete ops applied
    to a snapshot in ONE full-outer join — change rows win, deletes drop
    the key, unmatched base rows carry forward, and every output row is
    tagged with what happened to it. The inputs are carved
    deterministically from `orders` (keys %3 missing from the snapshot
    arrive as inserts, %5 as updates with +500 cents, %7 among the
    changes as deletes) so both engines replay the identical merge.

    Scale notes: THE CDC-compaction shape at 100 TB — one key-keyed
    full-outer shuffle join (full outer cannot broadcast, correctly),
    no window, no per-key state; AQE handles a skewed change feed. In a
    real pipeline the snapshot side is bucketed/partitioned by the merge
    key so only changed partitions rewrite (sinks/parquet_layout's
    bucketed writer is that layout)."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", cents.alias("price_cents")
    )
    changes = (
        o.filter((F.col("o_orderkey") % 3 == 0) | (F.col("o_orderkey") % 5 == 0))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
            .when(F.col("o_orderkey") % 3 == 0, F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("op"),
            "o_custkey",
            (cents + 500).alias("price_cents"),
        )
    )
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    return merged.filter(
        F.coalesce(F.col("c.op"), F.lit("")) != "delete"
    ).select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
        F.coalesce(F.col("c.price_cents"), F.col("b.price_cents")).alias("price_cents"),
        F.when(F.col("c.o_orderkey").isNull(), F.lit("kept"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("merge_op"),
    )


@q(
    "orders_cohort_ltv",
    sql="""
    WITH o AS (
      SELECT o_custkey,
             CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), firsts AS (
      SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY 1
    ), sizes AS (
      SELECT cohort, COUNT(*) AS n_customers FROM firsts GROUP BY 1
    ), per AS (
      SELECT f.cohort,
             (YEAR(o.m) * 12 + MONTH(o.m))
               - (YEAR(f.cohort) * 12 + MONTH(f.cohort)) AS months_since,
             CAST(SUM(o.cents) AS BIGINT) AS spend_cents
      FROM o JOIN firsts f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT p.cohort, p.months_since, s.n_customers,
           CAST(SUM(p.spend_cents) OVER (PARTITION BY p.cohort
                                         ORDER BY p.months_since
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(SUM(p.spend_cents) OVER (PARTITION BY p.cohort
                                         ORDER BY p.months_since
                                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / s.n_customers AS ltv_cents_per_customer
    FROM per p JOIN sizes s USING (cohort)
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, cumulative spend per customer tracked by months-since-cohort
    — the retention-economics query every subscription/commerce pipeline
    serves. Month arithmetic is integer (year·12+month), money is
    integer cents, and LTV is one IEEE division of exact values.

    Scale notes: two customer-keyed aggregations (first order, then the
    join-back — AQE broadcasts the firsts frame only when customers are
    few) and one (cohort, month) aggregation; the running cumulative sum
    is a window over the COHORT×MONTH matrix (hundreds of rows at any
    corpus size — aggregate first, window the aggregate: the same
    discipline as events_rollup_hierarchy)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    months = (F.year("m") * 12 + F.month("m")) - (
        F.year("cohort") * 12 + F.month("cohort")
    )
    per = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort", months.alias("months_since"))
        .agg(F.sum("cents").alias("spend_cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("spend_cents").over(w)
    return per.join(sizes, "cohort").select(
        "cohort",
        "months_since",
        "n_customers",
        cum.cast("long").alias("cum_cents"),
        (cum.cast("double") / F.col("n_customers")).alias("ltv_cents_per_customer"),
    )


@q(
    "lineitem_yoy_growth",
    sql="""
    WITH rev AS (
      SELECT n.n_name, YEAR(o.o_orderdate) AS yr,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, yr, rev_cents,
           LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev_cents,
           CAST(rev_cents - LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY yr)
                AS DOUBLE)
             / LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY yr) AS yoy_pct
    FROM rev
    """,
)
def lineitem_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: the period-comparison
    report without a self-join — aggregate to (nation, year) first, then
    one lag window over the tiny aggregate (25 nations × a few years).
    First year is NULL growth on both engines. Revenue rides as integer
    cents per line (rounded before summing, order-independent); growth
    is one IEEE division of exact integers.

    Scale notes: the 4-way join + agg is the revenue_by_nation shape
    (dates/columns pruned into the scans, fixed-cardinality nation
    broadcast by AQE); the window touches only the aggregate."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return rev.select(
        "n_name",
        "yr",
        "rev_cents",
        prev.alias("prev_cents"),
        ((F.col("rev_cents") - prev).cast("double") / prev).alias("yoy_pct"),
    )


@q(
    "data_quality_profile",
    sql="""
    WITH base AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT 'o_orderkey' AS col_name, b.n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders, base b GROUP BY b.n_rows
    UNION ALL
    SELECT 'o_custkey', b.n_rows, COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders, base b GROUP BY b.n_rows
    UNION ALL
    SELECT 'o_orderdate', b.n_rows, COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders, base b GROUP BY b.n_rows
    UNION ALL
    SELECT 'o_totalprice_cents', b.n_rows,
           COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT CAST(ROUND(o_totalprice * 100) AS BIGINT)),
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
    FROM orders, base b GROUP BY b.n_rows
    UNION ALL
    SELECT 'o_orderpriority', b.n_rows, COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders, base b GROUP BY b.n_rows
    """,
)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile quality report for the ingest gate (the dbt-test /
    Deequ shape): per column — row count, null count, distinct count,
    min/max as strings — emitted as one row per column so downstream
    assertions are data, not code. Money profiles as integer cents and
    dates as ISO strings so both engines render identically.

    Scale notes: ONE aggregation pass computes every metric (the
    oracle's five scans are the spec, not the plan); the per-column rows
    come from a stack() over the 1-row aggregate. COUNT(DISTINCT x) for
    five columns in one agg expands via Spark's standard multi-distinct
    rewrite — at extreme scale swap approx_count_distinct per the
    agg_approx_distinct twin."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("nn_key"),
        F.countDistinct("o_orderkey").alias("nd_key"),
        F.min("o_orderkey").cast("string").alias("mn_key"),
        F.max("o_orderkey").cast("string").alias("mx_key"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        F.min("o_orderdate").cast("string").alias("mn_date"),
        F.max("o_orderdate").cast("string").alias("mx_date"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("nn_price"),
        F.countDistinct(cents).alias("nd_price"),
        F.min(cents).cast("string").alias("mn_price"),
        F.max(cents).cast("string").alias("mx_price"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").cast("string").alias("mn_prio"),
        F.max("o_orderpriority").cast("string").alias("mx_prio"),
    )
    return a.selectExpr(
        """stack(5,
          'o_orderkey', nn_key, nd_key, mn_key, mx_key,
          'o_custkey', nn_cust, nd_cust, mn_cust, mx_cust,
          'o_orderdate', nn_date, nd_date, mn_date, mx_date,
          'o_totalprice_cents', nn_price, nd_price, mn_price, mx_price,
          'o_orderpriority', nn_prio, nd_prio, mn_prio, mx_prio
        ) AS (col_name, n_null, n_distinct, min_val, max_val)""",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


# user_erasure_audit's demo cohort: c_custkey % _DEMO_COHORT_MOD == 0.
# Real cohorts are passed to erasure_audit(erasure_list=...).
_DEMO_COHORT_MOD = 97


@q(
    "user_erasure_audit",
    sql=f"""
    WITH victims AS (
      SELECT c_custkey AS key FROM customer WHERE c_custkey % {_DEMO_COHORT_MOD} = 0
    )
    SELECT 'customer' AS table_name,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT c_custkey) AS n_subjects
    FROM customer JOIN victims ON c_custkey = key
    UNION ALL
    SELECT 'orders', COUNT(*), COUNT(DISTINCT o_custkey)
    FROM orders JOIN victims ON o_custkey = key
    UNION ALL
    SELECT 'lineitem', COUNT(*), COUNT(DISTINCT o_custkey)
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN victims ON o_custkey = key
    UNION ALL
    SELECT 'events', COUNT(*), COUNT(DISTINCT user_id)
    FROM events JOIN victims ON user_id = key
    """,
)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit over the default demo cohort:
    delegates to :func:`erasure_audit` with no erasure list, which
    selects ``c_custkey % _DEMO_COHORT_MOD == 0`` (97 — the oracle's
    cohort). Real compliance runs pass their
    uploaded erasure list as a DataFrame to :func:`erasure_audit`."""
    return erasure_audit(spark, sf_dir)


def erasure_audit(
    spark: SparkSession, sf_dir: str, erasure_list: DataFrame | None = None
) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion cohort —
    ``erasure_list``, a DataFrame whose single column holds subject keys
    (any column name), or, when omitted, the deterministic
    ``c_custkey % _DEMO_COHORT_MOD`` demo stand-in — report
    how many rows in every table reference those subjects — directly
    (customer, orders, events) and transitively through the FK graph
    (lineitem via orders). The query compliance teams run BEFORE
    executing a GDPR/CCPA purge, and the natural dual of this repo's
    FK-aware generation engine: the same dependency knowledge that
    orders inserts parent-first orders deletions child-first.

    Scale notes: the victim list is an id-only frame — AQE broadcasts it
    into each probe, so every count is one semi-join-shaped scan with
    the filter pushed to the fact side; the lineitem hop joins fact →
    orders (key-keyed) before the broadcast probe. No shuffle carries
    more than (ids, counts)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")
    if erasure_list is None:
        victims = c.filter(F.col("c_custkey") % _DEMO_COHORT_MOD == 0).select(
            F.col("c_custkey").alias("key")
        )
    else:
        (key_col,) = erasure_list.columns
        victims = erasure_list.select(F.col(key_col).alias("key")).distinct()

    def audit(df: DataFrame, on: str, name: str, subject: str) -> DataFrame:
        # no broadcast hint: a realistic erasure list is small and AQE
        # converts at runtime, but a court-ordered bulk purge can be
        # millions of ids — forcing the hint would pin that on the driver
        return (
            df.join(victims, F.col(on) == F.col("key"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(subject).alias("n_subjects"),
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "n_subjects")
        )

    li_orders = li.join(o, o.o_orderkey == li.l_orderkey)
    return (
        audit(c, "c_custkey", "customer", "c_custkey")
        .unionByName(audit(o, "o_custkey", "orders", "o_custkey"))
        .unionByName(audit(li_orders, "o_custkey", "lineitem", "o_custkey"))
        .unionByName(audit(e, "user_id", "events", "user_id"))
    )


@q(
    "lineitem_discount_revenue",
    sql="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_increase_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
      AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def lineitem_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate — how much revenue the year's small-quantity
    mid-discount lines carried. Per-line discount revenue rounds to
    integer cents BEFORE summing (order-independent, engine-exact).

    Scale notes: the benchmark's pure scan stressor — every predicate
    (shipdate range, discount band, quantity) reaches the parquet scan
    as PushedFilters, only 4 of 16 columns are read, and the aggregate
    is a 1-group partial sum. If this plan ever shows an Exchange before
    the partial agg or a full-width ReadSchema, the scan path has
    regressed (plan-locked in tests/test_plans.py sweeps)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
            ).alias("revenue_increase_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "basket_rules",
    sql="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.part_a AS antecedent, p.part_b AS consequent, p.n_pair,
           ia.n_item AS n_antecedent, ib.n_item AS n_consequent,
           CAST(p.n_pair AS DOUBLE) / ia.n_item AS confidence,
           CAST(p.n_pair AS DOUBLE) / ia.n_item
             / (CAST(ib.n_item AS DOUBLE) / n.n_baskets) AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n
    """,
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (antecedent → consequent with confidence and
    lift) on top of the basket_pairs co-occurrence counts — the Apriori
    output retailers actually consume: confidence = P(b|a), lift =
    confidence / P(b), lift > 1 meaning genuinely bought-together
    rather than both-just-popular. One rule per canonical pair
    (a < b); the reverse direction is the same counts with the roles
    swapped. Counts are exact integers; confidence and lift are
    two IEEE divisions in pinned order.

    Scale notes: everything after the basket-keyed pair count
    (basket_pairs' shape, quadratic only in basket size) operates on
    ITEM- and PAIR-cardinality frames keyed on part ids; the basket
    total rides as a 1-row broadcast (whitelisted BNLJ shape)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    item = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    ia = item.select(F.col("part").alias("pa"), F.col("n_item").alias("n_antecedent"))
    ib = item.select(F.col("part").alias("pb"), F.col("n_item").alias("n_consequent"))
    conf = F.col("n_pair").cast("double") / F.col("n_antecedent")
    lift = conf / (F.col("n_consequent").cast("double") / F.col("n_baskets"))
    return (
        pair.join(ia, F.col("part_a") == F.col("pa"))
        .join(ib, F.col("part_b") == F.col("pb"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("part_a").alias("antecedent"),
            F.col("part_b").alias("consequent"),
            "n_pair",
            "n_antecedent",
            "n_consequent",
            conf.alias("confidence"),
            lift.alias("lift"),
        )
    )
