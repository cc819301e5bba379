"""Time-window operators over the ``events`` table: tumbling, sliding,
session (SURVEY.md §2.3 ``events_*`` rows).

Batch-first so each has a DuckDB oracle; streaming/events_stream.py reuses
the identical aggregation expressions behind ``readStream`` +
``withWatermark`` (same logical plan, incremental execution).

Window arithmetic is done in epoch seconds (timezone-free), so results are
stable regardless of session TZ. Value sums use integer cents (see
operators/_registry.py).

Scale notes: tumbling/sliding are plain hash aggregations keyed by
(window, ...) — partial-agg friendly, no shuffle beyond the final groupBy.
Session windows shuffle once on user_id; Spark's session_window merges
per-key sorted runs (same cost shape as the SQL gap-and-islands oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import hash_bucket, make_registry

QUERIES, ORACLE, q = make_registry()


def _cents(c):
    return F.round(F.col(c) * 100).cast("long")


@q(
    "events_tumbling",
    sql="""
    SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "value_cents")
    )


@q(
    "events_sliding",
    sql="""
    WITH base AS (
      SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS b, ts, value
      FROM events
    ), assigned AS (
      SELECT b AS win_start, ts, value FROM base
      UNION ALL
      SELECT b - INTERVAL 30 MINUTE, ts, value FROM base
    )
    SELECT win_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM assigned
    WHERE ts >= win_start AND ts < win_start + INTERVAL 60 MINUTE
    GROUP BY win_start
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1h windows sliding every 30min: each event lands in exactly 2 windows.
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "value_cents")
    )


@q(
    "events_session",
    sql="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), grouped AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM grouped
    GROUP BY user_id, session_id
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark session semantics: window is [start, last_ts + gap); an event at
    # exactly prev_ts + gap starts a NEW session — the oracle's `>=` matches.
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


@q(
    "events_gap_islands",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
      FROM events
    )
    SELECT user_id, event_type,
           rn - rn_t AS island,
           COUNT(*) AS run_len,
           MIN(ts) AS run_start
    FROM ordered
    GROUP BY user_id, event_type, rn - rn_t
    """,
)
def events_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consecutive-run detection (classic gaps-and-islands) as a window
    # composition — no UDF, no state.
    e = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.row_number().over(w_all).alias("rn"),
            F.row_number().over(w_typ).alias("rn_t"),
        )
        .withColumn("island", (F.col("rn") - F.col("rn_t")).cast("long"))
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).alias("run_len"), F.min("ts").alias("run_start"))
    )


@q(
    "events_funnel",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           c.user_id IS NOT NULL AS reached_click,
           p.user_id IS NOT NULL AS reached_purchase
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per user, the
    first view, the first click AFTER that view, the first purchase AFTER
    that click, plus stage-reached flags — the product-analytics query
    every event pipeline serves.

    Shape: one conditional MIN aggregation per stage, each keyed by
    user_id with the previous stage's timestamp joined in as the lower
    bound. Every aggregation is map-side-partial friendly and every join
    is a user_id equi-join over per-user SINGLE rows — the stage frames
    are user-cardinality-sized (billions of users ⇒ a user_id-keyed
    shuffle join; AQE broadcasts them only when the population is small)
    but never event-cardinality-sized, and there is no window over a
    user's full event history and no per-user sort, unlike the
    sessionize-then-scan formulation."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


@q(
    "events_retention_cohorts",
    sql="""
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM activity GROUP BY user_id
    )
    SELECT CAST(to_timestamp(cohort_wk * 604800) AS TIMESTAMP) AS cohort_week,
           wk - cohort_wk AS week_offset,
           COUNT(*) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST active week,
    counted in every later week they return — the per-cohort retention
    curve every activity dashboard is built on (new in round 4; the
    reference has no aggregation surface at all, SURVEY.md §2.2).

    Week buckets are epoch-seconds floor-division (the module's
    calendar-free convention — identical arithmetic on both engines),
    not date_trunc.

    Scale notes: `activity` is one distinct shuffle keyed (user_id, wk)
    — bounded by users × active weeks, with map-side partial dedup; the
    cohort week is a per-user window MIN (user_id is a HIGH-cardinality
    partition key — billions of tiny partitions, the shape windows are
    good at — so no low-cardinality funnel), which avoids the
    self-join formulation's duplicated activity subtree (8 exchanges →
    3); the final groupBy is (cohorts × offsets)-sized — tiny."""
    e = table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    activity = e.select("user_id", wk.alias("wk")).distinct()
    w = Window.partitionBy("user_id")
    cohorts = activity.withColumn("cohort_wk", F.min("wk").over(w))
    return (
        cohorts.groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.timestamp_seconds(F.col("cohort_wk") * 604800).alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


@q(
    "events_rolling_active",
    sql="""
    WITH du AS (
      SELECT DISTINCT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             event_type, user_id
      FROM events
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM du
    ), contrib AS (
      SELECT du.day + t.off AS day_t, du.event_type, du.user_id
      FROM du CROSS JOIN range(0, 7) t(off)
    )
    SELECT CAST(to_timestamp(day_t * 86400) AS TIMESTAMP) AS day,
           event_type,
           COUNT(DISTINCT user_id) AS active_users_7d
    FROM contrib CROSS JOIN bounds
    WHERE day_t BETWEEN lo AND hi
    GROUP BY 1, 2
    """,
)
def events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per (day, event_type).
    A distinct count over a sliding range is the one windowed metric
    plain window frames cannot do (COUNT(DISTINCT) OVER a RANGE frame is
    unsupported in both engines), so this uses the scale-canonical
    contribute-forward shape: each (day, user) fact is exploded to the
    <=7 report days it contributes to, then one distinct aggregation per
    report day. Day buckets are epoch floor-division (module
    convention, calendar-free).

    Scale notes: the explode is map-side (x7, id-sized rows — never
    event payloads); the only shuffles are the (day, user) dedup and the
    final per-day distinct — both partial-agg friendly. The alternative
    days-to-facts range join is a BroadcastNestedLoopJoin the catalog
    bans. Bounds ride in as a broadcast 1-row aggregate crossJoin (lazy,
    same as the oracle's CROSS JOIN bounds)."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    # du feeds both the bounds aggregate and the explode; cache() keeps
    # it one events pass instead of two (id-sized rows)
    du = e.select(day.alias("day"), "event_type", "user_id").distinct().cache()
    bounds = du.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "event_type",
        "user_id",
    ).select((F.col("day") + F.col("off")).alias("day_t"), "event_type", "user_id")
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("day_t").between(F.col("lo"), F.col("hi")))
        .groupBy("day_t", "event_type")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(
            F.timestamp_seconds(F.col("day_t") * 86400).alias("day"),
            "event_type",
            "active_users_7d",
        )
    )


@q(
    "events_gapfill",
    sql="""
    WITH agg AS (
      SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT MIN(hr) AS lo, MAX(hr) AS hi,
             list(DISTINCT event_type) AS types
      FROM agg
    ), scaffold AS (
      SELECT u.hr, t.event_type
      FROM b, unnest(generate_series(b.lo, b.hi)) u(hr),
           unnest(b.types) t(event_type)
    )
    SELECT CAST(to_timestamp(s.hr * 3600) AS TIMESTAMP) AS hour,
           s.event_type,
           COALESCE(a.n_events, 0) AS n_events,
           (a.n_events IS NULL) AS gap_filled
    FROM scaffold s
    LEFT JOIN agg a ON a.hr = s.hr AND a.event_type = s.event_type
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense zero-filled (hour x event_type) scaffold over the observed
    time range — the gap-filling step every downsampled time series /
    anomaly baseline needs (an hour with no events must report 0, not be
    absent). `gap_filled` marks synthesized rows.

    Scale notes: the only corpus-sized work is the (hr, type) hash
    aggregation (partial-agg friendly). The scaffold derives from ONE
    1-row aggregate by two chained explodes (sequence of hours, then the
    collected type set) — no cross join, so no CartesianProduct in the
    plan; it is hours x types sized and the left join back to the
    aggregate is between two aggregate-sized frames, broadcast-able by
    AQE."""
    e = table(spark, sf_dir, "events")
    agg = (
        e.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    b = agg.agg(
        F.min("hr").alias("lo"),
        F.max("hr").alias("hi"),
        F.collect_set("event_type").alias("types"),
    )
    scaffold = (
        b.select(F.explode(F.sequence("lo", "hi")).alias("hr"), "types")
        .select("hr", F.explode("types").alias("event_type"))
    )
    a = agg.alias("a")
    s = scaffold.alias("s")
    return (
        s.join(
            a,
            (F.col("a.hr") == F.col("s.hr"))
            & (F.col("a.event_type") == F.col("s.event_type")),
            "left",
        )
        .select(
            F.timestamp_seconds(F.col("s.hr") * 3600).alias("hour"),
            F.col("s.event_type").alias("event_type"),
            F.coalesce(F.col("a.n_events"), F.lit(0)).alias("n_events"),
            F.col("a.n_events").isNull().alias("gap_filled"),
        )
    )


@q(
    "events_user_paths",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each user's
    time-ordered event sequence, count (previous event type → next event
    type) transitions corpus-wide — the sequential-pattern / Markov-chain
    aggregation behind path analysis and next-action models. The order
    is totalized with (ts, event_id) so ties cannot flip a transition
    between engines.

    Scale notes: ONE shuffle keyed user_id for the lag window (user_id
    is a HIGH-cardinality partition key — billions of small partitions,
    the shape WindowExec is good at), then a (prev, next) hash agg over
    type-pair cardinality rows (tiny, partial-agg friendly)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@q(
    "events_anomaly_mad",
    sql="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM e GROUP BY event_type
    ), dev AS (
      SELECT e.event_id, e.event_type, e.cents, med.med,
             ABS(e.cents - med.med) AS dev
      FROM e JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.cents AS value_cents,
           d.med AS median_cents, mad.mad AS mad_cents,
           (d.cents - d.med) / (1.4826 * mad.mad) AS robust_z
    FROM dev d JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND ABS((d.cents - d.med) / (1.4826 * mad.mad)) > 3.5
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: flag events whose value
    sits more than 3.5 robust z-scores (median ± 1.4826·MAD — the
    median-absolute-deviation estimator that a few extreme points cannot
    drag, unlike mean/stddev) from their type's center.

    Determinism: values ride as integer cents; the exact interpolated
    median (the agg_median recipe) and every subsequent step are
    identical IEEE double ops on identical operands. mad = 0 groups are
    excluded (both engines) rather than dividing by zero.

    Scale notes: `event_type` is LOW-cardinality, so exact grouped
    `percentile` buffers a per-group value-count map whose size grows
    with distinct values — a giant single-reducer state per type at
    100 TB. Cost-based dispatch (the window_rank pattern, one shared
    definition in skew.small_percentile_input, threshold
    ``skew.PERCENTILE_SMALL_INPUT_BYTES``): EXACT interpolated
    percentile below the threshold — DuckDB-hash-matchable, the
    CORRECTNESS branch — and ``percentile_approx``'s fixed-size
    mergeable KLL-style sketch above it (map-side combinable, state
    independent of group size; tolerance-tested in
    tests/test_llm_ops.py). Both branches are the same plan shape: two
    grouped percentile passes, per-type stats joined back via AQE
    broadcast (one row per event type). No window, no per-group
    funnel."""
    from .skew import small_percentile_input

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    exact = small_percentile_input(e, cache_key=("events_anomaly_mad", sf_dir))

    def _median(col: str):
        if exact:
            return F.percentile(col, F.lit(0.5)).cast("double")
        return F.percentile_approx(col, F.lit(0.5), F.lit(10_000)).cast("double")

    med = e.groupBy("event_type").agg(_median("cents").alias("med"))
    dev = e.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(_median("dev").alias("mad"))
    rz = (F.col("cents") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(mad, "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "event_id",
            "event_type",
            F.col("cents").alias("value_cents"),
            F.col("med").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
            rz.alias("robust_z"),
        )
    )


_ROLLUP_LEVEL_SQL = """
    SELECT '{res}' AS resolution,
           CAST(DATE_TRUNC('{res}', ts) AS TIMESTAMP) AS win_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 2
"""


@q(
    "events_rollup_hierarchy",
    sql=" UNION ALL ".join(
        _ROLLUP_LEVEL_SQL.format(res=r) for r in ("hour", "day", "month")
    ),
)
def events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (hour / day / month in one result, tagged
    by ``resolution``) built as a CASCADE: the day level aggregates the
    HOURLY AGGREGATE, the month level aggregates the daily one — the
    TimescaleDB/Druid continuous-aggregate pattern. Counts and integer
    cents are re-aggregable (additive), so the cascade is exact; the
    oracle computes each level directly from raw events and must match
    bit-for-bit.

    Scale notes: this is THE shape for time-series rollups at 100 TB —
    the raw table is touched ONCE (hour pass); day aggregates ~24× fewer
    rows, month ~30× fewer again, so the extra resolutions cost ~4% of a
    second raw scan. Spark has no cross-branch CSE, so the hour and day
    frames are cache()d (time-key cardinality — tiny next to raw; the
    caller-clearCache contract, operators/__init__) — without the cache
    each union branch would re-derive its input FROM THE RAW SCAN,
    silently turning the cascade into three full scans. In a persistent
    pipeline these intermediates are parquet tables, not cache (that IS
    the continuous-aggregate pattern). Each level is a
    partial-agg-friendly hash aggregation on a time key; the union is
    plan-level only (no shuffle). Non-additive measures (distinct users)
    ride as mergeable sketches instead — see agg_sketch_union."""
    e = table(spark, sf_dir, "events").select(
        F.col("ts"), _cents("value").alias("cents")
    )
    hour = (
        e.groupBy(F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("value_cents"))
        .cache()
    )
    day = (
        hour.groupBy(F.date_trunc("day", "win_start").alias("win_start"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("value_cents").alias("value_cents"))
        .cache()
    )
    month = day.groupBy(F.date_trunc("month", "win_start").alias("win_start")).agg(
        F.sum("n_events").alias("n_events"), F.sum("value_cents").alias("value_cents")
    )

    def _tag(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"), "win_start", "n_events", "value_cents"
        )

    return _tag(hour, "hour").unionByName(_tag(day, "day")).unionByName(
        _tag(month, "month")
    )


@q("agg_sketch_union")
def agg_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HLL SKETCHES computed
    in two levels: a per-(day, type) Datasketches HLL sketch first, then
    a sketch UNION per type — the pre-aggregation pattern for
    non-additive measures (a day's sketch is built once and reused by
    every coarser rollup/backfill, the events_rollup_hierarchy cascade
    applied to COUNT DISTINCT). Rows-only by design: the estimate is
    sketch-implementation-defined (DuckDB's approx_count_distinct is a
    different HLL); the error bound vs exact distinct is pytest-locked
    (tests/test_scale_refinements.py).

    Scale notes: both levels are partial-agg-friendly (sketches merge
    associatively map-side); the shuffle carries fixed-size sketch bytes
    (~KB at lgK=12, error ~1.6%), never user ids — the whole point at
    100 TB, where the distinct-user set itself would not fit a reducer.
    The day level is also what an incremental pipeline persists: late
    data re-sketches ONE day, the union re-runs over ~365 sketch rows."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_day_sketches"),
        )
        .select("event_type", "approx_users", "n_day_sketches")
    )


@q(
    "events_forecast_baseline",
    sql="""
    WITH daily AS (
      SELECT event_type,
             CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), hist AS (
      SELECT event_type, dayofweek(day) AS dow,
             COUNT(*) AS n_days,
             CAST(SUM(n) AS BIGINT) AS total_events,
             MAX(day) AS last_day
      FROM daily GROUP BY 1, 2
    )
    SELECT h.event_type, h.dow, h.n_days, h.total_events,
           CAST(h.total_events AS DOUBLE) / h.n_days AS forecast_events,
           d.n AS last_actual,
           ABS(CAST(h.total_events AS DOUBLE) / h.n_days - d.n) AS abs_err
    FROM hist h
    JOIN daily d ON d.event_type = h.event_type AND d.day = h.last_day
    """,
)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline: expected events per
    (type, day-of-week) = the historical mean for that weekday, scored
    against the most recent occurrence of each weekday — the sanity
    floor every real forecasting pipeline must beat, and the
    capacity-planning query ops teams actually run. Counts are exact
    integers; the mean and error are single IEEE divisions/subtractions
    of exact values (both engines agree bit-for-bit). DuckDB's
    dayofweek is 0-6 Sunday-first; Spark's dayofweek is 1-7 — the
    Spark side subtracts 1 to pin the same numbering.

    Scale notes: the raw table collapses to (type, day) in one
    partial-agg pass; everything after runs on the tiny daily frame
    (the aggregate-then-analyze discipline of events_rollup_hierarchy
    and orders_cohort_ltv)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    hist = daily.groupBy(
        "event_type", (F.dayofweek("day") - 1).alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("total_events"),
        F.max("day").alias("last_day"),
    )
    fc = F.col("total_events").cast("double") / F.col("n_days")
    d = daily.alias("d")
    return (
        hist.alias("h")
        .join(
            d,
            (F.col("d.event_type") == F.col("h.event_type"))
            & (F.col("d.day") == F.col("h.last_day")),
        )
        .select(
            F.col("h.event_type").alias("event_type"),
            "dow",
            "n_days",
            "total_events",
            fc.alias("forecast_events"),
            F.col("d.n").alias("last_actual"),
            F.abs(fc - F.col("d.n")).alias("abs_err"),
        )
    )


@q(
    "events_attribution",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS is_buy FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 FROM events WHERE event_type = 'click'
    ), m AS (
      SELECT user_id, ts, event_id, is_buy,
             MAX(CASE WHEN is_buy = 0 THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, is_buy
                     ROWS UNBOUNDED PRECEDING) AS last_click_ts
      FROM u
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN last_click_ts >= ts - INTERVAL 7 DAY
                THEN last_click_ts END AS attributed_click_ts,
           last_click_ts IS NOT NULL
             AND last_click_ts >= ts - INTERVAL 7 DAY AS attributed
    FROM m WHERE is_buy = 1
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with a 7-day lookback: every purchase is
    credited to the user's most recent click at or before it, or left
    unattributed when the click is older than the window — the
    marketing-credit query behind every conversion report. Same merge
    pattern as join_asof (tag both sides, one user-keyed window carries
    the running last-click timestamp; ties count the click as prior),
    with the lookback applied AFTER the asof so the window function
    itself needs no range frame.

    Scale notes: one shuffle on user_id, linear in events — never the
    range-explosion self-join (the banned BNLJ shape the interval
    alternative would produce)."""
    e = table(spark, sf_dir, "events")
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_buy")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("is_buy")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_buy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = buys.unionByName(clicks).withColumn(
        "last_click_ts", F.max(F.when(F.col("is_buy") == 0, F.col("ts"))).over(w)
    )
    in_window = F.col("last_click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return m.filter(F.col("is_buy") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("last_click_ts")).alias("attributed_click_ts"),
        (F.col("last_click_ts").isNotNull() & in_window).alias("attributed"),
    )


@q(
    "events_ab_test",
    sql="""
    WITH assigned AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 2 AS variant
      FROM events
    ), conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT a.variant,
           COUNT(*) AS n_users,
           COUNT(c.user_id) AS n_converted,
           CAST(COUNT(c.user_id) AS DOUBLE) / COUNT(*) AS conv_rate
    FROM assigned a LEFT JOIN conv c ON c.user_id = a.user_id
    GROUP BY a.variant
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str, salt: str = "") -> DataFrame:
    """A/B experiment readout: users split 50/50 by the same
    content-stable md5 bucketing as corpus_split (reproducible across
    engines and re-partitioning — never rand()), conversion = any
    purchase event, per-variant rates reported. The z-statistic is
    downstream arithmetic on these exact counts; the query's job is the
    deterministic ASSIGNMENT + JOIN shape experimentation platforms
    standardize. The assignment is salted by ``salt``, the experiment's
    identity (default empty = the oracle's split, which the registered
    query runs): every experiment gets an independent 50/50 split by
    changing one string, the way real platforms re-randomize between
    experiments without new infrastructure. A non-empty salt is a
    DIFFERENT experiment — the oracle models only the default.

    Scale notes: distinct users then one user-keyed left join against
    the (small) converter set — AQE broadcasts it when it fits; the
    final aggregate has 2 groups. No shuffle carries event payloads."""
    e = table(spark, sf_dir, "events")
    variant = hash_bucket(
        F.concat(F.col("user_id").cast("string"), F.lit(salt)), 2
    )
    assigned = e.select("user_id").distinct().select(
        "user_id", variant.alias("variant")
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_user"))
        .distinct()
    )
    return (
        assigned.join(conv, F.col("user_id") == F.col("c_user"), "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("c_user").alias("n_converted"),
            (F.count("c_user").cast("double") / F.count(F.lit(1))).alias("conv_rate"),
        )
    )
