"""Skew-handling utilities: explicit key salting, low-cardinality-group
distribution ranks.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized partitions. Salting is the plan-level
alternative for the pathological case AQE can't fix: ONE key so hot that
even a split partition's build side is a bottleneck, or a broadcast-
ineligible dimension joined on a hot key.

Mechanics: the skewed (fact) side gets a random salt in [0, n); the
compact (dim) side is exploded n× with every salt value; the join key
becomes (key, salt), spreading each hot key over n reducers. Cost: dim
side inflates n× — use only when dim ≪ fact (the usual skew shape).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df`` in bytes.

    Parquet scans report the (compressed) file footprint; derived plans
    fall back to Catalyst's propagated estimates. Used for cost-based
    physical selection (e.g. ``relational.window_rank``): exact numbers
    don't matter, only the orders-of-magnitude split between "fits one
    task" and "needs the distributed derivation". Unknown ⇒ assume huge,
    the scale-safe default — but logged: a PERMANENTLY failing estimate
    (an internal-API break) would otherwise silently force every
    dispatch site onto the expensive scalable branch with no signal."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j access is best-effort
        _LOG.warning(
            "estimated_plan_bytes: Catalyst size estimate unavailable; "
            "assuming huge (dispatch falls back to the scalable branch)",
            exc_info=True,
        )
        return 1 << 62


# Small-input thresholds (bytes of Catalyst's optimized-plan size
# estimate) of the cost-based dispatch sites: at or below them the exact
# single-pass plan wins (a <= 1 GiB single-task sort is a normal task,
# and the scalable branch's fixed jobs would dominate). The rank
# branches are bit-identical while the percentile branch above its
# threshold is approximate, so each family is forced on its own. Read
# at call time: setting the attribute to 0 forces the scalable branch.
RANK_SMALL_INPUT_BYTES = 1 << 30
PERCENTILE_SMALL_INPUT_BYTES = 1 << 30

# Dispatch verdicts keyed on (caller-supplied input identity, threshold).
# The estimate is a py4j optimizedPlan().stats() round trip (~0.1 s);
# uncached it is paid on EVERY query construction — the r3 bench charged
# window_rank +74% for exactly this. Entries are (name, sf_dir,
# threshold) tuples over immutable testdata files, so the cache stays
# tiny and cannot go stale; a forced threshold is a different key.
_DISPATCH_CACHE: dict[tuple, bool] = {}


def _below(df: DataFrame, threshold: int, cache_key: tuple | None) -> bool:
    if cache_key is None:
        return estimated_plan_bytes(df) <= threshold
    k = (*cache_key, threshold)
    if k not in _DISPATCH_CACHE:
        _DISPATCH_CACHE[k] = estimated_plan_bytes(df) <= threshold
    return _DISPATCH_CACHE[k]


def small_rank_input(df: DataFrame, cache_key: tuple | None = None) -> bool:
    """The small-input dispatch shared by the rank sites (window_rank,
    window_ranks_pct, window_ntile, multimodal_dyn_batch,
    corpus_quantile_filter): True when Catalyst's size estimate is at
    most ``RANK_SMALL_INPUT_BYTES``. ``cache_key`` (optional) names the
    INPUT — sites whose input is a pure projection of an immutable
    source pass (query-name, sf_dir) — and memoizes the verdict per
    (cache_key, threshold), so repeated query construction pays the
    plan-stats round trip once."""
    return _below(df, RANK_SMALL_INPUT_BYTES, cache_key)


def small_percentile_input(df: DataFrame, cache_key: tuple | None = None) -> bool:
    """``small_rank_input`` for the exact-vs-approx percentile sites
    (events_anomaly_mad, orders_rfm), against
    ``PERCENTILE_SMALL_INPUT_BYTES``."""
    return _below(df, PERCENTILE_SMALL_INPUT_BYTES, cache_key)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join ``fact ⋈ dim ON on`` with each hot key's load spread over
    ``n_salts`` reducers. The salt is deterministic —
    ``pmod(xxhash64(<all fact columns>, seed), n_salts)`` — so results
    are reproducible across runs and repartitionings (``rand()`` would
    not be)."""
    salt_f = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns], F.lit(seed)), F.lit(n_salts))
    f = fact.withColumn("__salt", salt_f.cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = f.join(d, [on, "__salt"], how)
    return out.drop("__salt")


def checkpoint_pinned(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialization barrier that PINS a DataFrame's contents (and
    therefore its range-partition boundaries) across the multiple jobs
    that read it — the RangePartitioner-reseed hazard every range-slice
    derivation here guards against.

    Uses a RELIABLE checkpoint when the session has a checkpoint dir
    configured (``sc.setCheckpointDir`` — blocks live in shared storage
    and survive executor loss: the cluster-scale setting), else
    ``localCheckpoint`` (executor-resident blocks: fine single-node and
    at test scale, and a lost block fails LOUDLY instead of silently
    recomputing with fresh boundaries = wrong results).

    Reliable mode is always EAGER and persists the frame around the
    checkpoint: ``df.checkpoint`` runs a SEPARATE job to write the files,
    so an unpersisted plan would be computed twice — persist makes the
    write job read cached blocks, and the cache is dropped immediately
    after. (The lazy piggyback — first action materializes the blocks —
    is a localCheckpoint-only optimization.) Checkpoint FILES outlive the
    DataFrame: our session factory sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so they are
    GC'd with the RDD; sessions built elsewhere should set it too or
    sweep the checkpoint dir."""
    sc = df.sparkSession.sparkContext
    try:
        reliable = sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - py4j access is best-effort
        reliable = False
    if reliable:
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=eager)


def ordered_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "__cum",
    n_parts: int | None = None,
) -> DataFrame:
    """Global running sum of ``value_col`` over the total order given by
    ``order_cols`` — the scale-safe form of
    ``SUM(v) OVER (ORDER BY ...)``, whose naive plan collapses to ONE
    partition (an unpartitioned window sorts the whole input through a
    single task).

    Same range-slice + broadcast-offset recipe as
    ``group_distribution_ranks``: range-repartition by the order, collect
    per-slice sums (an ``n_parts``-row collect), turn them into exclusive
    prefix offsets, then a window cumsum partitioned BY SLICE plus the
    slice's offset = the exact global running sum. The range-partitioned
    input is pinned via ``checkpoint_pinned`` so the offsets job and the
    cumsum job see the same partition boundaries (the RangePartitioner
    reseed hazard — see group_distribution_ranks).

    ``order_cols`` must form a TOTAL order (include a unique tiebreaker):
    with ties unbroken the running sum at tied rows is engine-dependent.
    NULL values in ``value_col`` contribute 0 (SQL SUM semantics).

    ``value_col`` must be INTEGRAL (byte/short/int/long): the per-slice
    offsets are accumulated driver-side and re-broadcast, which is exact
    for integers but would silently reorder float rounding — and the
    long output cast would truncate fractional sums. Raises TypeError
    rather than guessing for fractional inputs.
    Appends ``out_col`` (long) to ``df``'s columns."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    vt = df.schema[value_col].dataType
    if not isinstance(vt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"ordered_cumsum requires an integral value column; got {value_col}: "
            f"{vt.simpleString()} (fractional prefix sums are order-dependent — "
            "scale to integer units, e.g. cents, first)"
        )
    spark = df.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = checkpoint_pinned(
        df.repartitionByRange(n_parts, *order_exprs).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    slices = part.groupBy("__pid").agg(F.sum(value_col).alias("__t")).collect()
    rows = []
    acc = 0
    for r in sorted(slices, key=lambda r: r["__pid"]):
        rows.append((r["__pid"], acc))
        acc += r["__t"] or 0
    off_schema = StructType(
        [StructField("__opid", LongType()), StructField("__off", LongType())]
    )
    off = spark.createDataFrame(rows, off_schema)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(off), F.col("__pid") == F.col("__opid"))
        .withColumn(
            out_col,
            (F.coalesce(F.sum(value_col).over(w), F.lit(0)) + F.col("__off")).cast("long"),
        )
        .select(*df.columns, out_col)
    )


def group_rank_triple(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    desc: bool = True,
) -> DataFrame:
    """RANK / DENSE_RANK / ROW_NUMBER per ``group_col`` ordered by
    ``value_col`` (``tiebreak_col`` totalizes row_number), in the
    low-cardinality-safe derivation built on
    ``group_distribution_ranks``:

    - ROW_NUMBER = the global ``__rank`` over (value, tiebreak);
    - RANK = min row_number among order-peers (groupBy (group, value) +
      join back — exact SQL tie semantics);
    - DENSE_RANK = the peer group's own rank, i.e. the same primitive
      applied to the (group, value) DISTINCT frame.

    Every join key includes the value column: bounded partitions, no
    per-group funnel anywhere. Join-backs are NULL-SAFE (<=>): windows
    rank NULL order values as a normal peer group (desc ⇒ nulls last),
    and groupBy already folds NULLs into one group, so a plain equi-join
    would silently drop those rows — breaking the bit-equality contract
    with the one-window form. <=> is still an equi-join key for Spark's
    planner, so the hash/sort-merge join strategy is kept.

    Appends ``__rnk``, ``__drnk``, ``__rn`` to ``df``'s columns.
    """
    val = F.desc(value_col) if desc else F.col(value_col)
    base = group_distribution_ranks(
        df, group_col, [val, F.col(tiebreak_col)]
    ).select(*df.columns, F.col("__rank").alias("__rn"))
    peers = base.groupBy(group_col, value_col).agg(F.min("__rn").alias("__rnk"))
    dvals = group_distribution_ranks(
        peers.select(group_col, value_col),
        group_col,
        [F.desc(value_col) if desc else F.col(value_col)],
    ).select(
        F.col(group_col).alias("__dg"),
        F.col(value_col).alias("__dv"),
        F.col("__rank").alias("__drnk"),
    )
    p = peers.select(
        F.col(group_col).alias("__pg"), F.col(value_col).alias("__pv"), "__rnk"
    )
    return (
        base.join(
            p,
            F.col(group_col).eqNullSafe(F.col("__pg"))
            & F.col(value_col).eqNullSafe(F.col("__pv")),
        )
        .join(
            dvals,
            F.col(group_col).eqNullSafe(F.col("__dg"))
            & F.col(value_col).eqNullSafe(F.col("__dv")),
        )
        .select(*df.columns, "__rnk", "__drnk", "__rn")
    )


def group_distribution_ranks(
    df: DataFrame,
    group_col: str,
    order_cols: list[str | Column],
    n_tiles: int = 4,
    n_parts: int | None = None,
) -> DataFrame:
    """Distribution ranks (row_number / ntile / percent_rank / cume_dist)
    per ``group_col``, in a plan that survives a LOW-cardinality group
    key. ``Window.partitionBy(group)`` puts each group through ONE
    WindowExec task — with 5 groups over 100 TB of rows that is 5 tasks
    sorting 20 TB each. Here no task ever holds more than one range
    partition:

    1. range-repartition by (group, *order_cols) — the global sort order,
       split into ``n_parts`` bounded slices (a group spans many slices);
    2. per-(slice, group) row counts — an ``n_parts × n_groups``-row
       collect — become broadcast exclusive offsets (the same
       bucket-offset recipe as ``corpus_token_budget_scalable`` and the
       executor's ``_indexed_parent``);
    3. local ``row_number`` within (slice, group) + offset = the exact
       global rank; every distribution stat is arithmetic on (rank, n).

    ``order_cols`` entries are column names or Column sort expressions
    (``F.desc(...)`` supported) and must form a TOTAL order within each
    group (include a tiebreaker key) — with ties unbroken,
    row_number≠rank and cume_dist diverges from SQL semantics. For
    tie-aware RANK/DENSE_RANK over a low-cardinality group, derive them
    from ``__rank`` (see ``relational.window_rank``).

    The range-partitioned input is pinned via ``checkpoint_pinned`` so
    the offsets job and the rank job see the SAME partition boundaries
    (RangePartitioner samples with an RDD-derived seed — the
    ``_indexed_parent`` hazard). The checkpoint is lazy (``eager=False``):
    the counts action is the first job over the partitioned data anyway,
    so it materializes the blocks as a side effect instead of paying a
    separate eager job. A checkpoint, not a cache, deliberately: lineage
    is CUT, so a lost block fails loudly instead of silently recomputing
    with fresh boundaries (= wrong ranks), and the blocks are released
    when the result is garbage-collected rather than pinned in the cache
    manager for the session. With ``sc.setCheckpointDir`` configured the
    pin is a RELIABLE checkpoint that survives executor loss (the
    cluster-scale setting).

    Appends ``__rank``, ``__ntile``, ``__pct_rank``, ``__cume_dist``.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # no sortWithinPartitions: the counts job is order-insensitive and
    # the rank window sorts its own (bounded) partitions after the
    # (__pid, group) exchange — a pre-sort here would be dead work
    part = checkpoint_pinned(
        df.repartitionByRange(n_parts, F.col(group_col), *order_exprs).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    slices = part.groupBy("__pid", group_col).count().collect()
    totals: dict = {}
    rows = []
    for r in sorted(slices, key=lambda r: r["__pid"]):
        g = r[group_col]
        rows.append((r["__pid"], g, totals.get(g, 0)))
        totals[g] = totals.get(g, 0) + r["count"]
    from pyspark.sql.types import LongType, StructField, StructType

    # explicit schema: survives an empty input (nothing to infer from)
    # and pins the group column's exact type
    off_schema = StructType(
        [
            StructField("__opid", LongType()),
            StructField("__g", df.schema[group_col].dataType),
            StructField("__off", LongType()),
            StructField("__n", LongType()),
        ]
    )
    off = spark.createDataFrame([(p, g, o, totals[g]) for p, g, o in rows], off_schema)
    # local ranks: one Exchange on (__pid, group) whose partitions are
    # bounded by the range-slice size, never by group size. The offsets
    # join is NULL-SAFE on the group: SQL windows treat NULL as its own
    # partition, so a plain equi-join would silently drop those rows.
    w_local = Window.partitionBy("__pid", group_col).orderBy(*order_exprs)
    ranked = (
        part.join(
            F.broadcast(off),
            (F.col("__pid") == F.col("__opid"))
            & F.col(group_col).eqNullSafe(F.col("__g")),
        )
        .drop("__opid", "__g")
        .withColumn("__rank", F.row_number().over(w_local) + F.col("__off"))
    )
    r, n = F.col("__rank"), F.col("__n")
    # NTILE: first (n % t) buckets hold ceil(n/t) rows — Spark/ANSI
    # semantics, derived from the global rank. The q=0 (n < t) division
    # sits in a CaseWhen branch that is provably never taken then.
    q, rem = F.floor(n / n_tiles), n % n_tiles
    cut = rem * (q + 1)
    tile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / q) + 1
    )
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (r - 1).cast("double") / (n - 1).cast("double")
    )
    return (
        ranked.withColumn("__ntile", tile.cast("int"))
        .withColumn("__pct_rank", pct)
        .withColumn("__cume_dist", r.cast("double") / n.cast("double"))
        .drop("__pid", "__off", "__n")
    )
