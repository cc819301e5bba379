"""group_distribution_ranks: the scale-safe form of distribution-rank
windows over a LOW-cardinality partition key.

Window.partitionBy(group) funnels each group through one WindowExec task;
with a handful of groups that is a single-task collapse at 100 TB. The
two-pass form (range-partition the total order, broadcast per-slice
offsets, local row_number + arithmetic) must produce BIT-IDENTICAL
values — ntile/percent_rank/cume_dist are exact integer arithmetic once
the global rank is known — while never sorting more than one range slice
per task.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from synthetic_data_transfer_to_relational_database_spark.operators import skew
from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
    group_distribution_ranks,
)
from synthetic_data_transfer_to_relational_database_spark.sources.tables import table

@pytest.fixture(scope="module")
def orders(spark, sf_dir_mid):
    return table(spark, sf_dir_mid, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _naive(orders, n_tiles=4):
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(n_tiles).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def test_matches_naive_window_bit_exactly(spark, orders):
    got = {
        r["o_orderkey"]: (r["__ntile"], r["__pct_rank"], r["__cume_dist"])
        for r in group_distribution_ranks(
            orders, "o_orderpriority", ["o_totalprice", "o_orderkey"]
        ).collect()
    }
    want = {
        r["o_orderkey"]: (r["quartile"], r["pct_rank"], r["cume"])
        for r in _naive(orders).collect()
    }
    # dict equality on floats = bit equality, the driver's hash standard
    assert got == want


def test_ntile_matches_for_awkward_tile_counts(spark, orders):
    """n % tiles != 0 exercises the first-buckets-get-the-remainder rule;
    7 tiles over 5 priority groups of uneven size covers q=0 edge cases
    on tiny fixtures too."""
    small = orders.limit(23)
    got = {
        r["o_orderkey"]: r["__ntile"]
        for r in group_distribution_ranks(
            small, "o_orderpriority", ["o_totalprice", "o_orderkey"], n_tiles=7
        ).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    want = {
        r["o_orderkey"]: r["t"]
        for r in small.select("o_orderkey", F.ntile(7).over(w).alias("t")).collect()
    }
    assert got == want


@pytest.mark.parametrize("n_parts", [1, 3, 50])
def test_rank_values_independent_of_slice_count(spark, n_parts):
    """Global ranks must not depend on how many range slices the input is
    cut into — 1 slice (degenerate), 3 (groups span slices), 50 (more
    slices than rows: empty slices must not shift offsets)."""
    rows = [(k, "g" if k % 3 else "h", float(k * 7 % 11)) for k in range(20)]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    got = {
        r["k"]: (r["__rank"], r["__ntile"], r["__pct_rank"], r["__cume_dist"])
        for r in group_distribution_ranks(df, "g", ["v", "k"], n_parts=n_parts).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "k")
    want = {
        r["k"]: (r["rn"], r["t"], r["p"], r["c"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("t"),
            F.percent_rank().over(w).alias("p"),
            F.cume_dist().over(w).alias("c"),
        ).collect()
    }
    assert got == want


def test_randomized_equality_with_naive_window(spark):
    """Seeded randomized sweep: tie-heavy values, negatives, group counts
    from 1 to many, sizes straddling n_parts — every dataset must match
    the naive window bit-for-bit on all four stats."""
    import random

    rng = random.Random(2026)
    for trial in range(5):
        n_rows = rng.randint(1, 120)
        n_groups = rng.randint(1, 7)
        rows = [
            (k, f"g{rng.randrange(n_groups)}", float(rng.randint(-5, 5)))
            for k in range(n_rows)
        ]
        df = spark.createDataFrame(rows, "k long, g string, v double")
        n_parts = rng.choice([1, 2, 8, 64])
        got = {
            r["k"]: (r["__rank"], r["__ntile"], r["__pct_rank"], r["__cume_dist"])
            for r in group_distribution_ranks(df, "g", ["v", "k"], n_parts=n_parts).collect()
        }
        w = Window.partitionBy("g").orderBy("v", "k")
        want = {
            r["k"]: (r["rn"], r["t"], r["p"], r["c"])
            for r in df.select(
                "k",
                F.row_number().over(w).alias("rn"),
                F.ntile(4).over(w).alias("t"),
                F.percent_rank().over(w).alias("p"),
                F.cume_dist().over(w).alias("c"),
            ).collect()
        }
        assert got == want, f"trial {trial}: n_rows={n_rows} n_parts={n_parts}"


def test_null_group_and_empty_input(spark):
    """NULL is its own window partition in SQL — rows with a NULL group
    must rank among themselves, not vanish through an equi-join; an
    empty input must return empty, not crash schema inference."""
    df = spark.createDataFrame(
        [(1, None, 2.0), (2, None, 1.0), (3, "a", 9.0)],
        "k long, g string, v double",
    )
    got = {
        r["k"]: (r["__rank"], r["__cume_dist"])
        for r in group_distribution_ranks(df, "g", ["v", "k"]).collect()
    }
    assert got == {1: (2, 1.0), 2: (1, 0.5), 3: (1, 1.0)}

    empty = df.limit(0)
    out = group_distribution_ranks(empty, "g", ["v", "k"])
    assert out.count() == 0
    assert "__rank" in out.columns


def test_single_row_group_pct_rank_is_zero(spark):
    """n=1 group: percent_rank's (n-1) denominator is zero — must yield
    0.0 (SQL semantics), not an ANSI division error."""
    df = spark.createDataFrame(
        [("only", 1, 5.0), ("pair", 2, 1.0), ("pair", 3, 2.0)],
        "g string, k long, v double",
    )
    rows = {
        r["k"]: (r["__pct_rank"], r["__cume_dist"], r["__ntile"])
        for r in group_distribution_ranks(df, "g", ["v", "k"]).collect()
    }
    assert rows[1] == (0.0, 1.0, 1)
    assert rows[2] == (0.0, 0.5, 1)
    assert rows[3] == (1.0, 1.0, 2)


def _naive_rank_triple(df):
    w = Window.partitionBy("g").orderBy(F.desc("v"))
    w_rn = Window.partitionBy("g").orderBy(F.desc("v"), "k")
    return {
        r["k"]: (r["rnk"], r["drnk"], r["rn"])
        for r in df.select(
            "k",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w_rn).alias("rn"),
        ).collect()
    }


def test_rank_triple_matches_naive_window_with_ties(spark):
    """window_rank's scalable RANK / DENSE_RANK / ROW_NUMBER derivation
    must reproduce SQL tie semantics exactly. Constructed fixture forces
    tie runs (the TPC-H acctbal domain rarely collides at test scale)."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        group_rank_triple,
    )

    rows = [
        (k, g, float(v))
        for k, (g, v) in enumerate(
            [("a", 5), ("a", 5), ("a", 3), ("a", 3), ("a", 3), ("a", 1),
             ("b", 9), ("b", 9), ("b", 9), ("c", 2)]
        )
    ]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    got = {
        r["k"]: (r["__rnk"], r["__drnk"], r["__rn"])
        for r in group_rank_triple(df, "g", "v", "k").collect()
    }
    assert got == _naive_rank_triple(df)


def test_rank_triple_keeps_null_groups_and_null_values(spark):
    """NULL group and NULL order values must survive the derivation's
    join-backs (null-safe <=>) and rank exactly as the one-window form
    ranks them — a plain equi-join would silently drop these rows from
    the scalable branch only."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        group_rank_triple,
    )

    rows = [
        (0, "a", 5.0),
        (1, "a", None),   # null order value: desc ⇒ nulls last, a peer run
        (2, "a", None),
        (3, None, 7.0),   # null group: its own window partition
        (4, None, 7.0),
        (5, None, None),  # null group AND null value
    ]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    out = group_rank_triple(df, "g", "v", "k")
    got = {r["k"]: (r["__rnk"], r["__drnk"], r["__rn"]) for r in out.collect()}
    assert len(got) == len(rows), "derivation dropped rows with NULL keys"
    assert got == _naive_rank_triple(df)


def test_window_rank_scalable_matches_naive_window(spark, sf_dir_mid):
    """window_rank's large-input branch (the scalable-rank derivation)
    must be value-identical to the one-window naive form on real data —
    this is the equality that licenses the cost-based dispatch."""
    from synthetic_data_transfer_to_relational_database_spark.operators.relational import (
        window_rank_naive,
        window_rank_scalable,
    )

    got = {
        r["c_custkey"]: (r["rnk"], r["drnk"], r["rn"])
        for r in window_rank_scalable(spark, sf_dir_mid).collect()
    }
    want = {
        r["c_custkey"]: (r["rnk"], r["drnk"], r["rn"])
        for r in window_rank_naive(spark, sf_dir_mid).collect()
    }
    assert got == want


def test_window_ranks_pct_branches_match(spark, sf_dir_mid, monkeypatch):
    """window_ranks_pct's two physical branches (one-window vs
    distribution-rank derivation) must be bit-identical on real data."""
    from synthetic_data_transfer_to_relational_database_spark.operators.relational2 import (
        QUERIES,
    )

    def run():
        return {
            r["o_orderkey"]: (r["quartile"], r["pct_rank"], r["cume"])
            for r in QUERIES["window_ranks_pct"](spark, sf_dir_mid).collect()
        }

    small_branch = run()
    monkeypatch.setattr(skew, "RANK_SMALL_INPUT_BYTES", 0)
    big_branch = run()
    assert small_branch == big_branch


def test_window_ntile_branches_match(spark, sf_dir_mid, monkeypatch):
    """window_ntile's two physical branches (one NTILE window vs the
    group_distribution_ranks ceil-first-buckets derivation) must assign
    identical buckets on real data — the equality that licenses its
    cost-based dispatch (the r6 verdict's low-cardinality-window item)."""
    from synthetic_data_transfer_to_relational_database_spark.operators.relational3 import (
        QUERIES,
    )

    def run():
        return {
            r["o_orderkey"]: (r["o_orderpriority"], r["price_quartile"])
            for r in QUERIES["window_ntile"](spark, sf_dir_mid).collect()
        }

    small_branch = run()
    monkeypatch.setattr(skew, "RANK_SMALL_INPUT_BYTES", 0)
    big_branch = run()
    assert small_branch == big_branch


def test_no_window_partitioned_by_group_alone(spark, orders):
    """The plan property the function exists for: the only Window sorts
    within (slice, group) — bounded by the range slice — never by the
    5-value group key alone, and the offsets join is a broadcast."""
    df = group_distribution_ranks(
        orders, "o_orderpriority", ["o_totalprice", "o_orderkey"]
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "__pid" in plan, "local rank must be keyed by the range slice id"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # every windowspecdefinition must include the slice id in its
    # partition spec (formatted plans print the full spec in Arguments)
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            assert "__pid" in spec.split("specifiedwindowframe", 1)[0]


@pytest.mark.parametrize("n_parts", [1, 3, 50])
def test_ordered_cumsum_matches_naive_window(spark, n_parts):
    """ordered_cumsum must equal SUM() OVER (ORDER BY ...) bit-exactly
    for any slice count — 1 (degenerate), 3 (values span slices), 50
    (more slices than rows: empty slices must not shift offsets) — and
    NULL values must contribute 0, not poison the running sum."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        ordered_cumsum,
    )

    rows = [(k, (k * 7919) % 23 if k % 6 else None) for k in range(40)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["__cum"]
        for r in ordered_cumsum(df, ["k"], "v", n_parts=n_parts).collect()
    }
    w = (
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["k"]: r["c"]
        for r in df.select(
            "k", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("c")
        ).collect()
    }
    assert got == want


def test_ordered_cumsum_rejects_fractional_values(spark):
    """The driver-side offset accumulation is only exact for integers; a
    double value column must fail loudly at plan time, not silently
    truncate through the long output cast."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        ordered_cumsum,
    )

    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, v double")
    with pytest.raises(TypeError, match="integral value column"):
        ordered_cumsum(df, ["k"], "v")


def test_ordered_cumsum_plan_has_no_global_window(spark):
    """The reason the primitive exists: no unpartitioned window anywhere —
    every windowspecdefinition is keyed by the range-slice id."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        ordered_cumsum,
    )

    df = spark.range(0, 1000).selectExpr("id as k", "id % 17 as v")
    out = ordered_cumsum(df, ["k"], "v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            assert "__pid" in spec.split("specifiedwindowframe", 1)[0]
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_checkpoint_pinned_uses_reliable_dir_when_configured(spark, tmp_path):
    """With sc.setCheckpointDir configured (the cluster-scale setting,
    where localCheckpoint blocks die with an executor) every range-slice
    derivation must switch to RELIABLE checkpoints — files under the
    configured dir — and produce identical values."""
    import os

    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        checkpoint_pinned,
        ordered_cumsum,
    )

    df = spark.createDataFrame([(k, k % 7) for k in range(50)], "k long, v long")
    baseline = {r["k"]: r["__cum"] for r in ordered_cumsum(df, ["k"], "v").collect()}

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        out = checkpoint_pinned(df, eager=True)
        assert out.count() == 50
        assert any(
            files for _, _, files in os.walk(ckpt)
        ), "no reliable checkpoint files written"
        reliable = {r["k"]: r["__cum"] for r in ordered_cumsum(df, ["k"], "v").collect()}
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert reliable == baseline
