"""Plan-regression guards: the physical plans the scale story depends on
(SCALE.md) must not silently degrade. Asserts on explain output — cheap,
no execution.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from synthetic_data_transfer_to_relational_database_spark import registry

SF_DIR = "/root/testdata/sf0.001"

# deliberate non-equi plans where a nested-loop side is broadcast by design
# (the 10-row query side of the ANN scans; rag_retrieve embeds sim_search;
# text_tfidf_top, fk_sample_join, events_rolling_active and
# text_doc_pairs_jaccard cross-join a ONE-row aggregate — the lazy form
# of an eager count()/bounds at construction)
_BNLJ_OK = {
    "sim_search",
    "sim_search_pq",  # 10-row LUT broadcast, same ANN serve shape
    "sim_search_lsh",
    "rag_retrieve",
    "text_tfidf_top",
    "fk_sample_join",
    "events_rolling_active",
    "text_doc_pairs_jaccard",
    "embedding_index_refresh",  # labels×64-double centroid table broadcast to the new batch
    "text_containment",  # same 1-row n_docs crossJoin via _doc_pair_commons
    "text_ngram_lm_backoff",  # 1-row bigram-total crossJoin (broadcast scalar)
    "orders_rfm",
    "skew_profile",  # 1-row stats frame broadcast onto the top-10 keys
    "basket_rules",  # 1-row n_baskets crossJoin (the tfidf recipe)
    "customer_idle_rich",  # 1-row avg-cents threshold crossJoin (same recipe)
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_pushdown_pruning_broadcast(spark):
    df = registry.all_queries()["revenue_by_nation"](spark, SF_DIR)
    plan = _plan(df)
    # date-range filter reaches the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: lineitem scan reads 4 columns, not 16
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double,l_shipdate" in plan
    # dims broadcast, fact never does
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or "AdaptiveSparkPlan" in plan
    # plan-time broadcast HINTS only on fixed-cardinality dims: exactly
    # one ResolvedHint in the analyzed plan and it covers the 25-row
    # nation scan. customer scales with SF — hinting it is a driver OOM
    # at 100 TB; AQE's runtime conversion broadcasts it when (and only
    # when) it is actually small.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1
    hinted_relation = analyzed.split("ResolvedHint", 1)[1].splitlines()[1]
    assert "n_nationkey" in hinted_relation, hinted_relation
    assert "c_custkey" not in hinted_relation


def test_no_accidental_cartesian_products(spark):
    """Sweep every registered batch query: no CartesianProduct anywhere,
    and BroadcastNestedLoopJoin only in the whitelisted deliberate ANN
    scans (10-row broadcast side)."""
    qs = registry.all_queries()
    offenders = {}
    for name, fn in qs.items():
        if name.startswith("stream_") or name in (
            "gen_synthetic_orders",
            # these build + write the persisted index eagerly at
            # construction (that's the operator under test); their serve
            # join is the sim_search BNLJ shape, exactness/parity-pinned
            # in tests/test_vector_index.py
            "sim_search_index",
            "sim_search_warm",
        ):
            continue  # these execute eagerly to plan
        plan = _plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "cartesian"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            offenders[name] = "bnlj"
    assert not offenders, offenders


def test_minhash_signatures_have_no_shuffle(spark):
    """The MinHash signature stage must stay map-side: no Exchange between
    the documents scan and the signature projection (the bucket join's
    exchange is the FIRST allowed shuffle)."""
    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        _minhash_signatures,
    )
    from synthetic_data_transfer_to_relational_database_spark.sources.tables import table

    plan = _plan(_minhash_signatures(table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan


def test_large_parent_fk_join_has_no_global_window(spark):
    """SURVEY §7 hard-part 1: the join path of J1 (a parent without a PK
    expression) must not collapse the parent into one partition. The
    dense index is built from partition-local sorts + offsets; the only
    Window is partitioned by __part."""
    import re

    from synthetic_data_transfer_to_relational_database_spark.plans.executor import (
        GenerationPlan,
    )
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "Baslik": TableSpec(
            name="Baslik",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Ad", "string", nullable=False, length=20),
            ],
            pk=["Id"],
        ),
        # subtype: PK is an FK — NOT expression-computable, so children of
        # Belge take the join path
        "Belge": TableSpec(
            name="Belge",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Tip", "string", nullable=False, length=4),
            ],
            pk=["Id"],
            fks=[FKSpec(["Id"], "Baslik", ["Id"])],
        ),
        "Satir": TableSpec(
            name="Satir",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("BelgeId", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["BelgeId"], "Belge", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(
        spark,
        tables,
        seed=5,
        row_counts={"Baslik": 80, "Belge": 60, "Satir": 200},
    )
    built = plan.run()

    # explain the UNCACHED build so the join plan is visible
    child_plan = _plan(plan._build_table(tables["Satir"]))
    # every Window in the plan must carry a partition spec (__part):
    # windowspecdefinition(<order>, frame) with no leading partition list
    # would mean a global single-partition sort crept back in
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", child_plan)
    assert specs, "expected the index-join Window in the child plan"
    for spec in specs:
        assert "__part" in spec, f"unpartitioned window: {spec}"

    # and the sampled FKs still close over the parent
    belge_ids = {r[0] for r in built["Belge"].select("Id").collect()}
    for (v,) in built["Satir"].select("BelgeId").collect():
        assert v in belge_ids


def test_small_parent_without_pk_expression_samples_through_join(spark):
    """One FK strategy at every parent size: a 10-row parent whose PK is
    not an expression of its row index (a shared-PK subtype) is sampled
    through the index equi-join on ``__pidx``. No parent key is ever
    collected into the child's plan as a literal."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import (
        GenerationPlan,
    )
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "Baslik": TableSpec(
            name="Baslik",
            columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
            pk=["Id"],
        ),
        "Belge": TableSpec(
            name="Belge",
            columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
            pk=["Id"],
            fks=[FKSpec(["Id"], "Baslik", ["Id"])],
        ),
        "Satir": TableSpec(
            name="Satir",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("BelgeId", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["BelgeId"], "Belge", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(
        spark, tables, seed=5, row_counts={"Baslik": 12, "Belge": 10, "Satir": 40}
    )
    plan.build_one("Baslik")
    belge = plan.build_one("Belge")
    keys = [r[0] for r in belge.select("Id").collect()]
    assert len(keys) == 10

    child = plan._build_table(tables["Satir"])
    analyzed = child._jdf.queryExecution().analyzed().toString()
    assert "Join" in analyzed and "__pidx" in analyzed
    assert not [k for k in keys if k in analyzed], "parent keys inlined as a literal"
    assert {r[0] for r in child.select("BelgeId").collect()} <= set(keys)


def test_simhash_has_single_exchange(spark):
    """SimHash signatures are computed map-side (nested array folds, no
    explode/groupBy); the ONLY Exchange in the whole query is the banding
    self-join, which carries (doc_id, 8-byte signature)."""
    plan = _plan(registry.all_queries()["dedup_simhash"](spark, SF_DIR))
    assert plan.count("Exchange") <= 2  # one per side of the self-join, same shuffle key
    assert "CollectList" not in plan and "collect_list" not in plan


def test_token_budget_scalable_has_no_global_window(spark):
    """The token-budget variant must never sort globally: its cumsum is
    ordered_cumsum's range-slice derivation, so every
    windowspecdefinition carries the __pid slice column."""
    import re

    plan = _plan(registry.all_queries()["corpus_token_budget_scalable"](spark, SF_DIR))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the range-slice cumsum Window"
    for spec in specs:
        assert "__pid" in spec, f"unpartitioned window: {spec}"


def test_topk_per_group_gets_partial_window_group_limit(spark):
    """topk_per_group keeps its low-cardinality partition window because
    Catalyst's rank-limit pushdown makes it scale-safe: the rank<=k
    filter must compile to a PARTIAL WindowGroupLimit below the shuffle
    (each map task forwards at most k rows per group), so no WindowExec
    task ever sorts a whole group. This is the optimization the query
    relies on — if a refactor breaks the pushdown (e.g. the rank column
    leaves the filter), each p_brand funnels through one task again."""
    plan = _plan(registry.all_queries()["topk_per_group"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_scalable_rank_helpers_have_no_group_only_windows(spark, monkeypatch):
    """The scalable rank derivations (the large-input branches of
    window_rank / window_ranks_pct, and multimodal_dyn_batch's in-bucket
    sequence) must key every window by the range-slice id or a bounded
    composite, never by the low-cardinality group alone. The rank
    queries are forced onto their scalable branch by zeroing the
    cost-model threshold — at test scale the dispatcher would otherwise
    (correctly) pick the one-window plan."""
    import re

    from synthetic_data_transfer_to_relational_database_spark.operators import skew

    monkeypatch.setattr(skew, "RANK_SMALL_INPUT_BYTES", 0)
    for name, bounded_keys in [
        ("window_ranks_pct", ("__pid",)),
        ("window_rank", ("__pid",)),
        ("window_ntile", ("__pid",)),
        ("multimodal_dyn_batch", ("__pid", "batch_id")),
        ("corpus_quantile_filter", ("__pid",)),
    ]:
        plan = _plan(registry.all_queries()[name](spark, SF_DIR))
        specs = re.findall(r"windowspecdefinition\(([^)]*?)(?:, specifiedwindowframe|\))", plan)
        assert specs, f"{name}: expected window specs"
        for spec in specs:
            assert any(k in spec for k in bounded_keys), (
                f"{name}: window partitioned by group alone: {spec}"
            )


def test_rank_dispatch_is_cost_based(spark, monkeypatch):
    """window_rank picks its physical form from Catalyst's size estimate:
    small input (test scale, default 1 GiB threshold) ⇒ the one-window
    plan, zero distributed-rank scaffolding; threshold forced to 0 ⇒ the
    range-slice derivation (no group-only window, __pid scaffolding
    present). Same contract as Spark's own broadcast-threshold dispatch."""
    small = _plan(registry.all_queries()["window_rank"](spark, SF_DIR))
    assert "__pid" not in small
    assert "windowspecdefinition(c_nationkey" in small

    # all three converted sites dispatch, not just window_rank
    small_batch = _plan(registry.all_queries()["multimodal_dyn_batch"](spark, SF_DIR))
    assert "__pid" not in small_batch

    from synthetic_data_transfer_to_relational_database_spark.operators import skew

    monkeypatch.setattr(skew, "RANK_SMALL_INPUT_BYTES", 0)
    big = _plan(registry.all_queries()["window_rank"](spark, SF_DIR))
    assert "__pid" in big


def test_tfidf_construction_runs_no_job(spark):
    """text_tfidf_top's corpus count must be a lazy 1-row aggregate in
    the plan (the oracle's CROSS JOIN n), not an eager d.count() — an
    eager count is one extra full-scan job per invocation and a
    plan-construction side effect no other query has.

    ``spark.read.parquet`` legitimately runs a tiny footer-inference job
    (stage name "parquet at ...") per construction; the probe therefore
    only rejects DATA jobs — any stage that is not a footer read (an
    eager count shows up as a "count at ..." stage)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("tfidf-plan-probe", "construction must be lazy")
    try:
        registry.all_queries()["text_tfidf_top"](spark, SF_DIR)
        jobs = tracker.getJobIdsForGroup("tfidf-plan-probe")
    finally:
        sc.setJobGroup(None, None)
    data_stages = [
        tracker.getStageInfo(s).name
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
        and not tracker.getStageInfo(s).name.startswith("parquet at")
    ]
    assert data_stages == [], f"query construction ran data jobs: {data_stages}"


def test_rank_dispatch_verdict_is_cached(spark, monkeypatch):
    """Constructing window_rank twice must pay the optimizedPlan().stats()
    round trip once per (input, threshold) — the uncached per-call probe
    was the r3 bench's +74% window_rank regression."""
    from synthetic_data_transfer_to_relational_database_spark.operators import skew

    calls = {"n": 0}
    real = skew.estimated_plan_bytes

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(skew, "estimated_plan_bytes", counting)
    skew._DISPATCH_CACHE.clear()
    q = registry.all_queries()["window_rank"]
    q(spark, SF_DIR)
    q(spark, SF_DIR)
    assert calls["n"] == 1


def test_corpus_diff_shuffles_digests_not_text(spark):
    """corpus_diff's contract: the full-outer join's exchanges carry
    (doc_id, 32-byte md5, marker) — the digest Project must sit BELOW
    every Exchange, so document bytes never shuffle."""
    df = registry.all_queries()["corpus_diff"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchanges = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert exchanges, "expected shuffle exchanges for the full-outer join"
    for i in exchanges:
        below = "\n".join(lines[i + 1 : i + 4])
        assert "md5(" in below, f"digest not computed below exchange:\n{below}"


def test_pricing_summary_pushdown_and_partial_agg(spark):
    """lineitem_pricing_summary (Q1 shape): the shipdate cut reaches the
    parquet scan, only the 7 needed columns are read, and a partial
    HashAggregate sits below the single exchange (map-side combine —
    6 groups per task, not per row)."""
    df = registry.all_queries()["lineitem_pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_late_priority_is_left_semi(spark):
    """orders_late_priority (Q4 shape): EXISTS must compile to ONE
    LeftSemi join — never a per-row correlated probe or a distinct over
    a full inner join."""
    plan = _plan(registry.all_queries()["orders_late_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the semi join must stay KEYED on orderkey with the 60-day lateness
    # predicate as a residual — if the equi key ever degrades into the
    # condition, the join becomes a broadcast nested loop (quadratic
    # probe at scale, not a hash lookup)
    assert "Left keys [1]: [o_orderkey" in plan
    assert "Right keys [1]: [l_orderkey" in plan
    assert "NestedLoop" not in plan


def test_promo_share_broadcasts_part_dim(spark):
    """part_promo_revenue_share (Q14 shape): part is the hinted
    broadcast dim; the month filter is pushed to the lineitem scan."""
    plan = _plan(registry.all_queries()["part_promo_revenue_share"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_keep_best_window_is_key_partitioned(spark):
    """dedup_keep_best: the survivor window must partition by norm_key —
    a global single-partition window over the corpus would collapse
    100 TB onto one task (the catalog's window rule)."""
    plan = _plan(registry.all_queries()["dedup_keep_best"](spark, SF_DIR))
    assert "Window" in plan
    assert "hashpartitioning(norm_key" in plan
    assert "Exchange SinglePartition" not in plan


def test_oov_vocab_is_distributed_topk(spark):
    """text_oov_rate's top-1000 vocabulary must compile to
    TakeOrderedAndProject (per-partition top-k + one merge) — a global
    single-partition sort/window over distinct tokens would collapse a
    web-scale vocabulary onto one task."""
    plan = _plan(registry.all_queries()["text_oov_rate"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_edit_distance_verify_is_bucket_confined(spark):
    """dedup_edit_distance: Levenshtein runs JVM-side inside a norm-key
    equi-join — never a cartesian, never a Python UDF."""
    plan = _plan(registry.all_queries()["dedup_edit_distance"](spark, SF_DIR))
    assert "levenshtein" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # equi-join keyed on the normalized prefix (AQE may broadcast the
    # small side at test SF, so assert the join KEY, not the exchange)
    assert "Left keys [1]: [nk#" in plan


def test_nation_volume_broadcasts_nation_and_pushes_dates(spark):
    """nation_volume_shipping (Q7 shape): nation broadcasts in BOTH
    roles (two BroadcastExchanges feed the plan), the ship-date range is
    a pushed parquet filter, and the aggregate is partial+final."""
    plan = _plan(registry.all_queries()["nation_volume_shipping"](spark, SF_DIR))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_market_share_single_aggregate_with_pushdown(spark):
    """market_share (Q8 shape): numerator and denominator live in ONE
    hash aggregate (no second pass over the joined fact), the order-date
    range reaches the orders scan, and the region/type equality filters
    reach their dim scans."""
    plan = _plan(registry.all_queries()["market_share"](spark, SF_DIR))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "EqualTo(r_name,AMERICA)" in plan
    # one shuffle total (the o_year aggregate exchange) computes both
    # CASE-gated sums — every other Exchange is a broadcast
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "hashpartitioning(o_year" in plan


def test_customer_distribution_keeps_left_outer(spark):
    """customer_distribution (Q13 shape): the priority predicate is
    embedded in the join condition, so the join must STAY LeftOuter
    (zero-order customers survive) while the predicate still pushes to
    the orders scan."""
    plan = _plan(registry.all_queries()["customer_distribution"](spark, SF_DIR))
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_small_qty_revenue_single_scan_no_join(spark):
    """small_qty_revenue (Q17 shape): the per-part threshold is a window
    aggregate, not a decorrelated self-join — exactly ONE lineitem scan,
    no sort-merge join, and the window keys on the high-cardinality
    l_partkey."""
    import re

    plan = _plan(registry.all_queries()["small_qty_revenue"](spark, SF_DIR))
    # lineitem once + part once (formatted details list each node once)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(l_partkey" in plan
    assert "Exchange SinglePartition" not in plan.split("HashAggregate")[0]


def test_returned_item_top20_is_takeordered_with_pushdown(spark):
    """returned_item_report (Q10 shape): the top-20 must compile to
    TakeOrderedAndProject (per-partition top-k, 20-row driver merge) —
    never a global Sort — and the returnflag/order-date predicates must
    reach their parquet scans."""
    plan = _plan(registry.all_queries()["returned_item_report"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_top_supplier_max_attach_is_hash_not_nested_loop(spark):
    """top_supplier_revenue (Q15 shape): the scalar-max attach is a
    crossJoin in the API, but the r = max_r equality must let Spark
    compile it to a HASH join on the decimal key — a
    BroadcastNestedLoopJoin here would re-filter every supplier row by
    predicate instead of lookup (and the catalog-wide BNLJ sweep would
    need a whitelist entry; it deliberately has none)."""
    plan = _plan(registry.all_queries()["top_supplier_revenue"](spark, SF_DIR))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # both branches push the quarter to the lineitem scan
    assert plan.count("GreaterThanOrEqual(l_shipdate") >= 2
    # exact-decimal tie comparison: the equality joins decimal sums,
    # never doubles (cast to double happens in the output projection)
    assert "Left keys [1]: [r#" in plan
    assert "Right keys [1]: [max_r#" in plan


def test_bracket_revenue_or_pushdown(spark):
    """bracket_revenue (Q19 shape): each side's projection of the
    OR-of-ANDs must reach its parquet scan as a PushedFilters Or — the
    lineitem scan sheds rows outside the union of quantity ranges, the
    part scan sheds non-bracket brands, BEFORE the join."""
    plan = _plan(registry.all_queries()["bracket_revenue"](spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "Or(" in ln]
    li_scan = [ln for ln in scans if "l_quantity" in ln]
    p_scan = [ln for ln in scans if "p_brand" in ln]
    assert li_scan, f"no Or(quantity...) pushed to lineitem scan:\n{plan}"
    assert p_scan, f"no Or(brand...) pushed to part scan:\n{plan}"
    assert "Or(And(GreaterThanOrEqual(l_quantity" in li_scan[0]
    assert "EqualTo(p_brand,Brand#12)" in p_scan[0]
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_semi_anti(spark):
    """waiting_suppliers (Q21 shape): EXISTS compiles to ONE LeftSemi
    and NOT EXISTS to ONE LeftAnti, both EQUI-KEYED on the orderkey with
    the supplier-inequality as a residual condition — if the equi key
    ever degrades into the condition, each probe becomes a nested-loop
    scan of the order's lines (quadratic at scale)."""
    plan = _plan(registry.all_queries()["waiting_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # keyed semi/anti: orderkey on the left, the aliased probe keys right
    assert "Right keys [1]: [lo2#" in plan
    assert "Right keys [1]: [lo3#" in plan
    # the F-status and region predicates prune at their scans
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "EqualTo(r_name,EUROPE)" in plan
    # top-k over the grouped counts, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_nearest_centroid_assignment_is_map_side(spark):
    """r11 verdict #1: the nearest-centroid argmin must be the map-side
    array expression, never the crossJoin+row_number fan-out — no Window
    anywhere, and the vector side must reach the assignment without a
    shuffle (the old shape exchanged k copies of every 64-float embedding
    to pick rn=1, k x batch x payload bytes for a user-knob k)."""
    import re

    from synthetic_data_transfer_to_relational_database_spark.operators import (
        vector_index as vi,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    cents = [(i, [float(i)] * 64) for i in range(8)]

    def _shuffles(p: str) -> list[str]:
        return [
            ln
            for ln in p.splitlines()
            if re.search(
                r"\bExchange (hashpartitioning|SinglePartition|rangepartitioning)", ln
            )
        ]

    # the struct-row broadcast form: window-free and shuffle-free, the
    # model rides a broadcast
    plan = (
        vi._assign(spark, e, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert not _shuffles(plan), f"assignment stage shuffles:\n{_shuffles(plan)}"
    assert "BroadcastNestedLoopJoin" in plan

    # wide dims take the same broadcast struct-row form: the model
    # rides a broadcast, the argmin is expression-only
    from pyspark.sql import functions as F

    wide_e = e.select(
        "vec_id",
        "label",
        F.expr("transform(sequence(0, 383), d -> cast(d as float))").alias("embedding"),
    )
    wide_cents = [(i, [float(i)] * 384) for i in range(4)]
    wplan = (
        vi._assign(spark, wide_e, wide_cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in wplan and "Window" not in wplan

    # the oracle-paired refresh query: its ONLY remaining window-free
    # batch path — aggregation exchanges (centroid build, per-cell counts)
    # are inherent, a Window would mean the fan-out argmin came back
    rplan = (
        registry.all_queries()["embedding_index_refresh"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in rplan


def test_corpus_scaled_joins_are_shuffle_hash_not_broadcast(spark):
    """r12 disease-sweep fix: joins whose build side scales with the
    corpus (token df, gram counts, base-split digests/grams, the token
    index) must stay ShuffledHashJoin — the static-estimate broadcast
    plan died at the 10x corpus probe (SCALE.md 'Heap sizing'). The
    1-row frames (n_docs) keep their explicit broadcasts; this guards
    the hints against accidental removal."""
    for key in (
        "text_ngram_lm_score",
        "corpus_dup_ngrams",
        "dedup_ngram_jaccard",
        "dedup_incremental",
        "text_doc_pairs_jaccard",
        "text_containment",
    ):
        plan = _plan(registry.all_queries()[key](spark, SF_DIR))
        assert "ShuffledHashJoin" in plan, f"{key}: shuffle_hash hint lost"


def test_search_vector_index_df_plan_is_pruned_and_equi_joined(spark, tmp_path):
    """r12 verdict #4 plan lock for the DataFrame-native serve: the
    probe-cell ranking is map-side (no Window, no Exchange, no driver
    loop — the model rides ONE broadcast row), the query→cells attach is
    an EQUI-join (never the list path's array_contains nested loop), and
    the cells scan is partition-pruned to the probed cells via the
    isin filter derived from the bounded probed-set collect."""
    import re

    from pyspark.sql import functions as F

    from synthetic_data_transfer_to_relational_database_spark.operators.vector_index import (
        build_vector_index,
        search_vector_index_df,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "vidx")
    build_vector_index(spark, e, idx, centroids="kmeans", n_cells=8)
    qdf = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # eager=False: the plan lock inspects the lazy serve plan itself —
    # the default eager mode wraps it in an InMemoryRelation whose
    # printed cached plan would double-count every operator line
    res = search_vector_index_df(spark, idx, qdf, top_k=3, n_probe=2, eager=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the final top-k window is the one Window operator; probe ranking
    # adds none (WindowGroupLimit is that same top-k's rank pushdown)
    window_ops = [
        ln for ln in plan.splitlines() if re.search(r"[+:]- Window \[", ln)
    ]
    assert len(window_ops) <= 1, window_ops
    # the probed-cells scan carries the partition-pruning isin
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln and "IN" in ln.upper() for ln in scan_lines), scan_lines
    # query→cells attach is keyed on cell_id: a hash/broadcast-hash join,
    # not the BNLJ the list path accepts for its 10-query contract; the
    # only nested loops allowed are the 1-row __cents model attaches
    # (the whitelisted _argmin_assign shape)
    assert any(
        "HashJoin [cell_id" in ln or "HashJoin[cell_id" in ln
        for ln in plan.splitlines()
    ), plan
    # any BNLJ must be the conditionless 1-row model attach (the line
    # ends at "Cross" — a condition-bearing or Inner nested loop would
    # mean the query→cells attach degenerated)
    bnlj = [ln.strip() for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all(ln.endswith("BuildRight, Cross") for ln in bnlj), bnlj
    assert "Scan ExistingRDD[__cents" in plan
    # the probe-ranking stage alone: broadcast model, zero shuffles/window
    probe_only = (
        qdf.crossJoin(F.broadcast(spark.createDataFrame(
            [([(0, [0.0] * 64)],)],
            "__cents array<struct<cell_id:int,cv:array<double>>>",
        )))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in probe_only
    assert not re.search(r"\bExchange (hashpartitioning|rangepartitioning)", probe_only)
