#!/usr/bin/env python
"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Methodology (two layers, both recorded so rounds stay comparable):

- per query, best-of-2 materializations WITHIN a JVM — a co-tenant CPU
  spike during a single pass otherwise inflates the number by 30%+
  (observed); the first pass is also kept so single-pass rounds (r1)
  remain comparable.
- TWO independent JVM samples (subprocess invocations of this script) —
  one sample per round cannot separate co-tenant noise from a real
  regression (the r3 verdict's +12-27% on unchanged queries was
  unadjudicable for exactly this reason). The reported per-query number
  is the min across samples; both full samples ride along under
  "samples".

Each query is fully materialized through the `noop` datasource sink so the
timing covers the whole plan (scan → shuffle → sink), not a count()
shortcut that lets Spark prune columns. One warm-up run of the flagship
query first so JVM/codegen warm-up isn't charged to q1.

RIG NOTE (r12): all figures through the FIRST r12 official run were
measured on pyspark's 1g default driver heap (session.py never set it);
from the second r12 run the JVM is sized to the machine (8g — SCALE.md
"Heap sizing"). Cross-rig comparisons carry a ~0-30% GC-tax skew on top
of the usual noise band; the history file's loadavg/cpu telemetry marks
the boundary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tests.full_schema import full_schema_kind, full_schema_script  # noqa: E402

# Headline set: one per operator family, heaviest members preferred.
HEADLINE = [
    "revenue_by_nation",   # 4-way join + agg + sort (flagship)
    "join_broadcast",      # broadcast-hash join
    "join_range",          # non-equi theta join
    "agg_hash",            # hash aggregate
    "agg_rollup",          # hierarchical agg
    "window_rank",         # window exec (cost-based dispatch: naive branch here)
    "topk_per_group",      # rank-filter top-k
    "sort_limit",          # global sort + limit
    "scalar_json",         # JSON parse over events
    "events_tumbling",     # time-window agg
    "events_session",      # session windows
    "text_stats",          # tokenize + explode + agg
    "dedup_exact",         # hash-groupBy dedup
    "dedup_minhash_lsh",   # MinHash LSH near-dup
    "sim_search",          # brute-force top-k cosine
]

# The range-slice rank machinery never crosses its 1 GiB dispatch
# threshold at sf0.1, so its constant factors would go untimed; this
# entry forces window_rank onto the scalable branch (threshold 0) so the
# distributed derivation is tracked round-over-round. Excluded from the
# r3-comparable total (it did not exist then).
FORCED_SCALABLE = "window_rank_scalable_forced"

# New-in-r4 heavyweights tracked the same way (excluded from the
# r3-comparable totals; comparable from r5 on): the inverted-index
# all-pairs similarity join (multi-join + cached token index) and the
# blocked kNN-graph (block-quadratic cosine + per-src window).
# Series note: text_doc_pairs_jaccard re-baselined TWICE — r12 at the
# shuffle-hash plan adoption (broadcast dies at 10× corpus), r13 at
# ≈3.0 s after a quiet-rig scoped adjudication showed the 2.362 r12
# figure was one favorable sample (SHJ-era samples range 2.6–5.0 s;
# it is the most stage-count-heavy sub-5 s entry, so it surfs
# co-tenancy hardest — treat 2.6–3.3 as in-band, SCALE.md).
EXTRA = ["text_doc_pairs_jaccard", "sim_knn_graph"]
# New in r5 (no prior numbers): tracked but outside BOTH comparable
# totals until r6 — the PQ entry times train(3 Lloyd jobs)+encode+ADC.
EXTRA_R5 = ["sim_search_pq"]
# New in r6 (no prior numbers; comparable from r7): the heaviest two of
# the TPC-H-shaped pack — the full-scan pricing summary (Q1 shape) and
# the 3-way-join big-order aggregate (Q18 shape) — plus the streaming
# engine's first tracked number: stream_tumbling runs the watermarked
# micro-batch pipeline to completion (source -> stateful agg ->
# complete-mode sink), so checkpoint + state-store costs are in the
# timing, not just the logical agg.
EXTRA_R6 = ["lineitem_pricing_summary", "orders_big_volume", "stream_tumbling"]
# New in r9 (comparable from r10 — folded into total_r4_comparable per
# the r9 verdict now that r9 recorded prior numbers): the four shapes
# that completed the feasible classic suite — Q10 top-20 returned-item
# revenue (3-way join + TakeOrderedAndProject), Q15 tie-safe
# max-over-aggregate (double lineitem scan + decimal-key hash attach),
# Q19 OR-of-ANDs bracket revenue (pushdown showcase), Q21 semi+anti
# waiting suppliers (the catalog's only LeftSemi AND LeftAnti plan).
# Re-baseline constant for the expanded series: r9's
# total_r4_comparable 12.538 + r9's EXTRA_R9 sum 2.553 = 15.091 — that
# is the r9-equivalent figure r10's total_r4_comparable compares to.
EXTRA_R9 = [
    "returned_item_report",
    "top_supplier_revenue",
    "bracket_revenue",
    "waiting_suppliers",
]
# New in r12 (no prior numbers; comparable from r13): the persisted
# vector index's full loop — sim_search_index times build (seed + 3
# Lloyd refinements) + partitioned write + full-probe serve from the
# files, so the number covers the whole day-1 story, not just the query
# — and the corpus bigram-LM scorer (two vocabulary aggs + token-keyed
# joins over ~doc-length×corpus bigram instances). Series note:
# text_ngram_lm_score's r13-comparable baseline is 0.955 s from the
# 8g-rig official run, which already carries the shuffle_hash plan
# (the fix for the static broadcast that DIED at the 10× corpus probe;
# SCALE.md §2). On the sized rig the shuffle plan costs what the
# broadcast plan did; the 1.402 s scoped adjudication in the history
# was the same plan paying the old 1g rig's GC tax.
EXTRA_R12 = ["sim_search_index", "text_ngram_lm_score"]
# New in r6: the engine the repo is named for, at benchmark scale — the
# reference's FULL 85-table script.sql schema generated at 10k rows per
# table (850k rows, 131 FK constraints) through the parquet
# materialize="write" path (the at-scale mode: nothing pinned in
# memory, dependents re-read from storage). Single pass per JVM — a
# 10-table-per-second pipeline is not a microbenchmark, and its cost is
# plan construction + 85 unique-plan compiles, which best-of-2 would
# halve dishonestly. Excluded from the QUERY totals permanently (two
# orders of magnitude above query scale — folding it in would drown
# them), but from r7 its own per-key series IS comparable
# round-over-round: r6 recorded 38.062 s; method unchanged since.
GEN_FULL_SCHEMA = "gen_full_schema"
# New in r7: the same 85-table build with fk_skew=1.0 — every
# with-replacement FK draw warped heavy-tailed (hot low parent ids), so
# the bench clock covers the skew machinery commit 60cefcc built (the
# r6 verdict: "nothing times it yet"). Same single-pass method and the
# same exclusion rules as GEN_FULL_SCHEMA; its series starts r7.
GEN_FULL_SCHEMA_SKEW = "gen_full_schema_skew"
# New in r7: the streaming corpus-ingest pipeline's first tracked
# number — the sf documents table split into 4 crawl files, drained as
# 4 micro-batches through write_stream_dedup_ingest (sign once,
# in-batch cluster dedup, cross-corpus index join, bucketed index
# append, ledger commit). Single pass (a stateful pipeline, not a
# microbenchmark); file split + index bootstrap happen OUTSIDE the
# timed region. Excluded from every comparable total; series starts r7.
INGEST_CORPUS = "ingest_corpus_4batches"
# New in r10: the day-2 maintenance cost on the corpus the ingest entry
# just built — the composed `maintain --full` pass (compact_corpus
# folds the 4 committed micro-batch directories into the base,
# compact_index drops crash-replay duplicate rows, verify_index runs
# last so its verdict covers the post-maintenance state). Timed in the
# same JVM right after the ingest drain, against the same tmp corpus,
# before teardown. Single pass, excluded from every comparable total
# (pipeline scale); its own series starts r10 — this is the number the
# SCALE.md batch-sizing guidance needs for "how often can you afford
# the maintenance pass".
MAINTAIN_FULL = "maintain_full_after_4batches"
_PIPELINE_KEYS = {GEN_FULL_SCHEMA, GEN_FULL_SCHEMA_SKEW, INGEST_CORPUS, MAINTAIN_FULL}
_GEN_KEYS = _PIPELINE_KEYS  # historical alias used by the totals below
NONCOMPARABLE = {
    FORCED_SCALABLE, *EXTRA, *EXTRA_R5, *EXTRA_R6, *EXTRA_R9, *EXTRA_R12,
    *_PIPELINE_KEYS,
}
# entries absent from the r4 record — ONE definition so each new
# EXTRA_Rn extends a single set, not three chains. EXTRA_R9 left this
# set in r10 (it now counts toward total_r4_comparable; see the
# re-baseline constant above). EXTRA_R5/R6 stay excluded: their
# per-key series are tracked individually and folding them would break
# an 5-round-old total for no information gain.
R4_EXCLUDED = frozenset({*EXTRA_R5, *EXTRA_R6, *EXTRA_R12, *_PIPELINE_KEYS})
# From r5 the three r4-new heavyweights COUNT (they have r4 numbers to
# compare against): total_r4_comparable = everything timed. Keeping both
# totals means a regression in the three most expensive plans is visible
# while the long-running r3 series stays unbroken.


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _gen_1m(spark, fact_rows: int = 1_000_000):
    """Generator throughput: 10k-customer dim + 1M-row fact with FK
    sampling and a full provider mix, materialized through noop. The
    reference generates 15 rows/table in a Python loop; this is the same
    semantic pipeline as a codegen'd projection. ``fact_rows`` scales
    the fact table only (tools/gen_scale_probe.py times 10×); the
    bench entry always runs the default 1M."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "Musteri": TableSpec(
            name="Musteri",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Unvan", "string", nullable=False, length=100),
                ColumnSpec("Eposta", "string", nullable=True, length=100),
                ColumnSpec("Iban", "string", nullable=True, length=26),
            ],
            pk=["Id"],
            fks=[],
        ),
        "Hareket": TableSpec(
            name="Hareket",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("MusteriId", "uuid", nullable=False, length=36),
                ColumnSpec("Tutar", "decimal(25,6)", nullable=True, precision=25, scale=6),
                ColumnSpec("Tarih", "date", nullable=False),
                ColumnSpec("Aciklama", "string", nullable=True, length=200),
            ],
            pk=["Id"],
            fks=[FKSpec(["MusteriId"], "Musteri", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(
        spark, tables, seed=42, row_counts={"Musteri": 10_000, "Hareket": fact_rows}
    )
    built = plan.run(materialize=False)
    _materialize(built["Hareket"])


def _gen_full_schema(spark, fk_skew: float = 0.0, rows: int = 10_000) -> None:
    """The complete 85-table ERP schema — the reference's script.sql when
    its checkout is present, else the in-repo census stand-in
    (tests/full_schema.py; the history line's ``gen_schema`` says which)
    — parsed and generated at 10k rows/table through the parquet write path —
    toposorted FK closure, subtype PK permutations, identity sequences,
    the lot. This is the end-to-end pipeline run_engine.py performs at 15
    rows/table, at 667× its row count. ``fk_skew=1.0`` warps every
    with-replacement FK draw heavy-tailed (the skew series). ``rows``
    scales rows-per-table (tools/gen_scale_probe.py times 10×); the
    bench entries always run the default 10k."""
    import shutil
    import tempfile

    from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

    tables = parse_schema_script(full_schema_script())
    out = tempfile.mkdtemp(prefix="sdt_bench_fullgen_")
    try:
        plan = GenerationPlan(
            spark, tables, seed=11, default_rows=rows, fk_skew=fk_skew
        )
        plan.materialize_dir = out
        # level-parallel build (16 threads): same-level tables share no
        # FK edge, output is test-locked byte-identical to the serial
        # build (tests/test_generator.py) — this overlaps driver-side
        # plan construction (GIL released during py4j waits) with
        # cluster execution; ~2x over serial at 8 threads, ~15% more at
        # 16 (measured r6).
        plan.run(materialize="write", parallelism=16)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _ingest_corpus(spark, sf_dir: str, n_batches: int = 4, with_maintain: bool = False):
    """``n_batches`` crawl files through the incremental near-dup ingest;
    returns ``(drain_seconds, maintain_seconds_or_None)`` — the
    split/bootstrap setup runs before the clock starts. ``with_maintain``
    additionally times the composed day-2 maintenance pass
    (compact_corpus + compact_index + verify_index, the `maintain --full`
    CLI body) against the corpus the drain just built; without it the
    second element is None. The return shape is flag-INdependent on
    purpose — r10 advice flagged the earlier float-or-tuple shape as a
    misuse trap. The headline entry times the 4-batch split; SCALE.md's
    "Ingest cost model" re-timed the SAME corpus at 8 batches (drain
    element only) to separate fixed micro-batch overhead from per-row
    work, and its per-trigger layer table splits one trigger's cost."""
    import glob as _glob
    import shutil
    import tempfile

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        compact_corpus,
        compact_index,
        ensure_index,
        stream_documents,
        verify_index,
        write_stream_dedup_ingest,
    )

    tmp = tempfile.mkdtemp(prefix="sdt_bench_ingest_")
    table = "t_bench_ingest_idx"
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        split = os.path.join(tmp, "split")
        docs.withColumn("__f", docs.doc_id % n_batches).repartition(
            n_batches, "__f"
        ).write.partitionBy("__f").mode("overwrite").parquet(split)
        for i, d in enumerate(sorted(_glob.glob(os.path.join(split, "__f=*")))):
            stage = os.path.join(tmp, f"stage{i}")
            spark.read.parquet(d).coalesce(1).write.mode("overwrite").parquet(stage)
            shutil.copy(
                _glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                os.path.join(src, f"crawl{i}.parquet"),
            )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        ensure_index(spark, table, os.path.join(tmp, "idx"), docs_src=src)

        t0 = time.perf_counter()
        write_stream_dedup_ingest(
            stream_documents(spark, src),
            table,
            os.path.join(tmp, "corpus"),
            os.path.join(tmp, "ckpt"),
        ).awaitTermination()
        drain = time.perf_counter() - t0
        if not with_maintain:
            return drain, None

        out = os.path.join(tmp, "corpus")
        t1 = time.perf_counter()
        compact_corpus(spark, out)
        compact_index(spark, table)
        report = verify_index(spark, table, out)
        maintain = time.perf_counter() - t1
        if not report["ok"]:  # a broken corpus must not pose as a timing
            raise RuntimeError(f"maintain-full verify failed: {report}")
        return drain, maintain
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)


def run_sample(sf_dir: str) -> dict:
    """One JVM sample: best-of-2 per headline query."""
    from synthetic_data_transfer_to_relational_database_spark import registry
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    spark = get_spark("sdt-bench")
    queries = registry.all_queries()

    # Warm-up: JVM JIT, codegen cache, parquet footer reads.
    _materialize(queries["revenue_by_nation"](spark, sf_dir))

    timings: dict[str, float] = {}
    first_pass: dict[str, float] = {}

    def run_best_of_2(name: str, run) -> None:
        best = float("inf")
        for i in range(2):
            t0 = time.perf_counter()
            run()
            dt = time.perf_counter() - t0
            if i == 0:
                first_pass[name] = round(dt, 3)
            best = min(best, dt)
        timings[name] = round(best, 3)
        # queries that cache() shared subtrees (minhash signatures, the
        # pair-join token index) would otherwise leave populated caches
        # occupying executor storage while LATER entries are timed —
        # clear outside the timed region so entries stay independent
        spark.catalog.clearCache()

    for name in [*HEADLINE, *EXTRA, *EXTRA_R5, *EXTRA_R6, *EXTRA_R9, *EXTRA_R12]:
        fn = queries[name]
        run_best_of_2(name, lambda fn=fn: _materialize(fn(spark, sf_dir)))
    # Series note: gen_1m_rows re-baselined in r11 at ≈0.5–0.8 s — the
    # r10 sentence-cardinality fix costs ≈0.1 µs/row on the description
    # column (measured column-level A/B, SCALE.md "Bench noise band");
    # pre-r11 values (0.344 s r9) are not comparable.
    run_best_of_2("gen_1m_rows", lambda: _gen_1m(spark))

    drain, maintain = _ingest_corpus(spark, sf_dir, with_maintain=True)
    timings[INGEST_CORPUS] = first_pass[INGEST_CORPUS] = round(drain, 3)
    timings[MAINTAIN_FULL] = first_pass[MAINTAIN_FULL] = round(maintain, 3)
    spark.catalog.clearCache()

    for key, skew in ((GEN_FULL_SCHEMA, 0.0), (GEN_FULL_SCHEMA_SKEW, 1.0)):
        t0 = time.perf_counter()
        _gen_full_schema(spark, fk_skew=skew)
        dt = round(time.perf_counter() - t0, 3)
        timings[key] = dt
        first_pass[key] = dt
        spark.catalog.clearCache()

    # Forced-scalable branch: threshold 0 routes window_rank through the
    # range-slice derivation (the dispatch cache keys on the threshold,
    # so this does not poison the naive-branch entry above).
    spark.conf.set("spark.sdt.rank.smallInputBytes", "0")
    try:
        fn = queries["window_rank"]
        run_best_of_2(FORCED_SCALABLE, lambda: _materialize(fn(spark, sf_dir)))
    finally:
        spark.conf.unset("spark.sdt.rank.smallInputBytes")

    spark.stop()
    comparable = [k for k in timings if k not in NONCOMPARABLE]
    return {
        "queries": timings,
        "total": round(
            sum(v for k, v in timings.items() if k not in _GEN_KEYS), 3
        ),
        "total_r3_comparable": round(sum(timings[k] for k in comparable), 3),
        "total_r4_comparable": round(
            sum(v for k, v in timings.items() if k not in R4_EXCLUDED), 3
        ),
        # same exclusions as total_r3_comparable: this figure's whole
        # purpose is comparability with rounds that predate the entries
        "single_pass_total": round(
            sum(v for k, v in first_pass.items() if k not in NONCOMPARABLE), 3
        ),
        "queries_single_pass": first_pass,
    }


def _hardware_yardsticks() -> dict:
    """Machine-state yardsticks appended to every official bench line
    (r16 verdict #3): the r15/r16 drift waves were adjudicated only
    after HAND-RUN probes — the host's 5.4 ms fsync closed the
    ingest_corpus re-baseline, a CPU-scaling probe plus steal%
    separated host co-tenancy from guest load, and the 15-min loadavg
    (not the 1-min) turned out to be the signal that predicts drift.
    Recording them with each run makes the classification mechanical.
    Total cost ~2.5 s per call. Yardsticks:

    - fsync_ms_median/p90: 25 × (4 KB write + fsync) on the repo
      filesystem — the latency class behind every streaming-trigger
      commit. The r16 re-baseline mechanism was exactly this number.
    - steal_pct / busy_pct: /proc/stat deltas over 0.5 s — steal is the
      only DIRECT host-co-tenancy signal the guest can see.
    - cpu_scale_n: wall-clock RATIO of cpu_scale_k concurrent fixed
      spins vs 1, one spin per usable CPU (``sched_getaffinity``; each
      ~0.25 s of pure Python spin in its own process). ~1.0–1.4 on an
      idle box (interpreter startup); >2 means the usable CPUs are not
      actually available — the r16 signature where the 1-min loadavg
      read quiet but officials drifted anyway."""
    hw: dict = {"loadavg_1_5_15": [round(x, 2) for x in os.getloadavg()]}
    try:
        import statistics
        import tempfile

        d = os.path.dirname(os.path.abspath(__file__))
        fd, p = tempfile.mkstemp(dir=d, prefix=".fsync_probe_")
        lat = []
        try:
            buf = b"x" * 4096
            for _ in range(25):
                t0 = time.perf_counter()
                os.write(fd, buf)
                os.fsync(fd)
                lat.append((time.perf_counter() - t0) * 1000)
        finally:
            os.close(fd)
            os.unlink(p)
        lat.sort()
        hw["fsync_ms_median"] = round(statistics.median(lat), 3)
        hw["fsync_ms_p90"] = round(lat[int(len(lat) * 0.9)], 3)
    except Exception as e:  # noqa: BLE001 - telemetry must never fail the bench
        hw["fsync_err"] = str(e)[:80]
    try:
        def cpu_fields() -> list[int]:
            with open("/proc/stat") as f:
                return [int(x) for x in f.readline().split()[1:]]

        a = cpu_fields()
        time.sleep(0.5)
        b = cpu_fields()
        delta = [y - x for x, y in zip(a, b)]
        tot = sum(delta) or 1
        # fields: user nice system idle iowait irq softirq steal ...
        hw["steal_pct"] = round(100.0 * delta[7] / tot, 2) if len(delta) > 7 else None
        hw["busy_pct"] = round(100.0 * (tot - delta[3] - delta[4]) / tot, 2)
    except Exception as e:  # noqa: BLE001
        hw["proc_stat_err"] = str(e)[:80]
    try:
        spin = (
            "import time\n"
            "s = time.perf_counter()\n"
            "n = 0\n"
            "while time.perf_counter() - s < 0.25:\n"
            "    n += 1\n"
        )

        def run_n(k: int) -> float:
            t0 = time.perf_counter()
            procs = [
                subprocess.Popen(
                    [sys.executable, "-c", spin],
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                )
                for _ in range(k)
            ]
            for pr in procs:
                pr.wait()
            return time.perf_counter() - t0

        k = len(os.sched_getaffinity(0))
        t1 = run_n(1)
        tk = run_n(k)
        hw["cpu_scale_k"] = k
        hw["cpu_scale_n"] = round(tk / t1, 2)
    except Exception as e:  # noqa: BLE001
        hw["cpu_scale_err"] = str(e)[:80]
    return hw


# Quiet-rig bands for the launch settledness gate (r17 verdict #2). The
# r17 driver official launched at 15-min loadavg 7.29 and carried a
# 1.2–1.3× drift wave across untouched entries that cost a full
# adjudication pass a round later; the yardsticks RECORDED the state but
# nothing acted on it. Bands from the recorded quiet officials
# (BENCH_samples_history.jsonl): settled launches read 15-min loadavg
# ~1.3, fsync p90 0.2–0.5 ms, cpu_scale_32 (now cpu_scale_n) 1.0–1.4,
# steal ~0; the known-bad states read 7.29 / 5.4 ms / >2 respectively.
_SETTLED_BANDS = {
    "loadavg_15": 4.0,
    "fsync_ms_p90": 3.0,
    "cpu_scale_n": 2.0,
    "steal_pct": 5.0,
}


def _unsettled_reasons(hw: dict) -> list[str]:
    """Which launch yardsticks sit outside the quiet-rig bands."""
    reasons = []
    la = hw.get("loadavg_1_5_15") or []
    if len(la) == 3 and la[2] > _SETTLED_BANDS["loadavg_15"]:
        reasons.append(f"loadavg_15={la[2]}>{_SETTLED_BANDS['loadavg_15']}")
    for key in ("fsync_ms_p90", "cpu_scale_n", "steal_pct"):
        v = hw.get(key)
        if isinstance(v, (int, float)) and v > _SETTLED_BANDS[key]:
            reasons.append(f"{key}={v}>{_SETTLED_BANDS[key]}")
    return reasons


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if os.environ.get("SDT_BENCH_CHILD"):
        print(json.dumps(run_sample(sf_dir)))
        return

    # yardsticks bracket the run: drift adjudication needs the machine
    # state at START and END, not a single point (a co-tenant arriving
    # mid-run shows as a before/after disagreement)
    hw_before = _hardware_yardsticks()
    # launch gate (r17 verdict #2): a drifted official must SELF-IDENTIFY
    # at launch instead of being diagnosed a round later. The run still
    # proceeds (the driver owns the schedule), but the warning is loud
    # and the history line carries settled:false for mechanical triage.
    unsettled = _unsettled_reasons(hw_before)
    if unsettled:
        print(
            "WARNING: bench launched on an UNSETTLED rig — "
            + ", ".join(unsettled)
            + " — numbers will read high; prefer a re-run after the "
            "15-min loadavg settles (SCALE.md 'Bench method')",
            file=sys.stderr,
        )
    samples: list[dict] = []
    for i in range(2):
        # machine-state telemetry rides with each sample (r11 verdict #4):
        # the r11 driver run was +20% across 31 untouched entries —
        # co-tenancy seesaws are only diagnosable from the RECORD if the
        # record says what the machine was doing at the time
        load_before = list(os.getloadavg())
        env = dict(os.environ, SDT_BENCH_CHILD="1")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        line = next(
            (l for l in reversed(proc.stdout.splitlines()) if l.startswith("{")), None
        )
        if proc.returncode == 0 and line:
            sample = json.loads(line)
            sample["loadavg_before"] = [round(x, 2) for x in load_before]
            sample["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
            samples.append(sample)
        else:
            print(
                f"bench sample {i} failed (rc={proc.returncode}):\n"
                + proc.stderr[-2000:],
                file=sys.stderr,
            )
    if not samples:
        # last resort: one in-process sample so the driver still gets a line
        samples = [run_sample(sf_dir)]

    # per-query min across JVM samples: reports the machine, not the neighbor
    names = list(samples[0]["queries"])
    queries = {
        n: min(s["queries"][n] for s in samples if n in s["queries"]) for n in names
    }
    comparable = [n for n in names if n not in NONCOMPARABLE]
    # headline value stays the QUERY total: the gen_full_schema pair is
    # a pipeline benchmark two orders of magnitude above the query
    # scale, and folding it in would make the headline meaningless
    # against every earlier round. Each rides in "queries" on its own
    # key (plain comparable from r6, skew series from r7).
    total = round(
        sum(v for n, v in queries.items() if n not in _GEN_KEYS), 3
    )

    # Raw samples live OFF stdout: r4's merged line embedded them and
    # outgrew the driver's 2 kB tail capture (BENCH_r04.json "parsed":
    # null). From r11 the in-place file holds only the MERGED best-of
    # summary (a reviewable ~30-line diff per run); the full per-JVM
    # samples are append-only in BENCH_samples_history.jsonl below —
    # that split is the r10-verdict stretch item 8.
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(repo, "BENCH_samples.json"), "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "queries_best_of_runs": queries,
                    "n_jvm_samples": len(samples),
                    "raw_samples": "BENCH_samples_history.jsonl (append-only)",
                },
                f,
                indent=1,
            )
    except OSError as e:  # bench must still report even on a read-only tree
        print(f"could not write BENCH_samples.json: {e}", file=sys.stderr)
    try:
        # The in-place file holds only the LATEST run; past rounds' raw
        # samples were only recoverable from git history, which made the
        # A/A noise-band analysis (SCALE.md "Bench noise band") awkward
        # to cite. Keep every run appended here too — one line per
        # bench invocation, timestamped.
        with open(os.path.join(repo, "BENCH_samples_history.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": int(time.time()),
                        "sf": sf,
                        "n_cpus": os.cpu_count(),
                        "loadavg_at_write": [round(x, 2) for x in os.getloadavg()],
                        # r16 verdict #3: the hand-run drift yardsticks,
                        # recorded mechanically with every official line;
                        # r17 verdict #2: the launch gate's verdict rides
                        # with them so a drifted official self-identifies
                        "settled": not unsettled,
                        "unsettled_reasons": unsettled,
                        # gen_full_schema series: "reference" script.sql
                        # or the "census" stand-in (a separate series)
                        "gen_schema": full_schema_kind(),
                        "hardware_before": hw_before,
                        "hardware_after": _hardware_yardsticks(),
                        "samples": samples,
                    }
                )
                + "\n"
            )
    except OSError as e:
        print(f"could not write BENCH_samples_history.jsonl: {e}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "method": f"best_of_2_x{len(samples)}jvm",
                "total_r3_comparable": round(sum(queries[n] for n in comparable), 3),
                "total_r4_comparable": round(
                    sum(v for n, v in queries.items() if n not in R4_EXCLUDED), 3
                ),
                "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
                # r17 verdict #2: the launch-settledness verdict rides on
                # the official line too (extra key — harmless to parsers)
                "settled": not unsettled,
            }
        )
    )


if __name__ == "__main__":
    main()
