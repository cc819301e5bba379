#!/usr/bin/env python
"""Benchmark harness: times ENTRIES at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line {"metric", "value", "unit", "queries", "sf", "settled", "method"}.
``value`` is the sum over the entries outside PIPELINE.

Method:

- per entry, best-of-2 materializations WITHIN a JVM — a co-tenant CPU
  spike during a single pass otherwise inflates the number by 30%+
  (observed). The PIPELINE entries are stateful end-to-end runs, timed
  once per JVM.
- TWO independent JVM samples (subprocess invocations of this script):
  one sample cannot separate co-tenant noise from a real regression.
  The reported per-entry number is the min across samples; both samples
  are appended to BENCH_samples_history.jsonl, each with the rig it ran
  on (cpus, master, shuffle partitions), next to the launch yardsticks.
  If both samples fail, their stderr is printed and the run exits
  non-zero: a bench that prints no line is louder than a wrong one.

Each query is fully materialized through the `noop` datasource sink so
the timing covers the whole plan (scan → shuffle → sink), not a count()
shortcut that lets Spark prune columns. One warm-up run of the flagship
query first so JVM/codegen warm-up isn't charged to the first entry.

``python bench.py <entry> ...`` times only the named entries by the same
method — the scoped re-run an above-band delta needs before it is called
a regression (SCALE.md "Bench noise band"). It appends a
``"kind": "adjudication"`` line to the history and leaves
BENCH_samples.json alone. A scoped run warms up with one query, so its
figures read high against the full run's (an upper bound: it can clear
a suspected regression, never condemn one).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tests.full_schema import full_schema_kind, full_schema_script  # noqa: E402

INGEST_CORPUS = "ingest_corpus_4batches"
MAINTAIN_FULL = "maintain_full_after_4batches"
FORCED_SCALABLE = "window_rank_scalable_forced"

# Timed in this order. Registered queries first: one per operator family
# (heaviest members preferred), then the catalog's heavyweights.
ENTRIES = [
    "revenue_by_nation",   # 4-way join + agg + sort (flagship)
    "join_broadcast",      # broadcast-hash join
    "join_range",          # non-equi theta join
    "agg_hash",            # hash aggregate
    "agg_rollup",          # hierarchical agg
    "window_rank",         # window exec (cost-based dispatch: one-window branch here)
    "topk_per_group",      # rank-filter top-k
    "sort_limit",          # global sort + limit
    "scalar_json",         # JSON parse over events
    "events_tumbling",     # time-window agg
    "events_session",      # session windows
    "text_stats",          # tokenize + explode + agg
    "dedup_exact",         # hash-groupBy dedup
    "dedup_minhash_lsh",   # MinHash LSH near-dup
    "sim_search",          # brute-force top-k cosine
    "text_doc_pairs_jaccard",    # inverted-index all-pairs similarity join
    "sim_knn_graph",             # blocked kNN graph
    "sim_search_pq",             # PQ train (3 Lloyd jobs) + encode + ADC
    "lineitem_pricing_summary",  # full-scan pricing summary (TPC-H Q1 shape)
    "orders_big_volume",         # 3-way-join big-order aggregate (Q18)
    "stream_tumbling",           # watermarked micro-batch pipeline to completion
    "returned_item_report",      # 3-way join + TakeOrderedAndProject (Q10)
    "top_supplier_revenue",      # tie-safe max-over-aggregate (Q15)
    "bracket_revenue",           # OR-of-ANDs pushdown (Q19)
    "waiting_suppliers",         # LeftSemi + LeftAnti (Q21)
    "sim_search_index",          # vector index build + partitioned write + serve
    "text_ngram_lm_score",       # corpus bigram-LM scorer
    "gen_1m_rows",               # generator: 10k-row dim + 1M-row fact
    INGEST_CORPUS,               # 4 crawl files through the streaming near-dup ingest
    MAINTAIN_FULL,               # `maintain --full` on the corpus the ingest built
    "gen_full_schema",           # the 85-table schema at 10k rows/table
    "gen_full_schema_skew",      # the same with fk_skew=1.0
    FORCED_SCALABLE,             # window_rank forced onto its range-slice branch
]
# Stateful end-to-end runs, timed once per JVM and left out of the
# headline value: they are two orders of magnitude above query scale.
PIPELINE = {INGEST_CORPUS, MAINTAIN_FULL, "gen_full_schema", "gen_full_schema_skew"}


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


def _headline(timings: dict[str, float]) -> float:
    return round(sum(v for k, v in timings.items() if k not in PIPELINE), 3)


def run_sample(sf_dir: str, names: list[str]) -> dict:
    """One JVM sample over ``names`` (in ENTRIES order), with its rig."""
    from synthetic_data_transfer_to_relational_database_spark import registry
    from synthetic_data_transfer_to_relational_database_spark.operators import skew
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    spark = get_spark("sdt-bench")
    queries = registry.all_queries()

    # Warm-up: JVM JIT, codegen cache, parquet footer reads.
    _materialize(queries["revenue_by_nation"](spark, sf_dir))

    def query(name: str):
        return lambda: _materialize(queries[name](spark, sf_dir))

    def forced_scalable() -> None:
        # window_rank on its range-slice branch; the dispatch cache keys
        # on the threshold, so the default-branch verdict is not reused
        saved = skew.RANK_SMALL_INPUT_BYTES
        skew.RANK_SMALL_INPUT_BYTES = 0
        try:
            query("window_rank")()
        finally:
            skew.RANK_SMALL_INPUT_BYTES = saved

    runs = {
        "gen_1m_rows": lambda: _gen_1m(spark),
        "gen_full_schema": lambda: _gen_full_schema(spark),
        "gen_full_schema_skew": lambda: _gen_full_schema(spark, fk_skew=1.0),
        FORCED_SCALABLE: forced_scalable,
    }
    timings: dict[str, float] = {}
    for name in names:
        if name == MAINTAIN_FULL:
            continue  # timed with the drain, on the corpus it built
        if name == INGEST_CORPUS:
            drain, maintain = _ingest_corpus(
                spark, sf_dir, with_maintain=MAINTAIN_FULL in names
            )
            timings[INGEST_CORPUS] = round(drain, 3)
            if maintain is not None:
                timings[MAINTAIN_FULL] = round(maintain, 3)
            spark.catalog.clearCache()
            continue
        run = runs.get(name) or query(name)
        best = float("inf")
        for _ in range(1 if name in PIPELINE else 2):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        # queries that cache() shared subtrees (minhash signatures, the
        # pair-join token index) would otherwise leave populated caches
        # occupying executor storage while LATER entries are timed —
        # clear outside the timed region so entries stay independent
        spark.catalog.clearCache()

    sc = spark.sparkContext
    rig = {
        "cpus": sc.defaultParallelism,
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    spark.stop()
    return {"queries": timings, "total": _headline(timings), **rig}


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
# (BENCH_samples_history.jsonl): settled launches read fsync p90
# 0.2–0.5 ms, cpu_scale_n 1.0–1.4, steal ~0; the known-bad states read
# 5.4 ms / >2 respectively.
_SETTLED_BANDS = {
    "fsync_ms_p90": 3.0,
    "cpu_scale_n": 2.0,
    "steal_pct": 5.0,
}
# Loadavg band, per usable CPU (the yardsticks' cpu_scale_k), applied to
# both the 1-min and the 15-min reading. The absolute 15-min band of 4.0
# it replaces was sized on 32 cores (0.125 per core; quiet launches read
# ~1.3 there, 0.04 per core) and let through a 4-core launch at 1-min
# 6.68 / 15-min 2.15 whose two samples read 37.13 s and 31.85 s. 0.5 per
# core is the point where other runnable work holds half the rig's CPUs
# that the bench's own JVM keeps busy; that launch read 1.67 per core.
_LOADAVG_PER_CPU = 0.5


def _unsettled_reasons(hw: dict) -> list[str]:
    """Which launch yardsticks sit outside the quiet-rig bands."""
    reasons = []
    la = hw.get("loadavg_1_5_15") or []
    cpus = hw.get("cpu_scale_k") or len(os.sched_getaffinity(0))
    band = _LOADAVG_PER_CPU * cpus
    if len(la) == 3:
        for key, v in (("loadavg_1", la[0]), ("loadavg_15", la[2])):
            if v > band:
                reasons.append(f"{key}={v}>{band:g}")
    for key, limit in _SETTLED_BANDS.items():
        v = hw.get(key)
        if isinstance(v, (int, float)) and v > limit:
            reasons.append(f"{key}={v}>{limit}")
    return reasons


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    scoped = sys.argv[1:]
    unknown = sorted(set(scoped) - set(ENTRIES))
    if unknown:
        sys.exit(f"unknown bench entries {unknown}; known: {', '.join(ENTRIES)}")
    wanted = set(scoped or ENTRIES)
    if MAINTAIN_FULL in wanted:
        wanted.add(INGEST_CORPUS)  # maintain runs on the corpus the drain builds
    names = [e for e in ENTRIES if e in wanted]

    if os.environ.get("SDT_BENCH_CHILD"):
        print(json.dumps(run_sample(sf_dir, names)))
        return

    # yardsticks bracket the run: drift adjudication needs the machine
    # state at START and END, not a single point (a co-tenant arriving
    # mid-run shows as a before/after disagreement)
    hw_before = _hardware_yardsticks()
    # launch gate: a drifted run must SELF-IDENTIFY at launch. It still
    # proceeds, but the warning is loud and the history line carries
    # settled:false for mechanical triage.
    unsettled = _unsettled_reasons(hw_before)
    if unsettled:
        print(
            "WARNING: bench launched on an UNSETTLED rig — "
            + ", ".join(unsettled)
            + " — numbers will read high; prefer a re-run after the "
            "loadavg settles (SCALE.md 'Bench method')",
            file=sys.stderr,
        )
    samples: list[dict] = []
    for i in range(2):
        load_before = list(os.getloadavg())
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *scoped],
            env=dict(os.environ, SDT_BENCH_CHILD="1"),
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
        sys.exit("bench: every JVM sample failed (stderr tails above)")

    # per-entry min across JVM samples: reports the machine, not the neighbor
    queries = {
        n: min(s["queries"][n] for s in samples if n in s["queries"])
        for n in samples[0]["queries"]
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    record = {
        "ts": int(time.time()),
        "sf": sf,
        "loadavg_at_write": [round(x, 2) for x in os.getloadavg()],
        "settled": not unsettled,
        "unsettled_reasons": unsettled,
        # gen_full_schema series: "reference" script.sql or the "census"
        # stand-in (a separate series)
        "gen_schema": full_schema_kind(),
        "hardware_before": hw_before,
        "hardware_after": _hardware_yardsticks(),
        "samples": samples,
    }
    if scoped:
        record["kind"] = "adjudication"
    else:
        # the in-place file holds only the merged best-of summary (a
        # reviewable diff per run); raw samples are in the history
        try:
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
        # one line per invocation, append-only: the A/A noise-band
        # analysis (SCALE.md "Bench noise band") cites these
        with open(os.path.join(repo, "BENCH_samples_history.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    except OSError as e:
        print(f"could not write BENCH_samples_history.jsonl: {e}", file=sys.stderr)

    out = {
        "metric": "headline_total_wall",
        "value": _headline(queries),
        "unit": "sec",
        "queries": queries,
        "method": f"best_of_2_x{len(samples)}jvm",
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        "settled": not unsettled,
    }
    if scoped:
        out["kind"] = "adjudication"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
