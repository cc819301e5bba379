"""The three workloads. Each is a closed loop with one client that calls
the program's public functions: ``setup`` does the program's set-up and
warm-up, ``run`` performs the timed ops, ``check`` verifies what the ops
produced. Time the benchmark spends on its own inputs and checks is kept
in ``own_s`` so it can be left out of set-up time."""

from __future__ import annotations

import glob
import itertools
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

import census
import inputs

# bench.py's 15 HEADLINE queries (one per operator family), the blocked
# kNN graph, the indexed vector search and one relational3 shape;
# NOTES.md says which heavier queries were left out
MIX = [
    "revenue_by_nation", "join_broadcast", "join_range", "agg_hash", "agg_rollup",
    "window_rank", "topk_per_group", "sort_limit", "scalar_json", "events_tumbling",
    "events_session", "text_stats", "dedup_exact", "dedup_minhash_lsh", "sim_search",
    "sim_knn_graph", "sim_search_index", "lineitem_pricing_summary",
]
# PERFBENCH_SMOKE=1 shrinks every workload to a quick smoke run for the
# benchmark's own tests; the metric set stays the same
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"
RUN_MIX = MIX[:3] if SMOKE else MIX
ANALYTICS_SCALE = 0.001 if SMOKE else 0.005  # 0.005: 750 customers, 30,000 lineitems
GEN_ROWS = 200 if SMOKE else 10_000
TIMED_LEVELS = 1 if SMOKE else 2  # levels 0 and 1 of the census: 19 tables
# one warm-up file, then two files (two triggers) per cycle; enough files
# that a run ends on its deadline, never on running out of input
INGEST_FILES = 3 if SMOKE else 25
INGEST_DOCS_PER_FILE = 125
INGEST_FILES_PER_CYCLE = 2
# analytics passes and ingest cycles that run whatever the deadline: one
# of either is too few ops for a p50 and a tail, and a run that made one on
# a slow host and three on a fast one would measure different work
MIN_PASSES = 1 if SMOKE else 2
STREAM_PHASES = ["addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets"]


@dataclass
class Op:
    id: int
    label: str
    start: float
    end: float
    ok: bool = True

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Workload:
    spark: object
    tmp: str
    seed: int
    cpus: int
    tracer: object
    ops: list[Op] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    own_s: float = 0.0
    errors: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    op_ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def own(self):
        """Benchmark-side work: inputs and checks, never program time."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t

    def group(self, name: str) -> None:
        """Tag the Spark jobs this thread starts next (``op<id>`` for ops)."""
        self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def written(self) -> tuple[int, int]:
        """(bytes, files) of parquet the timed ops wrote."""
        return 0, 0

    def stored(self) -> tuple[int, int] | None:
        """(bytes stored, rows stored) for bytes_per_row, or None."""
        return None


def _dir_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        n += 1
        size += os.path.getsize(f)
    return size, n


# --- erp_gen ------------------------------------------------------------


class ErpGen(Workload):
    """Fill the census schema: one op is one table's ``build_one(name,
    "write")`` at 10,000 rows; a pass drives the ops through
    ``for_each_level`` with a fresh seeded ``GenerationPlan``."""

    def setup(self) -> None:
        from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

        dump = os.path.join(self.tmp, "census.sql")
        with self.own():
            census.write_dump(dump, self.seed)
        t = time.perf_counter()
        with self.tracer.span("sources.ddl.parse"):
            self.tables = parse_schema_script(dump)
        self.layer["sources.ddl.parse_s"] = time.perf_counter() - t
        if len(self.tables) != census.N_TABLES:
            raise RuntimeError(f"census parsed to {len(self.tables)} tables")
        # warm-up: the first dependency level of a throwaway pass
        plan = self._plan(-1)
        warm = set(plan.build_levels()[0])

        def op(name: str) -> None:
            if name in warm:
                self.group("warmup")
                plan.build_one(name, "write")

        plan.for_each_level(op, parallelism=self.cpus)

    def _plan(self, p: int):
        from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan

        plan = GenerationPlan(self.spark, self.tables, seed=self.seed * 1000 + p + 1, default_rows=GEN_ROWS)
        plan.materialize_dir = os.path.join(self.tmp, f"pass{p}")
        return plan

    def run(self, seconds: float) -> None:
        """Passes over the tables of the first ``TIMED_LEVELS`` dependency
        levels, each with a fresh plan. After the first whole pass no op
        starts once ``seconds`` have passed, so a later pass is usually cut
        short; an op already running completes and counts."""
        self.passes: list[tuple[object, dict[str, Op]]] = []
        t_end = time.perf_counter() + seconds
        p = 0
        while p == 0 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            plan = self._plan(p)
            timed = {n for lv in plan.build_levels()[:TIMED_LEVELS] for n in lv}
            done: dict[str, Op] = {}

            def op(name: str, p=p, plan=plan, done=done, timed=timed) -> None:
                if name not in timed or (p > 0 and time.perf_counter() >= t_end):
                    return
                i = next(self.op_ids)
                self.group(f"op{i}")
                start = time.time()
                try:
                    with self.tracer.span("plans.build_one", op=i):
                        plan.build_one(name, "write")
                    done[name] = Op(i, name, start, time.time())
                except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                    done[name] = Op(i, name, start, time.time(), ok=False)
                    self.fail(f"{name}: {type(e).__name__}: {e}"[:300])

            plan.for_each_level(op, parallelism=self.cpus)
            self.pass_walls.append(time.perf_counter() - t0)
            self.passes.append((plan, done))
            self.ops.extend(done.values())
            p += 1

    def check(self) -> None:
        with self.own():
            for plan, done in self.passes:
                for name, o in done.items():
                    if not o.ok:
                        continue
                    n = pq.ParquetDataset(os.path.join(plan.materialize_dir, name)).read([]).num_rows
                    if n != GEN_ROWS:
                        o.ok = False
                        self.fail(f"{name}: {n} rows, expected {GEN_ROWS}")
            plan, done = self.passes[0]
            for bad in _integrity_errors(plan, [n for n, o in done.items() if o.ok]):
                done[bad[0]].ok = False
                self.fail(bad[1])

    def layers(self, groups: dict[str, list]) -> None:
        from measure import union_length

        ops = [o for o in self.ops if o.ok]
        self.layer["plans.tables"] = len(ops)
        driver = 0.0
        for o in self.ops:
            jobs = groups.get(f"op{o.id}", [])
            driver += o.latency - union_length([(max(s, o.start), min(e, o.end)) for s, e in jobs if e > o.start])
        self.layer["plans.driver_s"] = driver
        wait = 0.0
        for plan, done in self.passes:
            for level in plan.build_levels():
                lv = [done[n] for n in level if n in done]
                if lv:
                    wall = max(o.end for o in lv) - min(o.start for o in lv)
                    wait += wall - max(o.latency for o in lv)
        self.layer["plans.level_wait_s"] = wait

    def written(self) -> tuple[int, int]:
        size = files = 0
        for plan, done in self.passes:
            for name in done:
                s, n = _dir_bytes(os.path.join(plan.materialize_dir, name))
                size, files = size + s, files + n
        return size, files

    def stored(self):
        return self.written()[0], GEN_ROWS * sum(len(done) for _, done in self.passes)


def _integrity_errors(plan, built: list[str]) -> list[tuple[str, str]]:
    """FK closure (nulls aside), PK uniqueness and unique-index uniqueness
    over the written parquet of ``built`` tables."""
    built_set = set(built)
    cache: dict[tuple[str, tuple], list] = {}

    def rows(table: str, cols: list[str]) -> list:
        key = (table, tuple(cols))
        if key not in cache:
            t = pq.ParquetDataset(os.path.join(plan.materialize_dir, table)).read(cols)
            cache[key] = list(zip(*(t.column(c).to_pylist() for c in cols)))
        return cache[key]

    errs: list[tuple[str, str]] = []
    for name in built:
        spec = plan.tables[name]
        gen = {c.name for c in spec.generated_columns}
        if spec.pk and set(spec.pk) <= gen:
            vals = rows(name, spec.pk)
            if len(set(vals)) != len(vals):
                errs.append((name, f"{name}: duplicate primary keys {spec.pk}"))
        for idx in spec.unique_indexes:
            if set(idx) <= gen:
                vals = rows(name, idx)
                if len(set(vals)) != len(vals):
                    errs.append((name, f"{name}: unique index {idx} violated"))
        for fk in spec.fks:
            if fk.parent_table not in built_set or not set(fk.columns) <= gen:
                continue
            pspec = plan.tables[fk.parent_table]
            if [pspec.column(c).identity for c in fk.parent_columns] == [True]:
                parents = {(i,) for i in range(1, GEN_ROWS + 1)}  # IDENTITY(1,1) keys
            else:
                parents = set(rows(fk.parent_table, fk.parent_columns))
            orphans = [v for v in rows(name, fk.columns) if None not in v and v not in parents]
            if orphans:
                errs.append((name, f"{name}.{fk.columns} -> {fk.parent_table}: {len(orphans)} orphans"))
    return errs


# --- analytics ------------------------------------------------------------


class _Collected:
    """A query's collected result, in the shape ``oracle_harness.compare``
    reads a DataFrame (``columns``, ``collect()``): the collect is the
    program's warm-up work, the comparison the benchmark's own."""

    def __init__(self, df):
        self.columns, self._rows = df.columns, df.collect()

    def collect(self) -> list:
        return self._rows


class Analytics(Workload):
    """The query mix: one op is one registered query materialized through
    the ``noop`` sink; every pass runs the mix in a seed-permuted order.
    ``clearCache`` between ops is not timed."""

    def setup(self) -> None:
        import oracle_harness
        from synthetic_data_transfer_to_relational_database_spark import registry

        self.sf = os.path.join(self.tmp, "sf")
        with self.own():
            self.info["rows"] = inputs.write_tables(self.sf, self.seed, ANALYTICS_SCALE)
            con = oracle_harness.duck_connection(self.sf)
        self.queries = registry.all_queries()
        oracles = registry.all_oracles()
        missing = [q for q in RUN_MIX if q not in self.queries]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        # warm-up: a pass that is also the correctness pass
        self.bad: set[str] = set()
        self.group("warmup")
        for q in RUN_MIX:
            got = _Collected(self.queries[q](self.spark, self.sf))
            self.spark.catalog.clearCache()
            with self.own():
                try:
                    if q in oracles:
                        oracle_harness.compare(got, con, oracles[q], q)
                    elif not got.collect():
                        raise AssertionError(f"{q}: returned no rows")
                except AssertionError as e:
                    self.fail(str(e).splitlines()[0][:300])
                    self.bad.add(q)
        self.phases: dict[str, list[float]] = {"analyze": [], "optimize": [], "physical": []}

    def run(self, seconds: float) -> None:
        """``MIN_PASSES`` whole passes, then more until ``seconds`` have
        passed; the pass that is running then completes. Query latencies
        differ by 20x, so a pass cut short would make the figures depend on
        which queries the seed's order put before the cut."""
        rng = random.Random(self.seed)
        t_end = time.perf_counter() + seconds
        while len(self.pass_walls) < MIN_PASSES or time.perf_counter() < t_end:
            order = list(RUN_MIX)
            rng.shuffle(order)
            wall = 0.0
            for q in order:
                i = next(self.op_ids)
                self.group(f"op{i}")
                start = time.time()
                ok = q not in self.bad
                try:
                    with self.tracer.span(f"operators.{q}", op=i):
                        with self.tracer.span("operators.build", op=i):
                            df = self.queries[q](self.spark, self.sf)
                        if self.tracer.enabled:
                            self._phases(df)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                    ok = False
                    self.fail(f"{q}: {type(e).__name__}: {e}"[:300])
                self.ops.append(Op(i, q, start, time.time(), ok))
                wall += self.ops[-1].latency
                t = time.perf_counter()
                self.spark.catalog.clearCache()
                t_end += time.perf_counter() - t
            self.pass_walls.append(wall)

    def _phases(self, df) -> None:
        """Catalyst phase times of the query's DataFrame (traced runs only).
        Analysis ran eagerly while the query built the DataFrame, so its
        time comes from the plan's phase tracker; the other two phases are
        forced and timed here."""
        qe = df._jdf.queryExecution()  # noqa: SLF001
        tracked = qe.tracker().phases()
        if tracked.contains("analysis"):
            self.phases["analyze"].append(tracked.apply("analysis").durationMs() / 1000.0)
        for phase, call in (("optimize", qe.optimizedPlan), ("physical", qe.executedPlan)):
            t = time.perf_counter()
            call()
            self.phases[phase].append(time.perf_counter() - t)

    def check(self) -> None:
        pass  # results were checked against the oracles on the warm-up pass

    def layers(self, groups: dict[str, list]) -> None:
        self.layer["operators.build_s"] = self.tracer.total("operators.build")
        for phase, vals in self.phases.items():
            self.layer[f"spark.{phase}_s"] = sum(vals)
        for q in MIX:
            lat = [o.latency for o in self.ops if o.label == q and o.ok]
            self.layer[f"operators.{q}_s"] = statistics.median(lat) if lat else 0.0


# --- ingest ---------------------------------------------------------------


class Ingest(Workload):
    """Streaming near-duplicate ingest: a cycle copies the next crawl files
    into the stream's source directory, drains them (one file per trigger)
    and runs the ``maintain --full`` body. Ops are triggers (latency
    ``triggerExecution``) and maintain passes (wall clock)."""

    table = "perfbench_ingest_idx"

    def setup(self) -> None:
        from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import ensure_index

        import numpy as np

        self.stage = os.path.join(self.tmp, "stage")
        self.src = os.path.join(self.tmp, "src")
        self.out = os.path.join(self.tmp, "corpus")
        self.ckpt = os.path.join(self.tmp, "ckpt")
        self.idx = os.path.join(self.tmp, "idx")
        schema_dir = os.path.join(self.tmp, "schema")
        with self.own():
            for d in (self.stage, self.src, schema_dir):
                os.makedirs(d)
            rng = np.random.default_rng(self.seed)
            docs = inputs.documents(rng, INGEST_FILES * INGEST_DOCS_PER_FILE, dup_share=0.25)
            # crawl files interleave the corpus, so near copies land both in
            # the same file and in later files
            order = rng.permutation(docs.num_rows)
            for i in range(INGEST_FILES):
                part = docs.take(pa.array(np.sort(order[i::INGEST_FILES])))
                pq.write_table(part, os.path.join(self.stage, f"crawl{i:04d}.parquet"))
            pq.write_table(docs.slice(0, 0), os.path.join(schema_dir, "empty.parquet"))
            self.next_file = 0
        self.group("setup")
        with self.tracer.span("streaming.ensure_index"):
            ensure_index(self.spark, self.table, self.idx, docs_src=schema_dir)
        # warm-up: one trigger
        self.group("warmup")
        self._drain(1, timed=False)
        with self.own():
            self.accepted_warm = self._accepted()
            self.stored_warm = self._stored_bytes()
        self.maintain_reports: list[dict] = []
        self.progress: list[dict] = []

    def _accepted(self) -> list:
        data = os.path.join(self.out, "data")
        return pq.ParquetDataset(data).read(["doc_id"]).column("doc_id").to_pylist()

    def _stored_bytes(self) -> tuple[int, int]:
        a, b = _dir_bytes(os.path.join(self.out, "data")), _dir_bytes(self.idx)
        return a[0] + b[0], a[1] + b[1]

    def _drain(self, n_files: int, timed: bool) -> None:
        from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
            stream_documents,
            write_stream_dedup_ingest,
        )

        with self.own():
            for _ in range(n_files):
                name = f"crawl{self.next_file:04d}.parquet"
                shutil.copy(os.path.join(self.stage, name), os.path.join(self.src, name))
                self.next_file += 1
        with self.tracer.span("streaming.drain"):
            q = write_stream_dedup_ingest(stream_documents(self.spark, self.src), self.table, self.out, self.ckpt)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if timed:
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                    dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
                    self.ops.append(Op(next(self.op_ids), "trigger", start, start + dur))
                    self.progress.append(p)

    def _maintain(self) -> None:
        from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
            compact_corpus,
            compact_index,
            verify_index,
        )

        i = next(self.op_ids)
        self.group(f"op{i}")
        start = time.time()
        with self.tracer.span("streaming.compact_corpus", op=i):
            cc = compact_corpus(self.spark, self.out)
        with self.tracer.span("streaming.compact_index", op=i):
            dropped = compact_index(self.spark, self.table)
        with self.tracer.span("streaming.verify_index", op=i):
            report = verify_index(self.spark, self.table, self.out)
        op = Op(i, "maintain", start, time.time(), bool(report["ok"]))
        if not op.ok:
            self.fail(f"verify_index after maintain: {report}")
        self.ops.append(op)
        self.maintain_reports.append({**cc, "index_rows_dropped": dropped})

    def run(self, seconds: float) -> None:
        """``MIN_PASSES`` cycles (a cycle is one pass), then more until
        ``seconds`` have passed; the cycle running then completes. A cycle
        holds three ops and takes 14-22 s: a run of one cycle would take
        its p50 from a maintain pass instead of a trigger."""
        t_end = time.perf_counter() + seconds
        while ((len(self.pass_walls) < MIN_PASSES or time.perf_counter() < t_end)
               and self.next_file + INGEST_FILES_PER_CYCLE <= INGEST_FILES):
            t0 = time.perf_counter()
            try:
                self._drain(INGEST_FILES_PER_CYCLE, timed=True)
                self._maintain()
            except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                self.ops.append(Op(next(self.op_ids), "cycle", time.time(), time.time(), ok=False))
                self.fail(f"ingest cycle: {type(e).__name__}: {e}"[:300])
            self.pass_walls.append(time.perf_counter() - t0)
            if self.errors:
                break
        if time.perf_counter() < t_end and not self.errors:
            self.fail(f"all {INGEST_FILES} crawl files ingested before the deadline")

    def check(self) -> None:
        with self.own():
            ids = self._accepted()
            if len(ids) != len(set(ids)):
                self.fail(f"corpus holds {len(ids) - len(set(ids))} duplicate doc_ids")
                for o in self.ops:
                    o.ok = False
            self.info["accepted"] = len(ids)
            self.info["files_ingested"] = self.next_file

    def layers(self, groups: dict[str, list]) -> None:
        trig = [o.latency for o in self.ops if o.label == "trigger" and o.ok]
        self.layer["streaming.trigger_s"] = statistics.median(trig) if trig else 0.0
        for ph in STREAM_PHASES:
            vals = [p["durationMs"].get(ph, 0) / 1000.0 for p in self.progress]
            self.layer[f"streaming.{ph}_s"] = statistics.median(vals) if vals else 0.0
        docs_in = sum(p["numInputRows"] for p in self.progress)
        self.layer["streaming.docs_in"] = docs_in
        accepted_timed = self.info["accepted"] - len(self.accepted_warm)
        self.layer["streaming.docs_accepted"] = accepted_timed
        self.layer["streaming.accept_ratio"] = accepted_timed / docs_in if docs_in else 0.0
        for name in ("compact_corpus", "compact_index", "verify_index"):
            self.layer[f"streaming.{name}_s"] = self.tracer.total(f"streaming.{name}")
        last = self.maintain_reports[-1] if self.maintain_reports else {}
        self.layer["streaming.files_before"] = last.get("files_before", 0)
        self.layer["streaming.files_after"] = last.get("files_after", 0)
        self.layer["streaming.index_rows_dropped"] = sum(r["index_rows_dropped"] for r in self.maintain_reports)

    def written(self) -> tuple[int, int]:
        size, files = self._stored_bytes()
        return max(0, size - self.stored_warm[0]), max(0, files - self.stored_warm[1])

    def stored(self):
        return self._stored_bytes()[0], self.info["accepted"]


WORKLOADS = {"erp_gen": ErpGen, "analytics": Analytics, "ingest": Ingest}
