"""Generation executor: TableSpecs → referentially-consistent DataFrames.

The Spark-native re-expression of the reference's engines
(run_engine.py main loop :205-270, fill_db.py fill_tables :122-176):

- table build order = Kahn toposort of the FK graph (O1, fill_db.py:39-61)
  with the v2 incremental sequencing (O2, run_engine.py:265-266): each
  table is materialized before dependents sample its keys.
- row generation = ONE projection: every value is SQL text (compile_rule,
  the PK functions, the FK samplers below) and the table is one
  ``spark.range(n).selectExpr(*items)`` call — whole-stage codegen, no
  Python row loop (SURVEY.md §4).
- **FK sampling (J1, run_engine.py:156-162)**: each child row gets a
  uniformly-random EXISTING parent key, by one of two means:
    * composition: a parent whose PK is an expression of its row index
      (uuid/int/identity rules) is sampled by recomputing that expression
      at a sampled index — no join, no collect;
    * every other parent (shared-PK subtypes, live-DB identity read-back
      in ``parent_keys_override``): a deterministic random index on the
      child equi-joined against the parent's keys numbered by their
      global rank (``_indexed_parent``: range-partitioned,
      partition-local sorts) — one strategy at every parent cardinality.
- **FK fallback (J2, run_engine.py:160-162)**: empty parent ⇒ fabricated
  key by type (the reference tolerates the violation because constraints
  are disabled; we reproduce the semantics and flag it).
- **self-referencing FKs** (CariHesap, script.sql:4043-4049): sampled
  within the same generated batch by the same composition — no second
  pass.
- **shared-PK subtypes** (FK_SatisBelge_BelgeBaslik_Id,
  script.sql:4256-4257): child PK sampled from parent PKs WITHOUT
  replacement via an affine permutation of the parent index space —
  collision-free and deterministic (the reference gets this wrong-ish;
  SURVEY.md §7 hard-part 2).

Determinism: same (specs, row_counts, seed) ⇒ byte-identical output,
independent of partitioning — all randomness is xxhash64(id, seed, salt).
"""

from __future__ import annotations

import math
import os
import threading
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import generators as G
from ..functions.generators import _qd, _qi, _qs
from .compiler import compile_rule
from .model import ColumnSpec, TableSpec
from .rules import infer_table_rules
from .toposort import toposort_tables

DEFAULT_ROW_COUNT = 1000


def _sql_name(name: str) -> str:
    """Backquoted identifier for selectExpr items."""
    return "`" + name.replace("`", "``") + "`"


def _int_array(values: list[int]) -> str:
    """``array(...)`` SQL literal of Python ints, as BIGINTs."""
    return "array(" + ",".join(f"{int(v)}L" for v in values) + ")"


def _fk_sql(col: ColumnSpec, value_sql: str, table_seed: int) -> str:
    """An FK column's value cast to its declared type. Nullable FK
    columns get a deterministic null fraction (one row in ten, by a hash
    of row id, table seed and column), exercising the null-extension
    path like the reference's nullable handling (fill_db.py:162-163).
    Unique-indexed columns stay non-null: repeated NULLs would violate
    the index under ANSI-92 semantics (MSSQL treats NULLs equal)."""
    if col.nullable and not col.unique:
        value_sql = (
            f"CASE WHEN pmod(xxhash64(__id, {_qi(table_seed)}, {_qs(col.name + '.null')}), 10) = 0"
            f" THEN NULL ELSE {value_sql} END"
        )
    return f"CAST({value_sql} AS {col.spark_type().simpleString()})"


def _coprime_step(n: int, seed: int) -> int:
    """Smallest step ≥ some seed-derived start that is coprime with n —
    defines the affine permutation i -> (a*i + b) mod n."""
    if n <= 1:
        return 1
    a = (seed % (n - 1)) + 1
    while math.gcd(a, n) != 1:
        a = a % (n - 1) + 1
    return a


@dataclass
class GenerationPlan:
    spark: SparkSession
    tables: dict[str, TableSpec]
    seed: int = 42
    row_counts: dict[str, int] = field(default_factory=dict)
    default_rows: int = DEFAULT_ROW_COUNT
    num_partitions: int | None = None
    # opt-in heavy-tailed FK sampling (see _sample_idx): 0.0 = uniform
    # (the reference's semantics and every oracle-checked default);
    # e.g. 2.0 makes low parent ids hot keys so the generated data
    # exercises AQE skew-join / salting downstream.
    fk_skew: float = 0.0
    # F4/F5/F6 skip filters (run_engine.py:23,25,221; fill_db.py:147) —
    # opt-in: pass rules.DEFAULT_SKIP_TABLES / DEFAULT_SKIP_COLUMNS for
    # the reference's behavior; default generates everything.
    skip_tables: tuple[str, ...] = ()
    skip_table_substrings: tuple[str, ...] = ()
    skip_columns: tuple[str, ...] = ()
    # Identity read-back (run_engine.py:265-266 fetch_ids): when loading
    # into a LIVE database, IDENTITY values are NOT 1..n — the sink fetches
    # the real keys after insert and stores them here ({table: {pk_col:
    # [keys]}}); children then sample these instead of the assumed range.
    # Contract: to change a column's keys, REPLACE the list (assign a new
    # one) — never mutate it in place; the join frame is rebuilt on a
    # change of list identity.
    parent_keys_override: dict[str, dict[str, list]] = field(default_factory=dict)
    # storage root for materialize="write" (defaults to spark-warehouse)
    materialize_dir: str = "spark-warehouse/_generated"

    # populated during run()
    _built: dict[str, DataFrame] = field(default_factory=dict)
    _pk_expr_fns: dict[str, object] = field(default_factory=dict)
    _row_count_of: dict[str, int] = field(default_factory=dict)
    # synthetic __override__ join frame -> the override list it was built
    # from: the identity check that rebuilds the frame when a caller
    # replaces the list between builds (concurrent same-key writes are
    # GIL-atomic and value-identical — same-level builds may race benignly)
    _override_syn_src: dict[str, list] = field(default_factory=dict)
    # per-table scratch caches (indexed-parent frames) released once the
    # child that referenced them is materialized. THREAD-LOCAL because
    # run(parallelism=N) builds same-level tables on concurrent threads
    # (Spark's scheduler is thread-safe; same-level tables share no FK
    # edge) — a shared list would let one thread unpersist a sibling's
    # still-referenced indexed-parent frame mid-build.
    _scratch_tl: threading.local = field(default_factory=threading.local)

    # ------------------------------------------------------------------
    @property
    def _scratch(self) -> list[DataFrame]:
        """The CURRENT THREAD's scratch-cache list (see _scratch_tl)."""
        if not hasattr(self._scratch_tl, "items"):
            self._scratch_tl.items = []
        return self._scratch_tl.items

    def rows_for(self, name: str) -> int:
        return self.row_counts.get(name, self.default_rows)

    def _id_frame(self, n: int) -> DataFrame:
        parts = self.num_partitions or self.spark.sparkContext.defaultParallelism
        return self.spark.range(0, n, 1, min(parts, max(1, n))).withColumnRenamed("id", "__id")

    # ------------------------------------------------------------------
    # PK expressions as pure functions of the row index, so self-refs and
    # subtype FKs can be computed by composition. Index in, value out as
    # SQL TEXT (compile_rule's contract): composition is string
    # interpolation, and the whole composed column parses JVM-side once.
    def _pk_expr_fn(self, table: TableSpec):
        fns = {}
        for pk_col in table.pk:
            try:
                spec = table.column(pk_col)
            except KeyError:
                continue
            if spec.identity:
                # IDENTITY(1,1): values are 1..n by construction. The
                # reference reads them back after insert
                # (run_engine.py:265-266 fetch_ids); generating into files
                # we know them up front — children sample idx+1 directly.
                def make_ident(spec=spec):
                    return lambda idx: (
                        f"CAST((({idx}) + 1)"
                        f" AS {spec.spark_type().simpleString()})"
                    )

                fns[pk_col] = make_ident()
                continue
            if spec.computed:
                continue
            rule = spec.rule or "uuid4"
            if rule.startswith("foreign_key:"):
                continue  # subtype PK — resolved via parent sampling

            def make(spec=spec, rule=rule):
                return lambda idx: compile_rule(rule, spec, idx, self.seed + _stable_hash(table.name))

            fns[pk_col] = make()
        return fns

    # ------------------------------------------------------------------
    # a*(i mod n) must stay inside int64 for the permutation to be exact:
    # both factors are < n after the inner pmod, so the guarantee holds up
    # to n = floor(sqrt(2^63)) regardless of the CHILD row count. Beyond
    # that (3e9+ parents in a 1:1 relation) we fall back to hash sampling
    # rather than overflow (an ANSI-mode error) or silently wrap (which
    # would break injectivity anyway).
    _MAX_PERMUTATION_N = 3_037_000_499

    def _sample_idx(
        self, id_sql: str, salt: str, n: int, unique: bool, child_rows: int | None = None
    ) -> str:
        """Deterministic parent-row index in [0, n). Default: uniform with
        replacement (hash). ``unique`` (a unique index covers the FK
        column): WITHOUT replacement via an affine permutation — injective
        while the child row count ≤ n ≤ ``_MAX_PERMUTATION_N``, so sampled
        keys never repeat. When more children than parent keys exist the
        guarantee CANNOT hold (pigeonhole): we warn at plan time — a
        live-DB load would hit the unique constraint — and the permutation
        wraps (FK validity is preserved, uniqueness is not).

        ``fk_skew`` > 0 (plan-level, opt-in) warps the with-replacement
        draw to idx = floor(n·u^(1+skew)): low parent indices become
        hot keys with a heavy-tailed frequency profile — the Zipf-ish
        shape real FK data has (a few customers own most orders) and
        uniform sampling never produces. Generated children then
        actually EXERCISE the skew machinery downstream (AQE skew-join,
        skew.salted_join, skew_profile). Still a pure deterministic
        expression of (id, seed, salt); unique/without-replacement
        sampling stays uniform (a permutation cannot be skewed)."""
        if unique and n <= self._MAX_PERMUTATION_N:
            if child_rows is not None and child_rows > n:
                warnings.warn(
                    f"unique-indexed FK '{salt}': {child_rows} child rows > "
                    f"{n} parent keys — without-replacement sampling wraps; "
                    "the unique index WILL be violated (a live DB would "
                    "reject the load). Reduce the child row count or drop "
                    "the index.",
                    stacklevel=2,
                )
            s = self.seed + _stable_hash(salt)
            a = _coprime_step(n, s)
            # reduce i into [0, n) BEFORE the multiply: (a*i) mod n ==
            # (a*(i mod n)) mod n, and the reduced product stays < n^2 <=
            # 2^63 no matter how many child rows there are.
            return (
                f"pmod(((pmod({id_sql}, {_qi(n)}) * {_qi(a)})"
                f" + {_qi(s % max(n, 1))}), {_qi(n)})"
            )
        # `not unique`: a unique-indexed FK that overflows the permutation
        # cap falls through to the hash fallback — skewing THAT draw would
        # concentrate duplicates on hot parents and guarantee index
        # violations, the opposite of the uniform fallback's best effort
        if self.fk_skew > 0 and not unique:
            u = (
                f"(pmod(xxhash64({id_sql}, {_qi(self.seed)}, {_qs(salt)}),"
                f" {_qi(1 << 30)}) / {_qd(float(1 << 30))})"
            )
            return (
                f"CAST(floor(({_qd(float(n))} * power({u},"
                f" {_qd(1.0 + self.fk_skew)}))) AS BIGINT)"
            )
        return (
            f"pmod(xxhash64({id_sql}, {_qi(self.seed)}, {_qs(salt)}), {_qi(n)})"
        )

    def _fk_value(self, table: TableSpec, col: ColumnSpec, id_sql: str) -> str:
        """J1/J2: deterministic sample of an existing parent key, as SQL
        text over ``id_sql`` — the parent's PK expression composed at a
        sampled index, or the J2 fallback — else raises ``_NeedsJoin`` so
        _build_table samples the parent through the index equi-join. The
        salt is per-FK-constraint (not per-column) so composite-FK
        columns sample the same parent row — tuple-consistent
        references."""
        parent_name, _, parent_col = col.fk_parent.partition(".")
        salt = col.fk_salt or f"{table.name}.{col.name}"
        child_rows = self._row_count_of.get(table.name, self.rows_for(table.name))

        # self-reference: recompute this table's own PK expression at a
        # sampled index in [0, n) — same batch, always valid.
        if parent_name == table.name:
            n = child_rows
            pk_fns = self._pk_expr_fns.get(table.name, {})
            fn = pk_fns.get(parent_col)
            if fn is not None:
                return fn(self._sample_idx(id_sql, salt, n, col.unique, child_rows))
            return "NULL"

        # live-DB identity read-back wins over every assumed-key path
        override = self.parent_keys_override.get(parent_name, {}).get(parent_col)
        if override is not None:
            if not override:
                return self._fk_fallback(col, id_sql, salt)
            # sampled through the same equi-join as generated parents,
            # against a frame built from the readback keys. Registered
            # under a synthetic name because the real parent_name may
            # still hold the generated parent whose assumed keys this
            # override supersedes. build_one is public to allow
            # interleaved build/load/fetch, so a re-fetch may REPLACE the
            # list: rebuild the frame then, never serve first-fetch keys.
            syn = f"__override__{parent_name}.{parent_col}"
            if self._override_syn_src.get(syn) is not override:
                self._built[syn] = self.spark.createDataFrame(
                    [(v,) for v in override], [parent_col]
                )
                self._row_count_of[syn] = len(override)
                self._override_syn_src[syn] = override
            raise _NeedsJoin(syn, parent_col)

        parent_df = self._built.get(parent_name)
        if parent_df is None:
            return self._fk_fallback(col, id_sql, salt)
        n_parent = self._row_count_of.get(parent_name)
        if n_parent is None:
            n_parent = parent_df.count()
        if n_parent == 0:
            return self._fk_fallback(col, id_sql, salt)

        # expression-computable parent PK ⇒ function composition, no join
        fn = self._pk_expr_fns.get(parent_name, {}).get(parent_col)
        if fn is not None:
            return fn(self._sample_idx(id_sql, salt, n_parent, col.unique, child_rows))

        # every other parent is sampled in _build_table via the equi-join
        raise _NeedsJoin(parent_name, parent_col)

    def _fk_fallback(self, col: ColumnSpec, id_sql: str, salt: str) -> str:
        """J2 semantics (run_engine.py:160-162): fabricate by type."""
        if col.dtype == "uuid":
            return G.gen_uuid(id_sql, self.seed, salt + ".fallback")
        if col.dtype in ("int", "short", "long"):
            return f"CAST({G.gen_int(id_sql, self.seed, salt + '.fallback', 1, 10)} AS {col.dtype})"
        return G.gen_lexify(id_sql, self.seed, salt + ".fallback", min(col.length or 3, 4))

    # ------------------------------------------------------------------
    def _build_table(self, table: TableSpec) -> DataFrame:
        n = self.rows_for(table.name)
        self._row_count_of[table.name] = n
        infer_table_rules(table, self._row_count_of)
        self._pk_expr_fns[table.name] = self._pk_expr_fn(table)

        id_sql = "__id"
        table_seed = self.seed + _stable_hash(table.name)

        # shared-PK subtype: PK sampled from parent WITHOUT replacement
        subtype_fk = table.shared_pk_fk()
        subtype_pk_exprs: dict[str, str] = {}
        if subtype_fk is not None:
            parent = self.tables.get(subtype_fk.parent_table)
            n_parent = self._row_count_of.get(subtype_fk.parent_table, 0)
            if parent is not None and n_parent >= n:
                a = _coprime_step(n_parent, table_seed)
                b = table_seed % max(n_parent, 1)
                # inner pmod is a no-op here (id < n ≤ n_parent) but keeps
                # the product provably < n_parent² — same shape as
                # _sample_idx's overflow guard.
                perm_idx = (
                    f"pmod(((pmod({id_sql}, {_qi(n_parent)}) * {_qi(a)})"
                    f" + {_qi(b)}), {_qi(n_parent)})"
                )
                for pk_col, ppk_col in zip(subtype_fk.columns, subtype_fk.parent_columns):
                    fn = self._pk_expr_fns.get(subtype_fk.parent_table, {}).get(ppk_col)
                    if fn is not None:
                        subtype_pk_exprs[pk_col] = fn(perm_idx)

        items: list[str] = []
        names: list[str] = []
        join_requests: list[tuple[ColumnSpec, str, str]] = []
        for col in table.generated_columns:
            if col.name in self.skip_columns:
                continue
            if col.name in subtype_pk_exprs:
                sql = f"CAST({subtype_pk_exprs[col.name]} AS {col.spark_type().simpleString()})"
            elif col.fk_parent:
                try:
                    sql = _fk_sql(col, self._fk_value(table, col, id_sql), table_seed)
                except _NeedsJoin as nj:
                    join_requests.append((col, nj.parent, nj.parent_col))
                    continue
            else:
                sql = compile_rule(col.rule or "word", col, id_sql, table_seed)
            items.append(f"{sql} AS {_sql_name(col.name)}")
            names.append(col.name)

        if not join_requests:
            return self._id_frame(n).selectExpr(*items)
        out = self._id_frame(n).selectExpr(id_sql, *items)

        # FK values of parents without a PK expression, via the index
        # equi-join. Requests are grouped per (parent, fk constraint salt): composite-FK
        # columns that share a constraint join against ONE sampled parent
        # row, keeping tuple consistency on this path too. The final
        # projection keeps the table's column order, so the output schema
        # does not depend on which FKs took the join.
        grouped: dict[tuple[str, str], list[tuple[ColumnSpec, str]]] = {}
        for col, parent_name, parent_col in join_requests:
            salt = col.fk_salt or f"{table.name}.{col.name}"
            grouped.setdefault((parent_name, salt), []).append((col, parent_col))

        final = {name: _sql_name(name) for name in names}
        for (parent_name, salt), pairs in grouped.items():
            parent_idx, n_parent = self._indexed_parent(parent_name, pairs)
            uniq = any(col.unique for col, _ in pairs)
            pick = self._sample_idx(id_sql, salt, n_parent, uniq, n)
            out = (
                out.selectExpr("*", f"{pick} AS __pick")
                .join(parent_idx, F.col("__pick") == F.col("__pidx"), "left")
                .drop("__pick", "__pidx")
            )
            for col, _ in pairs:
                final[col.name] = (
                    f"{_fk_sql(col, _sql_name(f'__pk_{col.name}'), table_seed)}"
                    f" AS {_sql_name(col.name)}"
                )
        return out.selectExpr(
            *[final[c.name] for c in table.generated_columns if c.name in final]
        )

    # ------------------------------------------------------------------
    def _indexed_parent(
        self, parent_name: str, pairs: list[tuple[ColumnSpec, str]]
    ) -> tuple[DataFrame, int]:
        """Parent keys with a dense 0..n-1 index, WITHOUT a global
        single-partition sort: range-repartition by the key tuple (ordered
        partitions), sort within partitions, then add each partition's row
        number to its global offset (a num_partitions-sized collect). The
        index equals the global rank of the key tuple — deterministic and
        layout-independent — but every sort is partition-local, so the path
        scales to arbitrarily large parents.
        """
        parent_df = self._built[parent_name]
        n_parent = self._row_count_of.get(parent_name) or parent_df.count()
        key_cols = [f"__pk_{col.name}" for col, _ in pairs]
        nparts = max(
            1,
            min(
                self.num_partitions or self.spark.sparkContext.defaultParallelism,
                n_parent,
            ),
        )
        p = (
            parent_df.select(
                *[F.col(pc).alias(f"__pk_{col.name}") for col, pc in pairs]
            )
            .repartitionByRange(nparts, *key_cols)
            .sortWithinPartitions(*key_cols)
            .withColumn("__part", F.spark_partition_id())
        )
        # CACHE before the counts action: RangePartitioner samples with an
        # RDD-derived seed, so re-executing this plan (once for the counts
        # collect, once at child-join time) can draw DIFFERENT range
        # boundaries when the parent outgrows the sampling reservoir — the
        # collected offsets would then describe partitions the join never
        # sees (duplicate/missing __pidx). Materializing the partitioning
        # here pins ONE set of boundaries for both uses; the cache is
        # released by build_one once the child is materialized.
        p = p.cache()
        self._scratch.append(p)
        counts = {r["__part"]: r["count"] for r in p.groupBy("__part").count().collect()}
        parts = sorted(counts)
        offsets, acc = [], 0
        for part in parts:
            offsets.append(acc)
            acc += counts[part]
        off_sql = (
            f"element_at(map_from_arrays({_int_array(parts)},"
            f" {_int_array(offsets)}), __part)"
        )
        order = ", ".join(_sql_name(c) for c in key_cols)
        parent_idx = p.selectExpr(
            *[_sql_name(c) for c in key_cols],
            f"CAST(row_number() OVER (PARTITION BY __part ORDER BY {order}) - 1"
            f" + {off_sql} AS BIGINT) AS __pidx",
        )
        return parent_idx, n_parent

    # ------------------------------------------------------------------
    def build_order(self) -> list[str]:
        """Dependency-ordered table names (parents before children) —
        also the correct JDBC load order when FK constraints are live."""
        return toposort_tables(self.tables)

    def build_levels(self) -> list[list[str]]:
        """The toposort grouped into dependency LEVELS: level i contains
        tables whose every FK parent sits in a level < i, so tables
        WITHIN a level share no FK edge and can build concurrently.
        Level index = longest FK path from a root (self-loops and
        external parents excluded, matching toposort_tables).

        Residual-CYCLE members (tables with an FK "back edge" — a parent
        LATER in the fallback order — or targeted by one) are pinned
        STRICTLY SERIAL: each gets a level above everything before it in
        the order, so the parallel build observes exactly the serial
        build's _built state at their turn (which parents exist decides
        sample-vs-fallback for cycle edges; letting level-mates race
        there would make output depend on thread timing).
        Concatenating the levels yields a valid build order."""
        order = toposort_tables(self.tables)
        pos = {n: i for i, n in enumerate(order)}
        back_edge_nodes: set[str] = set()
        for name in order:
            for fk in self.tables[name].fks:
                p = fk.parent_table
                if p == name or p not in self.tables:
                    continue
                if pos[p] > pos[name]:
                    back_edge_nodes.add(name)
                    back_edge_nodes.add(p)
        depth: dict[str, int] = {}
        running_max = -1
        for name in order:
            d = 0
            for fk in self.tables[name].fks:
                p = fk.parent_table
                if p == name or p not in self.tables or pos[p] > pos[name]:
                    continue
                d = max(d, depth[p] + 1)
            if name in back_edge_nodes:
                d = max(d, running_max + 1)
            depth[name] = d
            running_max = max(running_max, d)
        levels: list[list[str]] = [[] for _ in range(max(depth.values(), default=0) + 1)]
        for name in order:
            levels[depth[name]].append(name)
        return levels

    def skips(self, name: str) -> bool:
        """True when the F4/F5 skip filters exclude ``name``."""
        return name in self.skip_tables or any(
            s in name for s in self.skip_table_substrings
        )

    def for_each_level(self, fn, parallelism: int | None = None) -> None:
        """Apply ``fn(table_name)`` over every non-skipped table — serial
        in toposort order, or (parallelism > 1) fanned out per dependency
        level with a barrier between levels. THE one implementation of
        the level-concurrency contract (residual-cycle serialization,
        identity-read-back-before-children); run() and the live-DB
        loader both drive through it so they cannot drift."""
        if not parallelism or parallelism <= 1:
            for name in toposort_tables(self.tables):
                if not self.skips(name):
                    fn(name)
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            for level in self.build_levels():
                todo = [n for n in level if not self.skips(n)]
                # drain so worker exceptions surface at the barrier
                list(ex.map(fn, todo))

    def build_one(self, name: str, materialize: bool | str = True) -> DataFrame:
        """Build (and register) a single table — parents must already be
        built. Public so sinks can interleave build → load → key-fetch."""
        scratch = self._scratch
        n_before = len(scratch)
        df = self._materialize_df(self._build_table(self.tables[name]), name, materialize)
        self._built[name] = df
        if materialize is not False:
            # THIS child no longer re-reads the indexed-parent scratch
            # caches once it is itself cached/written — release the ones
            # its build created, and ONLY those: scratch pinned by an
            # earlier materialize=False build is still referenced by that
            # table's lazy plan, and unpersisting it would reintroduce
            # the range-boundary recompute hazard the cache pins against.
            for s in scratch[n_before:]:
                s.unpersist()
            del scratch[n_before:]
        return df

    def _materialize_df(self, df: DataFrame, name: str, mode: bool | str) -> DataFrame:
        if mode is True or mode == "cache":
            # fine locally / for dimension tables; pins executor memory
            df = df.cache()
            df.count()
            return df
        if mode == "write":
            # the at-scale materialization: each table becomes a parquet
            # dataset; dependents re-read from storage, nothing is pinned
            # in cluster memory (85 tables × 10⁹ rows would not fit).
            path = os.path.join(self.materialize_dir, name)
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)
        return df

    def run(
        self, materialize: bool | str = True, parallelism: int | None = None
    ) -> dict[str, DataFrame]:
        """Build every table in dependency order, each materialized before
        dependents sample its keys (the O2 sequencing). ``materialize``:
        True/"cache" (local/dim-sized), "write" (parquet-backed, the 100 TB
        path), or False (lazy — only valid when no FK sampling needs
        deterministic parent scans).

        ``parallelism`` > 1 builds the tables of each dependency LEVEL
        (build_levels) on that many concurrent threads: per-table cost
        here is mostly driver-side plan construction + per-plan
        analysis/codegen, and the Spark scheduler happily runs the
        resulting jobs concurrently (on a cluster this is ordinary
        multi-job scheduling; use the FAIR scheduler to stop a huge
        table from starving its level-mates). Output is byte-identical
        to the serial build — every value is hash-of-(id, seed, salt),
        and a level's tables share no FK edge, so build order within a
        level cannot influence any sampled key (locked by
        tests/test_generator.py)."""
        self.for_each_level(lambda n: self.build_one(n, materialize), parallelism)
        # synthetic __override__ key frames (the readback join path) are
        # join scaffolding, not schema tables — callers enumerating
        # the result (table writers, CLI counts) must not see them
        return {k: v for k, v in self._built.items() if not k.startswith("__override__")}


class _NeedsJoin(Exception):
    def __init__(self, parent: str, parent_col: str):
        self.parent = parent
        self.parent_col = parent_col


def _stable_hash(s: str) -> int:
    """Deterministic small int from a name (Python hash() is salted)."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 1_000_003
    return h
