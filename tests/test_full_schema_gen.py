"""End-to-end: generate the FULL 85-table schema (the reference's
script.sql when present, else the in-repo census stand-in — see
tests/full_schema.py) at small row counts and validate global FK closure
— the complete capability of the reference's run_engine.py in one run."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

from .full_schema import REFERENCE_SCRIPT, census_script, full_schema_kind, full_schema_script

DIGEST_GOLDEN = os.path.join(os.path.dirname(__file__), "census_build_digest.json")


def _build(spark, script, **plan_kw):
    tables = parse_schema_script(script)
    plan = GenerationPlan(spark, tables, seed=11, default_rows=15, **plan_kw)  # ROW_COUNT=15, run_engine.py:18
    return tables, plan.run(materialize=True)


@pytest.fixture(scope="module")
def full_build(spark):
    return _build(spark, full_schema_script())


@pytest.fixture(scope="module")
def census_build(spark, full_build):
    return full_build if full_schema_kind() == "census" else _build(spark, census_script())


def test_all_tables_built(full_build):
    tables, built = full_build
    assert len(built) == 85
    for name, df in built.items():
        assert df.count() == 15, name


def test_global_fk_closure(full_build):
    """Every non-null FK value in every generated table points at an
    existing parent key (including natural-key and self references)."""
    tables, built = full_build
    checked = 0
    for name, spec in tables.items():
        for fk in spec.fks:
            if len(fk.columns) != 1:
                continue
            col, pcol = fk.columns[0], fk.parent_columns[0]
            gen_cols = {c.name for c in spec.generated_columns}
            if col not in gen_cols:
                continue
            parent_df = built.get(fk.parent_table)
            if parent_df is None or pcol not in parent_df.columns:
                continue
            parents = {r[0] for r in parent_df.select(pcol).collect()}
            vals = [r[0] for r in built[name].select(col).collect() if r[0] is not None]
            dangling = [v for v in vals if v not in parents]
            assert not dangling, f"{name}.{col} -> {fk.parent_table}.{pcol}: {dangling[:3]}"
            checked += 1
    assert checked > 80  # most of the 131 FKs are single-column and generated


def test_subtype_chains_consistent(full_build):
    """Shared-PK inheritance chains: child PK sets ⊆ parent PK sets
    through the BelgeBaslik ← SatisBelge ← FaturaBelge chain."""
    _, built = full_build
    bb = {r[0] for r in built["BelgeBaslik"].select("Id").collect()}
    sb = {r[0] for r in built["SatisBelge"].select("Id").collect()}
    fb = {r[0] for r in built["FaturaBelge"].select("Id").collect()}
    assert sb <= bb
    assert fb <= sb


def test_unique_indexes_hold_on_real_schema(full_build):
    """Every parsed CREATE UNIQUE INDEX whose columns are all generated
    must hold on the generated data — the constraint class the reference
    knowingly violates (SURVEY.md §1.3)."""
    tables, built = full_build
    checked = 0
    for name, spec in tables.items():
        if name not in built:
            continue
        gen_cols = {c.name for c in spec.generated_columns}
        for idx_cols in spec.unique_indexes:
            if not set(idx_cols) <= gen_cols:
                continue  # identity/computed members live DB-side
            dupes = (
                built[name]
                .groupBy(*idx_cols)
                .count()
                .filter("count > 1")
                .count()
            )
            assert dupes == 0, f"{name} unique index {idx_cols} violated"
            checked += 1
    assert checked >= 15, f"only {checked} unique indexes were checkable"


def test_erasure_plan_covers_full_reference_schema():
    """The GDPR DELETE planner handles the real 85-table FK graph: a
    CariHesap-rooted purge plans without error, severs that table's two
    nullable self-FKs before its DELETE, and orders every DELETE
    child-first (a table's DELETE precedes all its purged parents')."""
    from synthetic_data_transfer_to_relational_database_spark.plans.erasure import (
        erasure_delete_statements,
    )

    tables = parse_schema_script(full_schema_script())
    stmts = erasure_delete_statements(tables, "CariHesap", "Id IN ('probe')")
    deletes = [s.split()[2] for s in stmts if s.startswith("DELETE")]
    assert "CariHesap" in deletes and len(deletes) > 10
    # severing UPDATEs come immediately before the table's own DELETE
    i = stmts.index(next(s for s in stmts if s.startswith("DELETE FROM CariHesap ")))
    severed = {s.split()[1] for s in stmts[:i] if s.startswith("UPDATE")}
    assert severed == {"CariHesap"}
    # child-first: every purged table's DELETE precedes its purged parents'
    pos = {t: k for k, t in enumerate(deletes)}
    for name in deletes:
        for fk in tables[name].fks:
            p = fk.parent_table
            if p != name and p in pos:
                assert pos[name] < pos[p], (name, p)


@pytest.mark.skipif(
    full_schema_kind() != "reference",
    reason="reference checkout not present: the 560 KB budget is measured on "
    "the reference schema; on the census stand-in StokHareket (854 KB) and "
    "CariHareket (781 KB) already fail whole-stage codegen",
)
def test_generated_code_stays_under_janino_budget(spark):
    """Whole-stage codegen cannot split a projection's doConsume method
    when it is fed by a fused Range scan (the row id arrives as a long
    parameter, not an InternalRow), so a wide generated table whose
    expressions emit too much Java silently loses whole-stage codegen:
    janino rejects the >64 KB method, Spark pays the failed compile on
    EVERY action, and the table runs on the unfused row-level path.

    Measured on this schema (Spark 4.1 codegen, total generated source
    per plan): tables at >=650 KB failed to compile, 584 KB compiled.
    The generators keep per-column code near-constant by minimizing hash
    REFERENCES (functions/generators._packed and the bank-based
    composites), which put the fattest table at ~533 KB. This probes
    every table's pre-materialization plan and pins the headroom: a new
    rule that regresses past 560 KB fails here before it silently
    degrades the build."""
    # the module's full_build fixture caches the same seed-11, 15-row
    # tables: without this, CacheManager swaps every probed plan for an
    # InMemoryTableScan and the sizes measured are the cache reads'
    spark.catalog.clearCache()
    tables = parse_schema_script(REFERENCE_SCRIPT)
    plan = GenerationPlan(spark, tables, seed=11, default_rows=15)
    built = plan.run(materialize=False)

    def code_len(df):
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        return sum(len(seq.apply(i)._2()) for i in range(seq.size()))

    sizes = {name: code_len(df) for name, df in built.items()}
    worst = max(sizes, key=sizes.get)
    assert sizes[worst] <= 560 * 1024, (
        f"{worst} generates {sizes[worst] // 1024} KB of Java — within "
        "~15% of the measured janino whole-stage-codegen failure cliff "
        "(>=650 KB on this schema). Pack more draws per hash reference "
        "(generators._packed) or precompose a lexicon bank."
    )


def _table_digest(df) -> str:
    """sha256 over the schema and the sorted rows, each row rendered
    JVM-side as JSON (session time zone, exact Spark value text) so the
    digest does not depend on the Python process's locale or time zone."""
    rows = sorted(r[0] for r in df.selectExpr("to_json(struct(*))").collect())
    h = hashlib.sha256(df.schema.simpleString().encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def _changed_vs_golden(built) -> list[str]:
    got = {name: _table_digest(df) for name, df in sorted(built.items())}
    with open(DIGEST_GOLDEN) as f:
        want = json.load(f)
    return sorted(n for n in set(want) | set(got) if want.get(n) != got.get(n))


def test_census_build_digest(census_build):
    """Cross-commit byte identity of the generator: per-table digests of
    the census stand-in built at seed 11, 15 rows/table, materialize=True.
    Every value is a hash of (row id, seed, salt), so the digests move
    only when generated output changes; a refactor of the executor or
    the generators must leave tests/census_build_digest.json untouched.
    Regenerate it (and say why in CHANGES.md) only for an intended
    output change."""
    _, built = census_build
    changed = _changed_vs_golden(built)
    assert not changed, f"{len(changed)} census tables changed output: {changed[:10]}"
