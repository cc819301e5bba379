"""Unique-index enforcement: generated data carries zero duplicates on
declared unique business keys — the constraint class the reference's
generator knowingly violates (SURVEY.md §1.3; script.sql declares 31
unique + 7 filtered indexes, e.g. uBankaUlkeKod script.sql:2621)."""

from __future__ import annotations

import pytest

from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
from synthetic_data_transfer_to_relational_database_spark.plans.model import (
    ColumnSpec,
    FKSpec,
    TableSpec,
    wire_fk_rules,
)
from synthetic_data_transfer_to_relational_database_spark.plans.rules import infer_table_rules
from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
    parse_unique_indexes,
    split_go_batches,
)


def _uniq_schema() -> dict[str, TableSpec]:
    tables = {
        "Ulke": TableSpec(
            name="Ulke",
            columns=[
                ColumnSpec("NumKod", "string", nullable=False, length=3),
                ColumnSpec("Kod", "string", nullable=True, length=3),
                ColumnSpec("Ad", "string", nullable=False, length=100),
            ],
            pk=["NumKod"],
            unique_indexes=[["Kod"]],
        ),
        "Banka": TableSpec(
            name="Banka",
            columns=[
                ColumnSpec("Id", "int", nullable=False, identity=True),
                ColumnSpec("Kod", "string", nullable=False, length=8),
                ColumnSpec("Ad", "string", nullable=False, length=100),
                ColumnSpec("SwiftNo", "string", nullable=True, length=11),
                ColumnSpec("KurulusTarih", "date", nullable=False),
                ColumnSpec("UlkeNumKod", "string", nullable=False, length=3),
            ],
            pk=["Id"],
            fks=[FKSpec(["UlkeNumKod"], "Ulke", ["NumKod"])],
            # composite (mirrors uBankaUlkeKod), single string, single date
            unique_indexes=[["Kod", "UlkeNumKod"], ["SwiftNo"], ["KurulusTarih"]],
        ),
        # 1:1 relation — unique index ON the FK column itself: parent keys
        # must be sampled WITHOUT replacement.
        "BankaDetay": TableSpec(
            name="BankaDetay",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("BankaId", "int", nullable=True),
                ColumnSpec("Notlar", "string", nullable=True, length=100),
            ],
            pk=["Id"],
            fks=[FKSpec(["BankaId"], "Banka", ["Id"])],
            unique_indexes=[["BankaId"]],
        ),
    }
    wire_fk_rules(tables)
    return tables


@pytest.fixture(scope="module")
def built(spark):
    plan = GenerationPlan(
        spark, _uniq_schema(), seed=11, row_counts={"Ulke": 40, "Banka": 60, "BankaDetay": 60}
    )
    return plan.run()


def _dupes(df, cols):
    return df.groupBy(*cols).count().filter("count > 1").count()


def test_single_column_unique_index(built):
    assert _dupes(built["Ulke"], ["Kod"]) == 0
    assert _dupes(built["Banka"], ["SwiftNo"]) == 0


def test_date_column_unique_index(built):
    assert _dupes(built["Banka"], ["KurulusTarih"]) == 0


def test_composite_unique_index(built):
    assert _dupes(built["Banka"], ["Kod", "UlkeNumKod"]) == 0


def test_unique_fk_sampled_without_replacement(built):
    """BankaDetay.BankaId: 60 children over 60 parents with a unique
    index — every parent key used exactly once, all FK-valid."""
    assert _dupes(built["BankaDetay"], ["BankaId"]) == 0
    # Banka.Id is IDENTITY(1,1): not materialized (the DB fills it);
    # values are 1..n by construction and children sample idx+1.
    parent = set(range(1, 61))
    child = [r[0] for r in built["BankaDetay"].select("BankaId").collect()]
    assert all(v in parent for v in child)
    # unique + nullable: null injection is suppressed to keep the index valid
    assert all(v is not None for v in child)


def test_rules_marked_injective():
    tables = _uniq_schema()
    infer_table_rules(tables["Banka"])
    banka = tables["Banka"]
    assert banka.column("SwiftNo").rule.startswith(("seq_code", "uuid4"))
    assert banka.column("KurulusTarih").rule == "seq_date"
    # composite index satisfied via ONE injective member (first non-FK)
    assert banka.column("Kod").rule.startswith(("seq_code", "uuid4"))
    infer_table_rules(tables["BankaDetay"])
    fk_col = tables["BankaDetay"].column("BankaId")
    assert fk_col.unique and fk_col.rule.startswith("foreign_key:")


def test_parse_unique_index_ddl():
    script = """
CREATE TABLE [dbo].[Banka](
	[Id] [int] IDENTITY(1,1) NOT NULL,
	[Kod] [nvarchar](8) NOT NULL
) ON [PRIMARY]
GO
CREATE UNIQUE NONCLUSTERED INDEX [uBankaUlkeKod] ON [dbo].[Banka]
(
	[TenantId] ASC,
	[Kod] ASC,
	[UlkeNumKod] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
GO
CREATE NONCLUSTERED INDEX [IX_NotUnique] ON [dbo].[Banka]
(
	[Kod] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
GO
CREATE UNIQUE NONCLUSTERED INDEX [uFiltered] ON [dbo].[Banka]
(
	[SwiftNo] ASC
)
WHERE ([SwiftNo] IS NOT NULL)
WITH (PAD_INDEX = OFF) ON [PRIMARY]
GO
"""
    found = parse_unique_indexes(split_go_batches(script))
    assert ("Banka", ["TenantId", "Kod", "UlkeNumKod"]) in found
    assert ("Banka", ["SwiftNo"]) in found
    assert all(cols != ["Kod"] for _, cols in found)  # non-unique ignored


def test_reference_script_unique_indexes_enforced(spark):
    """End-to-end against the 85-table DDL (the reference script, or the
    census stand-in — tests/full_schema.py): the parsed schema carries
    unique indexes and a generated sample table honors one."""
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

    from .full_schema import full_schema_script

    tables = parse_schema_script(full_schema_script())
    with_uniq = [t for t in tables.values() if t.unique_indexes]
    assert len(with_uniq) >= 20, "expected the script's unique indexes to parse"
    # Banka carries uBankaUlkeKod (script.sql:2621)
    assert any(t.name == "Banka" for t in with_uniq)


def test_unique_fk_without_replacement_on_join_path(spark):
    """The without-replacement guarantee must survive the index JOIN
    path too (a parent without a PK expression):
    the pick index is the affine permutation, so each child samples a
    distinct parent row."""
    tables = {
        "Baslik": TableSpec(
            name="Baslik",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Ad", "string", nullable=False, length=10),
            ],
            pk=["Id"],
        ),
        # subtype PK (FK) => parent PK not expression-computable downstream
        "Belge": TableSpec(
            name="Belge",
            columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
            pk=["Id"],
            fks=[FKSpec(["Id"], "Baslik", ["Id"])],
        ),
        "BelgeEk": TableSpec(
            name="BelgeEk",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("BelgeId", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["BelgeId"], "Belge", ["Id"])],
            unique_indexes=[["BelgeId"]],  # 1:1 — sample without replacement
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(
        spark,
        tables,
        seed=13,
        row_counts={"Baslik": 70, "Belge": 50, "BelgeEk": 50},
    )
    built = plan.run()
    assert _dupes(built["BelgeEk"], ["BelgeId"]) == 0
    belge_ids = {r[0] for r in built["Belge"].select("Id").collect()}
    sampled = [r[0] for r in built["BelgeEk"].select("BelgeId").collect()]
    assert all(v in belge_ids for v in sampled)
    assert len(set(sampled)) == 50  # every child a distinct parent


def test_unique_fk_warns_when_children_exceed_parents(spark):
    """More children than parent keys under a unique-indexed FK cannot
    hold (pigeonhole): the planner must SAY so — a live-DB load would be
    rejected by the constraint — instead of wrapping silently. The wrapped
    values must still be FK-valid (the reference's own behavior is to
    violate constraints knowingly, SURVEY.md §1.3; we violate loudly)."""
    plan = GenerationPlan(
        spark,
        _uniq_schema(),
        seed=11,
        row_counts={"Ulke": 40, "Banka": 20, "BankaDetay": 45},
    )
    with pytest.warns(UserWarning, match="unique-indexed FK"):
        built = plan.run()
    child = [r[0] for r in built["BankaDetay"].select("BankaId").collect()]
    # the permutation wraps (reduced mod 20 BEFORE the multiply, so the
    # arithmetic also never overflows int64 however large the child is)
    assert len(child) == 45
    assert all(v in set(range(1, 21)) for v in child)


def test_indexed_parent_pins_one_partitioning(spark):
    """The large-parent index join must reuse the SAME materialized range
    partitioning that the offsets job observed (RangePartitioner samples
    with an RDD-derived seed -- re-executing the plan at join time can
    draw different boundaries once parents outgrow the sampling
    reservoir). The child plan therefore reads the scratch cache; the
    cache is released as soon as the child itself is materialized."""

    def join_path_tables():
        tables = {
            "Baslik": TableSpec(
                name="Baslik",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Ad", "string", nullable=False, length=10),
                ],
                pk=["Id"],
            ),
            # subtype PK (FK) => parent PK not expression-computable
            "Belge": TableSpec(
                name="Belge",
                columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
                pk=["Id"],
                fks=[FKSpec(["Id"], "Baslik", ["Id"])],
            ),
            "BelgeEk": TableSpec(
                name="BelgeEk",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("BelgeId", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["BelgeId"], "Belge", ["Id"])],
            ),
        }
        wire_fk_rules(tables)
        return tables

    counts = {"Baslik": 70, "Belge": 50, "BelgeEk": 50}
    plan = GenerationPlan(spark, join_path_tables(), seed=13, row_counts=counts)
    plan.build_one("Baslik")
    plan.build_one("Belge")
    child = plan.build_one("BelgeEk", materialize=False)
    assert plan._scratch, "index-join build should leave a scratch cache pinned"
    assert "InMemoryTableScan" in child._jdf.queryExecution().executedPlan().toString(), (
        "child join must read the cached parent index, not re-execute the "
        "range repartition"
    )
    # a materialized build releases the scratch cache afterwards
    plan2 = GenerationPlan(spark, join_path_tables(), seed=13, row_counts=counts)
    plan2.run()
    assert plan2._scratch == []

    # interleaved builds: a later materialized build must release ONLY
    # its own scratch — the lazy child's caches stay pinned (its plan
    # still reads them; releasing would re-draw range boundaries)
    tables3 = join_path_tables()
    tables3["BelgeNot"] = TableSpec(
        name="BelgeNot",
        columns=[
            ColumnSpec("Id", "uuid", nullable=False, length=36),
            ColumnSpec("BelgeId", "uuid", nullable=False, length=36),
        ],
        pk=["Id"],
        fks=[FKSpec(["BelgeId"], "Belge", ["Id"])],
    )
    wire_fk_rules(tables3)
    plan3 = GenerationPlan(
        spark, tables3, seed=13, row_counts={**counts, "BelgeNot": 40}
    )
    plan3.build_one("Baslik")
    plan3.build_one("Belge")
    lazy_child = plan3.build_one("BelgeEk", materialize=False)
    pinned = list(plan3._scratch)
    assert pinned
    plan3.build_one("BelgeNot")  # materialized: releases only its own
    assert plan3._scratch == pinned
    assert all(s.is_cached for s in pinned)
    assert lazy_child.count() == 50  # lazy plan still resolves correctly


def test_unenforceable_unique_index_not_falsely_claimed():
    """A unique index whose only member dtype has no injective rule
    (float) must NOT be marked enforced — silently claiming coverage
    would also short-circuit later indexes sharing the column."""
    t = TableSpec(
        name="Olcum",
        columns=[
            ColumnSpec("Id", "uuid", nullable=False, length=36),
            ColumnSpec("Oran", "float", nullable=False),
        ],
        pk=["Id"],
        unique_indexes=[["Oran"]],
    )
    infer_table_rules(t)
    assert not t.column("Oran").unique


def _all_fk_pk_schema(pk: list[str]) -> dict[str, TableSpec]:
    """The AspNetUserRoles shape: a composite PK whose every member is
    an FK (to AspNetUsers.Id and AspNetRoles.Id)."""
    tables = {
        "U": TableSpec("U", [ColumnSpec("Id", "uuid", nullable=False, length=36)], pk=["Id"]),
        "R": TableSpec("R", [ColumnSpec("Id", "uuid", nullable=False, length=36)], pk=["Id"]),
        "UR": TableSpec(
            "UR",
            [
                ColumnSpec("UserId", "uuid", nullable=False, length=36),
                ColumnSpec("RoleId", "uuid", nullable=False, length=36),
            ],
            pk=pk,
            fks=[FKSpec(["UserId"], "U", ["Id"]), FKSpec(["RoleId"], "R", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    return tables


@pytest.mark.parametrize(
    "seed,pk",
    [(0, ["UserId", "RoleId"]), (1, ["UserId", "RoleId"]), (2, ["UserId", "RoleId"]),
     (0, ["RoleId", "UserId"])],
)
def test_all_fk_composite_pk_never_repeats(spark, seed, pk):
    """A PK made only of FK columns gets no injective rule from
    _pk_safe_rule; sampled with replacement, 2,000 (user, role) pairs
    over 2,000 × 20 parents repeat ~50 tuples. The PK tuple runs through
    the unique-index rule, so one member samples without replacement —
    the one over the larger parent, whatever the PK's column order (the
    20-row parent would wrap and repeat)."""
    built = GenerationPlan(
        spark,
        _all_fk_pk_schema(pk),
        seed=seed,
        row_counts={"U": 2_000, "R": 20, "UR": 2_000},
    ).run()
    ur = built["UR"]
    assert ur.count() == 2_000
    assert _dupes(ur, ["UserId", "RoleId"]) == 0
    # FK closure: every member value is a parent key
    for col, parent in (("UserId", "U"), ("RoleId", "R")):
        orphans = ur.join(
            built[parent], ur[col] == built[parent]["Id"], "left_anti"
        ).count()
        assert orphans == 0, f"{col} has {orphans} orphan values"


def test_unique_index_over_a_composite_pk_member(spark):
    """A member of a composite PK is not unique on its own: a unique
    index (RoleId, Kod) beside PK (UserId, RoleId) must still get an
    injective member, or 2,000 rows over 20 roles repeat (RoleId, Kod)."""
    tables = _all_fk_pk_schema(["UserId", "RoleId"])
    ur = tables["UR"]
    ur.columns.append(ColumnSpec("Kod", "short", nullable=False))
    ur.unique_indexes = [["RoleId", "Kod"]]
    built = GenerationPlan(
        spark, tables, seed=0, row_counts={"U": 2_000, "R": 20, "UR": 2_000}
    ).run()
    assert _dupes(built["UR"], ["RoleId", "Kod"]) == 0
    assert _dupes(built["UR"], ["UserId", "RoleId"]) == 0
