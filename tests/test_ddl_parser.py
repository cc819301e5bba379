"""DDL-dump parser tests: an inline SSMS-style fixture plus the 85-table
script (the reference's when its checkout is present, else the census
stand-in — tests/full_schema.py), asserting the facts established in
SURVEY.md §1.3."""

from __future__ import annotations

import pytest

from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
    filter_batches,
    parse_create_table,
    parse_foreign_keys,
    parse_schema_script,
    split_go_batches,
)

from .full_schema import full_schema_kind, full_schema_script

INLINE_DDL = """
CREATE DATABASE [SomeDb]
GO
USE [SomeDb]
GO
CREATE TABLE [dbo].[Parent](
\t[Id] [uniqueidentifier] NOT NULL,
\t[Kod] [nvarchar](3) NOT NULL,
\t[Ad] [nvarchar](max) NULL,
\t[Seq] [int] IDENTITY(1,1) NOT NULL,
\t[Tutar] [numeric](25, 6) NULL,
\t[Ver] [timestamp] NOT NULL,
 CONSTRAINT [PK_Parent] PRIMARY KEY CLUSTERED
(
\t[Id] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
) ON [PRIMARY]
GO
CREATE TABLE [dbo].[Child](
\t[A] [nvarchar](20) NOT NULL,
\t[B] [int] NOT NULL,
\t[ParentId] [uniqueidentifier] NOT NULL,
 CONSTRAINT [PK_Child] PRIMARY KEY CLUSTERED
(
\t[A] ASC,
\t[B] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
) ON [PRIMARY]
GO
ALTER TABLE [dbo].[Child]  WITH CHECK ADD  CONSTRAINT [FK_Child_Parent] FOREIGN KEY([ParentId])
REFERENCES [dbo].[Parent] ([Id])
ON DELETE CASCADE
GO
"""


def test_go_split_and_filters():
    batches = split_go_batches(INLINE_DDL)
    assert len(batches) == 5
    kept = filter_batches(batches)
    assert all("CREATE DATABASE" not in b for b in kept)
    assert all(not b.upper().startswith("USE ") for b in kept)
    assert len(kept) == 3


def test_parse_create_table_inline():
    batches = split_go_batches(INLINE_DDL)
    parent = parse_create_table(batches[2])
    assert parent.name == "Parent"
    assert parent.pk == ["Id"]
    cols = {c.name: c for c in parent.columns}
    assert cols["Id"].dtype == "uuid" and not cols["Id"].nullable
    assert cols["Kod"].dtype == "string" and cols["Kod"].length == 3
    assert cols["Ad"].length == -1 and cols["Ad"].nullable  # nvarchar(max)
    assert cols["Seq"].identity
    assert cols["Tutar"].dtype == "decimal(25,6)"
    assert cols["Ver"].unsafe  # rowversion outside SAFE_TYPES
    # generated view drops identity + unsafe
    gen = {c.name for c in parent.generated_columns}
    assert gen == {"Id", "Kod", "Ad", "Tutar"}

    child = parse_create_table(batches[3])
    assert child.pk == ["A", "B"]  # composite PK

    fks = parse_foreign_keys(batches)
    assert len(fks) == 1
    tbl, fk = fks[0]
    assert tbl == "Child" and fk.parent_table == "Parent"
    assert fk.columns == ["ParentId"] and fk.parent_columns == ["Id"]
    assert fk.on_delete_cascade


def test_parse_reference_script():
    """Structural parity with the reference schema (facts from SURVEY.md
    §1.3: 85 tables, 131 FKs, self-refs on CariHesap, shared-PK subtype
    SatisBelge→BelgeBaslik, composite PK Referans, identity PK Banka)."""
    tables = parse_schema_script(full_schema_script())
    assert len(tables) == 85
    n_fks = sum(len(t.fks) for t in tables.values())
    assert n_fks == 131
    assert {f.parent_table for f in tables["CariHesap"].fks} >= {"CariHesap"}
    self_cols = {f.columns[0] for f in tables["CariHesap"].self_fks()}
    assert self_cols == {"FaturaHesapId", "MusterekHesapId"}
    sb = tables["SatisBelge"]
    assert sb.shared_pk_fk() is not None
    assert sb.shared_pk_fk().parent_table == "BelgeBaslik"
    assert tables["Referans"].pk == ["TenantId", "Kod", "TipId"]
    assert tables["Banka"].column("Id").identity
    assert tables["Ulke"].pk == ["NumKod"]
    # FK rules wired with precedence over provider rules
    assert tables["Il"].column("UlkeNumKod").rule == "foreign_key:Ulke.NumKod"
    # total column census: 1,431 — matches the reference's own
    # data_rules.json rule count (85 tables / 1,431 column rules,
    # SURVEY.md §0; the §1.3 figure of 1,366 used a narrower count).
    assert sum(len(t.columns) for t in tables.values()) == 1431
    # widest tables — counts verified against the reference's own
    # data_rules.json per-table rule counts; the census stand-in keeps
    # the same three widest tables at its own declared widths.
    if full_schema_kind() == "reference":
        widest = {"StokHareket": 97, "CariHesap": 88, "CariHareket": 76}
    else:
        from perfbench.census import WIDEST as widest
    for name, width in widest.items():
        assert len(tables[name].columns) == width, name


def test_go_repeat_count_form():
    """T-SQL `GO n` executes the preceding batch n times."""
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
        split_go_batches,
    )

    batches = split_go_batches("INSERT INTO t DEFAULT VALUES\nGO 3\nSELECT 1\nGO\n")
    assert batches == ["INSERT INTO t DEFAULT VALUES"] * 3 + ["SELECT 1"]


def test_ddl_emitter_round_trips_reference_schema():
    """to_ddl is the exact inverse of the parser: for every one of the
    85 reference tables, parse -> emit -> re-parse is a fixpoint on all
    semantic fields, and every FK re-parses equal. This is the emitter
    the reference lacks (it can only replay an existing dump): specs
    reflected from a live catalog or JSONL become deployable DDL."""
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
        fk_to_ddl,
        parse_create_table,
        parse_foreign_keys,
        parse_schema_script,
        schema_to_ddl,
        table_to_ddl,
    )

    tables = parse_schema_script(full_schema_script())
    assert len(tables) == 85
    for name, spec in tables.items():
        back = parse_create_table(table_to_ddl(spec))
        assert back is not None and back.name == name
        assert back.pk == spec.pk, name
        assert [c.name for c in back.columns] == [c.name for c in spec.columns]
        for a, b in zip(spec.columns, back.columns):
            for f in ("dtype", "nullable", "identity", "computed", "unsafe",
                      "precision", "scale"):
                assert getattr(a, f) == getattr(b, f), (name, a.name, f)
            if a.length is not None:
                assert b.length == a.length, (name, a.name)
        for fk in spec.fks:
            (child, back_fk), = parse_foreign_keys([fk_to_ddl(name, fk)])
            assert child == name
            assert back_fk.columns == fk.columns
            assert back_fk.parent_table == fk.parent_table
            assert back_fk.parent_columns == fk.parent_columns
            assert back_fk.on_delete_cascade == fk.on_delete_cascade
    batches = schema_to_ddl(tables)
    assert len(batches) == 85 + sum(len(t.fks) for t in tables.values())


def test_ddl_emitter_deployability_corrections():
    """Deployability guards: nullable PK members emit NOT NULL (SQL
    Server error 8111 otherwise), catalog-sized/invalid string lengths
    clamp to nvarchar(max), and FKs pointing outside the schema are not
    emitted (a guaranteed-failing ALTER)."""
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
    )
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
        parse_create_table,
        schema_to_ddl,
        table_to_ddl,
    )

    spec = TableSpec(
        name="T",
        columns=[
            ColumnSpec("Id", "uuid", nullable=True, length=36),  # JSONL default
            ColumnSpec("Body", "string", nullable=True, length=2147483647),
            ColumnSpec("Tag", "string", nullable=True, length=0),
        ],
        pk=["Id"],
        fks=[FKSpec(["Id"], "NotInSchema", ["Id"])],
    )
    ddl = table_to_ddl(spec)
    back = parse_create_table(ddl)
    assert back.column("Id").nullable is False  # PK forced NOT NULL
    assert back.column("Body").length == -1  # > 4000 -> max
    assert back.column("Tag").length == -1  # <= 0 -> max
    batches = schema_to_ddl({"T": spec})
    assert len(batches) == 1  # external-parent FK skipped
    assert "NotInSchema" not in batches[0]


def test_ddl_emitter_escapes_bracket_identifiers():
    """ADVICE r6: identifiers containing ']' must emit with the ']]'
    doubling (same rule as ensure_database_statements) so a hostile spec
    name cannot terminate the bracket quote early and inject DDL."""
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
    )
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import (
        fk_to_ddl,
        table_to_ddl,
    )

    spec = TableSpec(
        name="T]; DROP TABLE x; --",
        columns=[
            ColumnSpec("Id", "int", nullable=False),
            ColumnSpec("Evil]Col", "string", nullable=True, length=10),
        ],
        pk=["Id"],
        fks=[],
    )
    ddl = table_to_ddl(spec)
    assert "[T]]; DROP TABLE x; --]" in ddl
    assert "[Evil]]Col]" in ddl
    # no identifier's bracket quote closes early: every lone ']' in the
    # emitted text belongs to a doubled pair or a type/keyword bracket
    assert "[T];" not in ddl

    fk = FKSpec(["Evil]Col"], "Par]ent", ["P]k"], name="FK]x")
    alter = fk_to_ddl("Chi]ld", fk)
    for quoted in ("[Chi]]ld]", "[FK]]x]", "[Evil]]Col]", "[Par]]ent]", "[P]]k]"):
        assert quoted in alter, alter
