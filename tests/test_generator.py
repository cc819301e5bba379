"""Generator-engine property tests (SURVEY.md §5.2 invariants, FIXTURES.md
§B): FK closure, subtype sampling without replacement, skip-columns,
length/precision bounds, nullability, build order, determinism."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import functions as F

from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
from synthetic_data_transfer_to_relational_database_spark.plans.toposort import toposort_tables

from .fixtures_mini_erp import mini_erp

ROWS = {"Ulke": 30, "Il": 40, "Banka": 25, "CariHesap": 60, "BelgeBaslik": 50,
        "SatisBelge": 40, "CariHareket": 120, "Referans": 30}


@pytest.fixture(scope="module")
def generated(spark):
    plan = GenerationPlan(spark, mini_erp(), seed=7, row_counts=ROWS)
    return plan.run()


def test_row_counts(generated):
    for name, n in ROWS.items():
        assert generated[name].count() == n, name


def test_build_order_respects_fk_edges():
    order = toposort_tables(mini_erp())
    pos = {n: i for i, n in enumerate(order)}
    assert pos["Ulke"] < pos["Il"]
    assert pos["Ulke"] < pos["Banka"]
    assert pos["Ulke"] < pos["CariHesap"]
    assert pos["BelgeBaslik"] < pos["SatisBelge"]
    assert pos["CariHesap"] < pos["CariHareket"]


def test_fk_closure_natural_key(generated):
    """Invariant 1: every generated FK value exists in the parent key set,
    incl. natural-key references (Il.UlkeNumKod → Ulke.NumKod)."""
    parents = {r[0] for r in generated["Ulke"].select("NumKod").collect()}
    for child, col in [("Il", "UlkeNumKod"), ("Banka", "UlkeNumKod")]:
        vals = [r[0] for r in generated[child].select(col).collect()]
        for v in vals:
            assert v in parents, f"{child}.{col}={v!r} not in Ulke.NumKod"


def test_fk_closure_uuid_and_self_reference(generated):
    cari_ids = {r[0] for r in generated["CariHesap"].select("Id").collect()}
    # foreign FK
    for (v,) in generated["CariHareket"].select("CariHesapId").collect():
        assert v in cari_ids
    # self-referencing FKs: non-null values must be existing Ids
    for col in ["MusterekHesapId", "FaturaHesapId"]:
        rows = generated["CariHesap"].select(col).collect()
        non_null = [r[0] for r in rows if r[0] is not None]
        assert non_null, f"no non-null {col} values generated"
        for v in non_null:
            assert v in cari_ids, f"self-FK {col}={v} dangling"


def test_shared_pk_subtype_sampled_without_replacement(generated):
    """Invariant 2: SatisBelge.Id ⊆ BelgeBaslik.Id, no duplicates."""
    parent_ids = {r[0] for r in generated["BelgeBaslik"].select("Id").collect()}
    child_ids = [r[0] for r in generated["SatisBelge"].select("Id").collect()]
    assert len(child_ids) == len(set(child_ids)), "subtype PKs not unique"
    for v in child_ids:
        assert v in parent_ids


def test_skip_columns_absent(generated):
    """Invariant 3: identity / unsafe (rowversion) / computed columns are
    never generated."""
    assert "Id" not in generated["Banka"].columns  # IDENTITY
    assert "RowVersion" not in generated["CariHareket"].columns  # unsafe type
    assert "CreateDate" not in generated["CariHareket"].columns  # computed


def test_length_and_precision_bounds(generated):
    """Invariant 4: string lengths ≤ declared; decimals within (25,6) and
    the 10^(p-s)-1 bound; non-nullable columns have no nulls."""
    for (ad,) in generated["Ulke"].select("Ad").collect():
        assert ad is not None and len(ad) <= 100
    for (kod,) in generated["Il"].select("Kod").collect():
        assert kod is not None and len(kod) <= 3
    for (tutar,) in generated["CariHareket"].select("Tutar").collect():
        if tutar is not None:
            assert isinstance(tutar, decimal.Decimal)
            assert decimal.Decimal(0) <= tutar <= decimal.Decimal(10) ** 19
            assert -tutar.as_tuple().exponent <= 6
    n_null = generated["CariHareket"].filter(F.col("BelgeNo").isNull()).count()
    assert n_null == 0


def test_uuid_shape(generated):
    for (tid,) in generated["Referans"].select("TenantId").collect():
        parts = tid.split("-")
        assert [len(p) for p in parts] == [8, 4, 4, 4, 12], tid


def test_composite_pk_mostly_unique(generated):
    n = generated["Referans"].select("TenantId", "Kod", "TipId").distinct().count()
    assert n == ROWS["Referans"]


def test_same_seed_identical_output(spark, generated):
    """Invariant 6: same seed ⇒ identical output (and a different seed
    diverges) — the deliberate improvement over the seedless reference."""
    again = GenerationPlan(spark, mini_erp(), seed=7, row_counts=ROWS).run(materialize=False)
    a = sorted(map(tuple, generated["CariHareket"].collect()))
    b = sorted(map(tuple, again["CariHareket"].collect()))
    assert a == b
    other = GenerationPlan(spark, mini_erp(), seed=8, row_counts=ROWS).run(materialize=False)
    c = sorted(map(tuple, other["CariHareket"].collect()))
    assert a != c


def test_keyword_rules_applied(generated):
    """IBAN column gets IBAN-shaped values; Unvan gets company names."""
    for (iban,) in generated["CariHareket"].select("IBAN").collect():
        if iban is not None:
            assert iban.startswith("TR") and len(iban) == 26, iban
    for (unvan,) in generated["CariHesap"].select("Unvan").collect():
        assert unvan and len(unvan) <= 100


def test_iban_mod97_valid(spark):
    from pyspark.sql import functions as F
    from synthetic_data_transfer_to_relational_database_spark.functions import generators as G

    df = spark.range(0, 200).select(F.expr(G.gen_iban("id", 42, "iban")).alias("iban"))
    for (iban,) in df.collect():
        assert len(iban) == 26 and iban.startswith("TR")
        # ISO 7064: move first 4 chars to the end, letters -> numbers, mod 97 == 1
        rearranged = iban[4:] + "2927" + iban[2:4]
        assert int(rearranged) % 97 == 1, iban


def test_sentence_cardinality_grows_with_rows(spark):
    """The r9 advisor note: bank-only sentence composition capped
    distinct sentences per column at 65,536 (256x256 fragment pairs),
    making multi-million-row description columns duplicate-heavy. The
    per-row lexified mid word lifts the ceiling to ~7.8e11 — at 200k
    rows the distinct count must clear the old cap, and the shape
    contract (n words, capitalized head, '.' terminator) must hold."""
    from pyspark.sql import functions as F
    from synthetic_data_transfer_to_relational_database_spark.functions import generators as G

    df = spark.range(0, 200_000).select(
        F.expr(G.gen_sentence("id", 42, "aciklama", 10)).alias("s")
    )
    distinct = df.select("s").distinct().count()
    assert distinct > 65_536, f"cardinality still bank-capped: {distinct}"
    sample = [r[0] for r in df.limit(50).collect()]
    for s in sample:
        words = s.split(" ")
        assert len(words) == 10, s
        assert s[0].isupper() and s.endswith(".") and not s.endswith(" ."), s


def test_code_prefix_with_percent_is_literal(spark):
    # gen_code interpolates the prefix into a format_string template;
    # '%' must be escaped to '%%' or a '%s' prefix consumes the numeric
    # arg (or errors). The fix doubles it before template assembly.
    from pyspark.sql import functions as F
    from synthetic_data_transfer_to_relational_database_spark.functions import generators as G

    df = spark.range(0, 50).select(
        F.expr(G.gen_code("id", 42, "kod", prefix="A%sB%")).alias("code")
    )
    for (code,) in df.collect():
        head, _, num = code.rpartition("-")
        assert head == "A%sB%" and len(num) == 4 and num.isdigit(), code


def test_ean13_check_digit_valid(spark):
    from pyspark.sql import functions as F
    from synthetic_data_transfer_to_relational_database_spark.functions import generators as G

    df = spark.range(0, 200).select(F.expr(G.gen_ean13("id", 42, "barkod")).alias("ean"))
    for (ean,) in df.collect():
        assert len(ean) == 13
        digits = [int(c) for c in ean]
        wsum = sum(d * (1 if i % 2 == 0 else 3) for i, d in enumerate(digits[:12]))
        assert digits[12] == (10 - wsum % 10) % 10, ean


def test_rules_json_roundtrip_and_skip_filters(spark):
    import json

    from synthetic_data_transfer_to_relational_database_spark.plans import rules as R
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "Cari": TableSpec(
            name="Cari",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Unvan", "string", length=100),
                ColumnSpec("CreateDate", "timestamp"),  # F6 skip column
            ],
            pk=["Id"],
        ),
        "sysdiagrams": TableSpec(  # F4 skip table
            name="sysdiagrams",
            columns=[ColumnSpec("Id", "int", nullable=False)],
            pk=["Id"],
        ),
    }
    wire_fk_rules(tables)

    # K5 round trip: dump -> JSON text -> load -> same rules applied
    config = R.dump_rules(tables)
    config2 = json.loads(json.dumps(config, ensure_ascii=False))
    assert config2 == config
    R.load_rules(tables, config2)
    assert tables["Cari"].column("Unvan").rule == config["Cari"]["Unvan"]

    plan = GenerationPlan(
        spark,
        tables,
        seed=5,
        row_counts={"Cari": 10},
        skip_tables=("sysdiagrams",),
        skip_table_substrings=("AspNet",),
        skip_columns=R.DEFAULT_SKIP_COLUMNS,
    )
    built = plan.run(materialize=True)
    assert "sysdiagrams" not in built
    assert "CreateDate" not in built["Cari"].columns
    assert built["Cari"].count() == 10


def test_composite_fk_tuple_consistency(spark):
    """Both columns of a composite FK must land on the SAME parent row —
    independently sampled components would fabricate key pairs that don't
    exist in the parent."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "Referans": TableSpec(
            name="Referans",
            columns=[
                ColumnSpec("TenantId", "uuid", nullable=False, length=36),
                ColumnSpec("Kod", "string", nullable=False, length=8),
                ColumnSpec("Aciklama", "string", length=100),
            ],
            pk=["TenantId", "Kod"],
        ),
        "Kayit": TableSpec(
            name="Kayit",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("RefTenantId", "uuid", nullable=False, length=36),
                ColumnSpec("RefKod", "string", nullable=False, length=8),
            ],
            pk=["Id"],
            fks=[FKSpec(["RefTenantId", "RefKod"], "Referans", ["TenantId", "Kod"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(spark, tables, seed=9, row_counts={"Referans": 30, "Kayit": 300})
    built = plan.run(materialize=True)

    parent_pairs = {
        (r["TenantId"], r["Kod"]) for r in built["Referans"].collect()
    }
    child_pairs = [
        (r["RefTenantId"], r["RefKod"]) for r in built["Kayit"].collect()
    ]
    assert len(parent_pairs) == 30
    bad = [p for p in child_pairs if p not in parent_pairs]
    assert not bad, bad[:5]


def test_write_materialization_path(spark, tmp_path):
    """materialize="write": every table becomes a parquet dataset and
    dependents re-read from storage — the 100 TB materialization (nothing
    pinned in cluster memory). Same invariants as the cached path."""
    plan = GenerationPlan(
        spark,
        mini_erp(),
        seed=7,
        row_counts=ROWS,
        materialize_dir=str(tmp_path / "gen"),
    )
    built = plan.run(materialize="write")
    for name, n in ROWS.items():
        assert built[name].count() == n, name
        assert (tmp_path / "gen" / name).exists()
    # FK closure still holds when parents are storage-backed
    parents = {r[0] for r in built["Ulke"].select("NumKod").collect()}
    for (v,) in built["Il"].select("UlkeNumKod").collect():
        assert v in parents
    cari_ids = {r[0] for r in built["CariHesap"].select("Id").collect()}
    for (v,) in built["CariHareket"].select("CariHesapId").collect():
        assert v in cari_ids


def test_parallel_build_identical_to_serial(spark):
    """run(parallelism=N) must produce byte-identical tables to the
    serial build: every value is hash-of-(id, seed, salt) and same-level
    tables share no FK edge, so build order cannot leak into data. Also
    pins build_levels' contract: every FK parent sits in a strictly
    earlier level."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import (
        GenerationPlan,
    )
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    def mk():
        tables = {
            "A": TableSpec(
                name="A",
                columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
                pk=["Id"],
                fks=[],
            ),
            "B": TableSpec(
                name="B",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Aid", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Aid"], "A", ["Id"])],
            ),
            "C": TableSpec(
                name="C",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Aid", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Aid"], "A", ["Id"])],
            ),
            "D": TableSpec(
                name="D",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Bid", "uuid", nullable=False, length=36),
                    ColumnSpec("Cid", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Bid"], "B", ["Id"]), FKSpec(["Cid"], "C", ["Id"])],
            ),
        }
        wire_fk_rules(tables)
        return tables

    rows = {"A": 30, "B": 50, "C": 50, "D": 80}
    serial = GenerationPlan(spark, mk(), seed=9, row_counts=rows)
    par = GenerationPlan(spark, mk(), seed=9, row_counts=rows)

    levels = par.build_levels()
    level_of = {n: i for i, lv in enumerate(levels) for n in lv}
    assert level_of == {"A": 0, "B": 1, "C": 1, "D": 2}

    s = serial.run(materialize=True)
    p = par.run(materialize=True, parallelism=4)
    for name in rows:
        a = sorted(map(tuple, s[name].collect()))
        b = sorted(map(tuple, p[name].collect()))
        assert a == b, f"parallel build diverged on {name}"


def test_parallel_build_serializes_fk_cycles(spark):
    """Residual-cycle tables must build strictly serially under
    run(parallelism=N): which parents exist at build time decides
    sample-vs-fallback for cycle edges, so racing them would make the
    output timing-dependent. Levels pin each cycle member above
    everything before it, and the parallel output equals serial."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import (
        GenerationPlan,
    )
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    def mk():
        tables = {
            "P": TableSpec(
                name="P",
                columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
                pk=["Id"],
                fks=[],
            ),
            "M": TableSpec(
                name="M",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Nid", "uuid", nullable=True, length=36),
                    ColumnSpec("Pid", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Nid"], "N", ["Id"]), FKSpec(["Pid"], "P", ["Id"])],
            ),
            "N": TableSpec(
                name="N",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Mid", "uuid", nullable=True, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Mid"], "M", ["Id"])],
            ),
        }
        wire_fk_rules(tables)
        return tables

    rows = {"P": 20, "M": 30, "N": 30}
    par = GenerationPlan(spark, mk(), seed=4, row_counts=rows)
    levels = par.build_levels()
    level_of = {n: i for i, lv in enumerate(levels) for n in lv}
    # M and N form the cycle: strictly serial, fallback (name) order
    assert level_of["M"] < level_of["N"]
    assert [n for lv in levels for n in lv] == par.build_order()

    serial = GenerationPlan(spark, mk(), seed=4, row_counts=rows)
    s = serial.run(materialize=True)
    p = par.run(materialize=True, parallelism=4)
    for name in rows:
        assert sorted(map(tuple, s[name].collect())) == sorted(
            map(tuple, p[name].collect())
        ), f"cycle build diverged on {name}"


def test_fk_skew_produces_heavy_tail_and_keeps_closure(spark):
    """fk_skew warps with-replacement FK sampling into a heavy-tailed
    (Zipf-ish) parent-frequency profile — the realistic shape that lets
    generated data exercise skew-join machinery — while FK closure,
    determinism, and the uniform default all hold."""
    from synthetic_data_transfer_to_relational_database_spark.plans.executor import (
        GenerationPlan,
    )
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    def mk():
        tables = {
            "P": TableSpec(
                name="P",
                columns=[ColumnSpec("Id", "uuid", nullable=False, length=36)],
                pk=["Id"],
            ),
            "C": TableSpec(
                name="C",
                columns=[
                    ColumnSpec("Id", "uuid", nullable=False, length=36),
                    ColumnSpec("Pid", "uuid", nullable=False, length=36),
                ],
                pk=["Id"],
                fks=[FKSpec(["Pid"], "P", ["Id"])],
            ),
        }
        wire_fk_rules(tables)
        return tables

    rows = {"P": 100, "C": 5000}
    skew = GenerationPlan(spark, mk(), seed=6, row_counts=rows, fk_skew=2.0)
    built = skew.run(materialize=True)
    parents = {r[0] for r in built["P"].select("Id").collect()}
    freqs = sorted(
        (r[1] for r in built["C"].groupBy("Pid").count().collect()), reverse=True
    )
    vals = [r[0] for r in built["C"].select("Pid").collect()]
    assert set(vals) <= parents  # closure holds under skew
    # heavy tail: the hottest parent carries far more than the uniform
    # expectation (50), and the top decile dominates
    assert freqs[0] > 150, freqs[:5]
    assert sum(freqs[:10]) > 0.35 * 5000

    # determinism: same seed -> identical skewed sample
    again = GenerationPlan(spark, mk(), seed=6, row_counts=rows, fk_skew=2.0)
    built2 = again.run(materialize=True)
    assert sorted(map(tuple, built["C"].collect())) == sorted(
        map(tuple, built2["C"].collect())
    )

    # default stays uniform: no parent anywhere near the skewed peak
    uni = GenerationPlan(spark, mk(), seed=6, row_counts=rows).run(materialize=True)
    ufreqs = sorted(
        (r[1] for r in uni["C"].groupBy("Pid").count().collect()), reverse=True
    )
    assert ufreqs[0] < 110


def _qs_array(vals: list[str]) -> str:
    """An ``array(...)`` of ``generators._qs`` string literals — the
    quoting every string literal the compiler emits goes through."""
    from synthetic_data_transfer_to_relational_database_spark.functions.generators import _qs

    return "array(" + ",".join(_qs(v) for v in vals) + ")"


def test_array_literal_quotes_parse_in_both_parser_modes(spark):
    """ADVICE r6 (corrected by the r7 review): NO quoting scheme parses
    identically under both the default parser and the legacy
    spark.sql.parser.escapedStringLiterals=true (a doubled quote is not
    collapsed in legacy mode — engine-verified), so a string containing
    a quote OR backslash renders as ``CAST(unbase64('..') AS STRING)``
    (generators._qs). Three arrays of ``_qs`` literals so both
    renderings are exercised: plain strings render as quoted literals,
    quote- and backslash-bearing ones through unbase64, and all three
    round-trip bit-exact in BOTH parser modes."""
    plain = ["alpha", "beta gamma", "d-elta_9"]
    quoted = ["it's", "two''quotes", "plain"]
    slashed = ["back\\slash", "plain"]

    # the rendering is asserted structurally so no case silently takes
    # the other form (the vacuous-test trap the r7 review caught)
    assert _qs_array(plain) == "array('alpha','beta gamma','d-elta_9')"
    assert "unbase64" in _qs_array(quoted)
    assert "unbase64" in _qs_array(slashed)

    def roundtrip(vals):
        return spark.range(1).selectExpr(f"{_qs_array(vals)} AS a").collect()[0]["a"]

    for vals in (plain, quoted, slashed):
        assert roundtrip(vals) == vals
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        for vals in (plain, quoted, slashed):
            assert roundtrip(vals) == vals
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_fk_skew_feeds_salted_join_end_to_end(spark):
    """r6 verdict stretch item: the generator's fk_skew knob feeding the
    skew machinery it was built to exercise. Generate a heavy-tailed
    child table, join it back to its parent with skew.salted_join, and
    assert (a) the salted join is row-identical to the plain join, and
    (b) the hot parent's rows actually spread across multiple salt
    values — the property that splits one overloaded reducer into
    n_salts at cluster scale (AQE's skew split needs >256 MB partitions
    to trigger; the salt is the deterministic, size-independent form)."""
    from synthetic_data_transfer_to_relational_database_spark.operators.skew import (
        salted_join,
    )
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
        "P": TableSpec(
            name="P",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Unvan", "string", nullable=True, length=40),
            ],
            pk=["Id"],
        ),
        "C": TableSpec(
            name="C",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Pid", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["Pid"], "P", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(
        spark, tables, seed=9, row_counts={"P": 50, "C": 4000}, fk_skew=2.0
    )
    built = plan.run(materialize=True)
    fact = built["C"].select(F.col("Pid"), F.col("Id").alias("child_id"))
    dim = built["P"].select(F.col("Id").alias("Pid"), "Unvan")

    salted = salted_join(fact, dim, "Pid", n_salts=8)
    plain = fact.join(dim, "Pid")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )

    # the generated tail is hot enough to need the salt, and the salt
    # spreads that key: its fact rows land on >= 4 of the 8 salt values
    hot = fact.groupBy("Pid").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 200  # ~3x the uniform expectation of 80
    n_salt_vals = (
        fact.filter(F.col("Pid") == hot["Pid"])
        .select(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in fact.columns], F.lit(42)),
                F.lit(8),
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert n_salt_vals >= 4, n_salt_vals


def test_array_literal_fuzz_roundtrip_both_parser_modes(spark):
    """Fuzz the string-literal renderer (``generators._qs``): ONE array
    of many adversarial strings (quotes, doubled quotes, backslashes,
    unicode, whitespace, empty) must round-trip bit-exact in the default AND the legacy
    escapedStringLiterals parser mode. Seeded generation so the suite is
    deterministic; one array per mode rather than a Spark collect per
    fuzz example (that would be minutes)."""
    import random

    rng = random.Random(7)
    alphabet = "ab'\\\"%_ \tçİ;,()-"
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 9)))
        for _ in range(40)
    ]
    vals += ["", "'", "''", "\\", "\\'", "'; DROP TABLE x; --", "a'b\\c"]

    def roundtrip():
        return spark.range(1).selectExpr(f"{_qs_array(vals)} AS a").collect()[0]["a"]

    assert roundtrip() == vals
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert roundtrip() == vals
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_binary_and_null_keys_sample_through_the_join(spark):
    """A binary-keyed parent and a natural-key parent holding a NULL,
    neither with a PK expression, are sampled through the index
    equi-join; the child draws only existing keys, the NULL key
    included."""
    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "B": TableSpec("B", [ColumnSpec("K", "binary", nullable=False)], pk=["K"]),
        "N": TableSpec("N", [ColumnSpec("Kod", "string", length=4)], pk=["Kod"]),
        "C": TableSpec(
            "C",
            [
                ColumnSpec("Id", "int", nullable=False, rule="seq_int"),
                ColumnSpec("BK", "binary", nullable=False),
                ColumnSpec("NKod", "string", nullable=False, length=4),
            ],
            pk=["Id"],
            fks=[FKSpec(["BK"], "B", ["K"]), FKSpec(["NKod"], "N", ["Kod"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(spark, tables, seed=3, row_counts={"C": 60})
    b_keys = [bytearray(b"\x00\x01"), bytearray(b"\xfe"), bytearray(b"k3")]
    n_keys = ["AA", None, "BB", "CC"]
    # registered as built, so neither parent has a PK expression to
    # compose and both FKs sample through the index join
    plan._built["B"] = spark.createDataFrame([(k,) for k in b_keys], "K binary")
    plan._built["N"] = spark.createDataFrame([(k,) for k in n_keys], "Kod string")
    plan._row_count_of.update(B=len(b_keys), N=len(n_keys))
    rows = plan.build_one("C").collect()
    assert len(rows) == 60
    assert {bytes(r["BK"]) for r in rows} <= {bytes(k) for k in b_keys}
    got = {r["NKod"] for r in rows}
    assert got <= set(n_keys) and None in got and len(got) > 2


def test_packed_draws_are_uniform_even_at_high_divisors(spark):
    """_packed's correctness claim is statistical: every index split out
    of one 62-bit draw is uniform to within prod(radices)/2^62 ≤ 2^-12.
    The fragile position is the LAST index (largest divisor), where an
    ordering mistake in the DIV/MOD chain would show up as gross
    non-uniformity. Chi-square over 26 bins at 50k deterministic draws:
    df=25, so statistic < 100 leaves ~1e-10 false-failure headroom while
    any real bias (e.g. dividing by one radix too many) lands in the
    thousands. Deterministic data — the statistic is a fixed number."""
    from synthetic_data_transfer_to_relational_database_spark.functions.generators import _packed

    idxs = _packed("id", 42, "uniformity", [26] * 10)
    n = 50_000
    for position in (0, 9):  # first (div=1) and last (div=26^9)
        counts = (
            spark.range(n)
            .selectExpr(f"{idxs[position]} AS b")
            .groupBy("b")
            .count()
            .collect()
        )
        assert len(counts) == 26
        exp = n / 26
        chi2 = sum((r["count"] - exp) ** 2 / exp for r in counts)
        assert chi2 < 100, f"position {position}: chi2={chi2:.1f}"


def test_override_key_byte_cap_switches_to_join_path_identically(spark):
    """The live-DB readback (parent_keys_override) is sampled through the
    synthetic-parent equi-join, indexing keys by global rank, so children
    of a deliberately UNSORTED readback list draw only readback keys —
    never generated ones — whatever order the server returned them in."""
    import uuid

    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    tables = {
        "P": TableSpec(
            name="P",
            columns=[ColumnSpec("Id", "uuid", nullable=False, length=36, identity=True)],
            pk=["Id"],
            fks=[],
        ),
        "C": TableSpec(
            name="C",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("PId", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["PId"], "P", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(spark, tables, seed=7, row_counts={"P": 10, "C": 200})
    # identity readback order is server-defined; sampling must not depend on it
    keys = sorted(str(uuid.UUID(int=i * 7919)) for i in range(1, 51))[::-1]
    plan.parent_keys_override["P"] = {"Id": list(keys)}
    rows = plan.run(materialize=False)["C"].collect()
    assert len(rows) == 200
    # the FK values really are the override keys, not generated ones
    override_set = {str(uuid.UUID(int=i * 7919)) for i in range(1, 51)}
    assert {r[1] for r in rows} <= override_set


def test_override_replacement_rebuilds_join_frame(spark):
    """r11 advice: build_one is public precisely to allow interleaved
    build/load/fetch — a caller that re-fetches identity keys and
    REPLACES parent_keys_override for the same column must see children
    sample the new list, not a join frame built from the first fetch."""
    import uuid

    from synthetic_data_transfer_to_relational_database_spark.plans.model import (
        ColumnSpec,
        FKSpec,
        TableSpec,
        wire_fk_rules,
    )

    def keyset(tag: int) -> list[str]:
        return [str(uuid.UUID(int=tag * 10_000 + i)) for i in range(1, 31)]

    tables = {
        "P": TableSpec(
            name="P",
            columns=[ColumnSpec("Id", "uuid", nullable=False, length=36, identity=True)],
            pk=["Id"],
            fks=[],
        ),
        "C": TableSpec(
            name="C",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("PId", "uuid", nullable=False, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["PId"], "P", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    plan = GenerationPlan(spark, tables, seed=7, row_counts={"P": 10, "C": 100})
    plan.parent_keys_override["P"] = {"Id": keyset(1)}
    first = {r["PId"] for r in plan.build_one("C", materialize=False).collect()}
    assert first <= set(keyset(1))
    # the interleaved re-fetch: same column, NEW list object
    plan.parent_keys_override["P"] = {"Id": keyset(2)}
    second = {r["PId"] for r in plan.build_one("C", materialize=False).collect()}
    assert second <= set(keyset(2)), "stale join frame served first-fetch keys"
