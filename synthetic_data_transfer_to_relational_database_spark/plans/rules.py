"""Rule inference: schema metadata → per-column generation rules.

Re-expresses the reference's two rule systems as one:

- the config-compiler cascade (generate_config_v2.py:8-60): FK rule wins
  (:81-93), then description keywords, then column-name keywords, then
  data-type defaults — emitting ``"provider[:args]"`` strings like
  data_rules.json's 16-rule grammar (SURVEY.md §2.1).
- the runtime keyword dispatch (run_engine.py:50-79 KEYWORD_MAP: TCKN,
  VKN, IBAN, MAIL, TEL, UNVAN, AD, SOYAD, ADRES, SEHIR, ULKE, ACIKLAMA,
  BARKOD, KOD, FIYAT/TUTAR, MIKTAR, WEB — matched by substring of the
  upper-cased column name).

Unlike the reference — which writes data_rules.json and then never reads
it (SURVEY.md §0) — the rule string IS our engine's declarative plan:
plans/compiler.py compiles it to a Column expression.
"""

from __future__ import annotations

from .model import ColumnSpec, TableSpec

# (substring-of-uppercased-name, rule) in priority order — first match
# wins, mirroring run_engine.py:50-79's dict scan.
NAME_KEYWORD_RULES: list[tuple[str, str]] = [
    ("TCKN", "numerify:11"),
    ("VKN", "numerify:10"),
    ("IBAN", "iban"),
    ("MAIL", "email"),
    ("EPOSTA", "email"),
    ("TELEFON", "phone_number"),
    ("TEL", "phone_number"),
    ("GSM", "phone_number"),
    ("FAX", "phone_number"),
    ("UNVAN", "company"),
    ("FIRMA", "company"),
    ("SIRKET", "company"),
    ("SOYAD", "last_name"),
    ("ADSOYAD", "name"),
    ("ADRES", "address"),
    ("SEHIR", "city"),
    ("IL", None),  # too ambiguous as substring; handled by exact match below
    ("ULKE", "country"),
    ("ACIKLAMA", "sentence:10"),
    ("NOTLAR", "sentence:10"),
    ("BARKOD", "ean13"),
    ("STOKADI", "product_name"),
    ("MALADI", "product_name"),
    ("WEB", "url"),
    ("URL", "url"),
    ("FIYAT", "pyfloat:right_digits=2,positive=True"),
    ("TUTAR", "pyfloat:right_digits=2,positive=True"),
    ("MIKTAR", "random_int:1,100"),
    ("ORAN", "random_int:0,100"),
    ("YIL", "random_int:2000,2026"),
    ("KOD", "lexify"),
    ("NO", "numerify:8"),
]

# Tier-2 description keywords (generate_config_v2.py:26-41): matched
# against the lower-cased Turkish column description when a schema source
# carries one (the JSONL source does; DDL/catalog sources do not).
DESCRIPTION_RULES: list[tuple[str, str]] = [
    ("telefon", "phone_number"),
    ("gsm", "phone_number"),
    ("email", "email"),
    ("e-posta", "email"),
    ("adres", "address"),
    ("iban", "iban"),
    ("tc kimlik", "numerify:11"),
    ("tckn", "numerify:11"),
    ("vergi no", "numerify:10"),
    ("vkn", "numerify:10"),
    ("şehir", "city"),
    ("il ", "city"),
    ("ülke", "country"),
    ("tarih", "date_this_decade"),
    ("fiyat", "pyfloat:right_digits=2,positive=True,min_value=10,max_value=50000"),
    ("tutar", "pyfloat:right_digits=2,positive=True,min_value=10,max_value=50000"),
    ("bakiye", "pyfloat:right_digits=2,positive=True,min_value=10,max_value=50000"),
    ("miktar", "random_int:1,1000"),
    ("şirket", "company"),
    ("firma", "company"),
    ("unvan", "company"),
    ("soyad", "last_name"),
    ("ad ", "first_name"),
    ("açıklama", "sentence:10"),
    ("not", "sentence:10"),
]


EXACT_NAME_RULES: dict[str, str] = {
    "AD": "first_name",
    "ADI": "first_name",
    "NAME": "name",
    "IL": "city",
    "ILCE": "city",
}


def _type_default_rule(col: ColumnSpec) -> str:
    """Tier-4 data-type defaults (generate_config_v2.py:52-60 +
    run_engine.py:177-203's type dispatch)."""
    d = col.dtype
    if d == "uuid":
        return "uuid4"
    if d.startswith("decimal"):
        return f"decimal:{col.precision or 18},{col.scale or 2}"
    if d == "boolean":
        return "boolean"
    if d == "short":
        return "random_int:0,32000"
    if d == "int":
        return "random_int:0,100000"
    if d == "long":
        return "random_int:0,1000000"
    if d in ("float", "double"):
        return "pyfloat:right_digits=2,positive=True"
    if d == "date":
        return "date_this_decade"
    if d == "timestamp":
        return "datetime_this_year"
    if d == "time":
        return "time_hms"
    if d == "string":
        length = col.length or 50
        if 0 < length < 10:
            return "lexify"
        if length < 50 and length > 0:
            return "word"
        return "sentence:10"
    return "word"


def infer_rule(col: ColumnSpec, description: str | None = None) -> str:
    """Provider-detection cascade for one column. FK rules are wired
    earlier (model.wire_fk_rules) and always win; then description
    keywords (tier 2), name keywords (tier 3), type defaults (tier 4) —
    the generate_config_v2.py:8-60 ordering."""
    if col.rule:  # FK binding already present
        return col.rule
    if description:
        desc = description.lower()
        for kw, rule in DESCRIPTION_RULES:
            if kw in desc:
                is_textual = not rule.startswith(("random_int", "pyfloat", "numerify"))
                if is_textual and col.dtype not in ("string", "uuid", "time"):
                    continue
                return rule
    up = col.name.upper()
    if up in EXACT_NAME_RULES:
        return EXACT_NAME_RULES[up]
    # ID/GUID-name tier (generate_config_v2.py:19-23)
    if col.dtype == "uuid":
        return "uuid4"
    if up.endswith("ID") and col.dtype in ("int", "long", "short"):
        return "random_int:1,1000"
    for kw, rule in NAME_KEYWORD_RULES:
        if rule is not None and kw in up:
            # textual rule on a non-string column: only numerify coerces
            # cleanly (run_engine.py:171-174); anything else falls back to
            # the data-type default.
            is_textual = not rule.startswith(("random_int", "pyfloat", "numerify"))
            if is_textual and col.dtype not in ("string", "uuid", "time"):
                break
            if rule.startswith("pyfloat") and col.dtype not in (
                "float",
                "double",
            ) and not col.dtype.startswith("decimal"):
                break
            return rule
    return _type_default_rule(col)


def _pk_safe_rule(col: ColumnSpec, inferred: str) -> str:
    """Primary-key columns need INJECTIVE generators — unique indexes are
    correctness constraints the reference knowingly violates (SURVEY.md
    §1.3 'the generator can violate... known gap'); we do better. Rules
    that are already unique-by-construction pass through."""
    if inferred.startswith(("foreign_key:", "uuid4", "seq_")):
        return inferred
    if col.dtype == "uuid":
        return "uuid4"
    if col.dtype == "string":
        length = col.length or 36
        return "uuid4" if length >= 36 else f"seq_code:{length}"
    if col.dtype in ("int", "short", "long"):
        return "seq_int"
    if col.dtype == "date":
        return "seq_date"
    if col.dtype == "timestamp":
        return "seq_timestamp"
    if col.dtype.startswith("decimal"):
        return "seq_decimal"
    return inferred


_INJECTIVE_RULES = ("uuid4", "seq_int", "seq_code", "seq_date", "seq_timestamp", "seq_decimal")


def _enforce_unique_indexes(table: TableSpec, parent_rows: dict[str, int]) -> None:
    """Unique business keys (CREATE UNIQUE INDEX, e.g. uBankaUlkeKod
    script.sql:2621): tuple uniqueness follows from ANY injective member,
    so switch one member column per index to an injective rule. Non-FK
    members are preferred (a local rule change); an index made of FK
    columns only marks one member ``unique`` instead — the one with the
    most parent rows (``parent_rows``; the first on a tie), which has the
    most room — and the executor then samples that parent WITHOUT
    replacement (affine permutation).
    The reference knowingly violates these constraints (SURVEY.md §1.3).

    The PK tuple goes through the same rule: its non-FK members already
    carry injective rules (``_pk_safe_rule``), but a PK made only of FK
    columns (``AspNetUserRoles (UserId, RoleId)``) would otherwise sample
    every member with replacement and repeat tuples. A shared-PK subtype
    is exempt — the executor samples its parent without replacement. A
    member of a composite PK is not unique on its own, so it covers an
    index only when it is the whole PK."""
    pk = set(table.pk)
    # (columns, whether a PK member already covers the tuple)
    tuples = [(cols, len(pk) == 1) for cols in table.unique_indexes]
    if table.shared_pk_fk() is None:
        tuples.insert(0, (table.pk, False))
    for idx_cols, pk_covers in tuples:
        members: list[ColumnSpec] = []
        covered = False
        for name in idx_cols:
            try:
                c = table.column(name)
            except KeyError:
                continue
            if c.identity or c.unique or (pk_covers and c.name in pk):
                covered = True
                break
            base = (c.rule or "").partition(":")[0]
            if base in _INJECTIVE_RULES:
                covered = True
                break
            if not (c.computed or c.unsafe):
                members.append(c)
        if covered or not members:
            continue
        # claim enforcement ONLY when a member actually becomes injective:
        # _pk_safe_rule passes dtypes it has no injective form for (float/
        # boolean/binary) through unchanged, and marking those `unique`
        # would silently leave the index unenforced while short-circuiting
        # later indexes as covered.
        enforced = False
        for c in members:
            if c.fk_parent:
                continue
            new_rule = _pk_safe_rule(c, c.rule or _type_default_rule(c))
            if new_rule.partition(":")[0] in _INJECTIVE_RULES:
                c.rule = new_rule
                c.unique = True
                enforced = True
                break
        if not enforced:
            fk_members = [c for c in members if c.fk_parent]
            if fk_members:
                # without-replacement parent sampling (executor._sample_idx)
                max(
                    fk_members,
                    key=lambda c: parent_rows.get(c.fk_parent.partition(".")[0], 0),
                ).unique = True


# F4/F5: system/framework tables excluded from generation by default
# (run_engine.py:23,221: SKIP_TABLES + 'AspNet' substring; fill_db.py:147).
DEFAULT_SKIP_TABLES = ("__EFMigrationsHistory", "sysdiagrams", "dtproperties")
# F6: audit columns the DB fills (run_engine.py:25,244).
DEFAULT_SKIP_COLUMNS = ("LogId", "CreateDate", "CreatedBy", "UpdateDate", "UpdatedBy")


def infer_table_rules(
    table: TableSpec, parent_rows: dict[str, int] | None = None
) -> dict[str, str]:
    """Rule map for every generated column of a table (the data_rules.json
    shape: {column: "provider[:args]"}). PK columns are forced to
    injective rules so generated keys are unique. ``parent_rows`` (table
    name → row count) picks which FK member of an all-FK key samples
    without replacement."""
    out = {}
    pk = set(table.pk)
    for c in table.generated_columns:
        rule = infer_rule(c, description=c.description)
        if c.name in pk:
            rule = _pk_safe_rule(c, rule)
        c.rule = rule
    _enforce_unique_indexes(table, parent_rows or {})
    for c in table.generated_columns:
        out[c.name] = c.rule
    return out


def dump_rules(tables: dict[str, TableSpec]) -> dict[str, dict[str, str]]:
    """The data_rules.json shape (K5; generate_config_v2.py:100-101):
    {table: {column: "provider[:args]"}}. Unlike the reference — which
    writes this file and never reads it (SURVEY.md §0) — our executor
    consumes exactly these rules, so dump/load is a faithful round trip."""
    return {name: infer_table_rules(t) for name, t in tables.items()}


def load_rules(tables: dict[str, TableSpec], config: dict[str, dict[str, str]]) -> None:
    """Apply a rule config onto TableSpecs (the executor the reference
    never built). Unknown tables/columns are ignored; FK bindings already
    wired on the specs still win (precedence, generate_config_v2.py:81-93)."""
    for tname, cols in config.items():
        t = tables.get(tname)
        if t is None:
            continue
        for cname, rule in cols.items():
            try:
                c = t.column(cname)
            except KeyError:
                continue
            if c.rule and c.rule.startswith("foreign_key:"):
                continue
            c.rule = rule
