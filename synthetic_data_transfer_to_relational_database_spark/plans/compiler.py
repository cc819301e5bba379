"""Rule compiler: ``"provider[:args]"`` strings → seeded SQL expressions.

This is the executor the reference never built for its own rule grammar
(data_rules.json is written by generate_config_v2.py:100-101 but consumed
by nothing — SURVEY.md §0). Each rule compiles to a pure expression over
the ``__id`` row-number column; the table's whole row is then one
``spark.range(n).selectExpr(*items)`` projection (SURVEY.md §4: generation
as projection, replacing the reference's Python row loop A2).

``compile_rule`` returns **SQL text** (including the cast to the
column's declared type, excluding the alias); the executor aliases it
and parses the whole table in that one ``selectExpr`` call — see
functions/generators.py for why per-node round trips dominate
wide-schema build time. The ``id_sql`` parameter is likewise SQL text
("__id", or a sampled-index expression when a parent PK is recomputed
by composition — plans/executor._pk_expr_fn).

``foreign_key:`` rules are NOT compiled here — they need parent-table
context and are planned by plans/executor.py (J1 sampling join).
"""

from __future__ import annotations

from ..functions import generators as G
from ..functions.generators import _qi
from .model import ColumnSpec


def _parse_kv_args(argstr: str) -> dict[str, str]:
    out = {}
    for part in argstr.split(","):
        if "=" in part:
            k, v = part.split("=", 1)
            out[k.strip()] = v.strip()
    return out


_INT_MAX = {"short": 32000, "int": 2_000_000_000, "long": 4_000_000_000_000}


def _clamp_int_range(dtype: str, lo: int, hi: int) -> tuple[int, int]:
    """Keep generated integers inside the target type (the reference's
    type-tiered bounds, run_engine.py:180-182: tinyint 255 / smallint
    32000 / int 100000)."""
    cap = _INT_MAX.get(dtype, 2_000_000_000)
    return min(lo, cap), min(hi, cap)


def compile_rule(rule: str, col: ColumnSpec, id_sql: str, seed: int) -> str:
    """Compile one rule for one column into SQL text. `salt` is the
    column name, so two columns with the same rule get independent
    streams."""
    salt = col.name
    name, _, args = rule.partition(":")

    if name == "uuid4":
        expr = G.gen_uuid(id_sql, seed, salt)
    elif name == "seq_int":
        # injective in the row index — PK-safe by construction
        expr = f"CAST(({id_sql} + 1) AS BIGINT)"
    elif name == "seq_code":
        # unique fixed-width code: base-36 of the row index, zero-padded.
        # Injective while idx < 36^n (enforced by width = declared length).
        n = int(args) if args else (col.length or 8)
        expr = f"lpad(conv(CAST({id_sql} AS STRING), 10, 36), {n}, '0')"
    elif name == "seq_date":
        # injective date: anchor + idx days (unique-index members)
        expr = f"date_add(CAST('2020-01-01' AS DATE), CAST({id_sql} AS INT))"
    elif name == "seq_timestamp":
        # injective timestamp: anchor + idx seconds — unique for any
        # realistic row count (~31M rows/year of distinct seconds)
        expr = f"timestamp_seconds((CAST(1577836800 AS BIGINT) + {id_sql}))"
    elif name == "seq_decimal":
        dt = col.dtype if col.dtype.startswith("decimal") else "decimal(18,2)"
        expr = f"CAST(({id_sql} + 1) AS {dt})"
    elif name == "random_int":
        lo, hi = (int(x) for x in args.split(",")) if args else (0, 100000)
        lo, hi = _clamp_int_range(col.dtype, lo, hi)
        if col.dtype == "long":
            expr = G.gen_long(id_sql, seed, salt, lo, hi)
        else:
            expr = G.gen_int(id_sql, seed, salt, lo, hi)
        if col.dtype == "short":
            expr = f"CAST({expr} AS SMALLINT)"
    elif name == "boolean":
        expr = G.gen_bool(id_sql, seed, salt)
    elif name == "decimal":
        p, s = (int(x) for x in args.split(",")) if args else (col.precision or 18, col.scale or 2)
        expr = G.gen_decimal(id_sql, seed, salt, p, s)
    elif name == "pyfloat":
        kv = _parse_kv_args(args)
        lo = float(kv.get("min_value", 10))
        hi = float(kv.get("max_value", 50000))
        digits = int(kv.get("right_digits", 2))
        expr = G.gen_double(id_sql, seed, salt, lo, hi, digits)
        if col.dtype.startswith("decimal"):
            expr = f"CAST({expr} AS {col.dtype})"
    elif name == "date_this_decade":
        expr = G.gen_date(id_sql, seed, salt)
    elif name == "datetime_this_year":
        expr = G.gen_timestamp(id_sql, seed, salt)
    elif name == "time_hms":
        parts = ", ".join(
            f"CAST({ix} AS INT)"
            for ix in G._packed(id_sql, seed, salt, [24, 60, 60], k=1)
        )
        expr = f"format_string('%02d:%02d:%02d', {parts})"
    elif name == "numerify":
        n = int(args) if args and args.isdigit() else len(args) if args else 10
        expr = G.gen_numerify(id_sql, seed, salt, n)
        # numeric coercion (run_engine.py:171-174): digit string into a
        # numeric column becomes a number, clamped to the target type.
        if col.dtype in ("int", "short"):
            _, hi = _clamp_int_range(col.dtype, 1, 10 ** min(n, 9) - 1)
            expr = G.gen_int(id_sql, seed, salt, 1, hi)
        elif col.dtype == "long":
            expr = G.gen_long(id_sql, seed, salt, 1, 10 ** min(n, 18) - 1)
    elif name == "lexify":
        expr = G.gen_lexify(id_sql, seed, salt, min(col.length or 4, 4))
    elif name == "word":
        expr = G.gen_word(id_sql, seed, salt)
    elif name == "sentence":
        n_words = int(args) if args else 10
        expr = G.gen_sentence(id_sql, seed, salt, n_words)
    elif name == "first_name":
        expr = G.gen_first_name(id_sql, seed, salt)
    elif name == "last_name":
        expr = G.gen_last_name(id_sql, seed, salt)
    elif name == "name":
        expr = G.gen_full_name(id_sql, seed, salt)
    elif name == "company":
        expr = G.gen_company(id_sql, seed, salt)
    elif name == "email":
        expr = G.gen_email(id_sql, seed, salt)
    elif name == "phone_number":
        expr = G.gen_phone(id_sql, seed, salt)
    elif name == "iban":
        expr = G.gen_iban(id_sql, seed, salt)
    elif name == "ean13":
        expr = G.gen_ean13(id_sql, seed, salt)
    elif name == "address":
        expr = G.gen_address(id_sql, seed, salt)
    elif name == "city":
        expr = G.gen_city(id_sql, seed, salt)
    elif name == "country":
        expr = G.gen_country(id_sql, seed, salt)
    elif name == "url":
        expr = G.gen_url(id_sql, seed, salt)
    elif name == "product_name":
        expr = G.gen_product_name(id_sql, seed, salt)
    elif name == "code":
        expr = G.gen_code(id_sql, seed, salt, args or "AUTO")
    else:
        expr = G.gen_word(id_sql, seed, salt)

    # string truncation to declared length (P7; run_engine.py:251-253)
    if col.dtype in ("string", "uuid") and col.length and col.length > 0:
        expr = f"substring(CAST({expr} AS STRING), 1, {col.length})"
    return f"CAST({expr} AS {col.spark_type().simpleString()})"
