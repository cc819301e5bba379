"""Seeded deterministic value generators (SURVEY.md §2.1 G1-G12).

The reference generates values row-at-a-time with seedless
``random``/``Faker(tr_TR)`` (run_engine.py:45,155-203; fill_db.py:63-120).
Here every generator is a pure expression over a row-id column:

    value(row) = f(xxhash64(id, seed, salt))

which makes generation (a) a whole-stage-codegen'd projection instead of
a Python loop — the single biggest physical win over the reference
(SURVEY.md §4), and (b) bit-reproducible independent of partitioning
(``F.rand(seed)`` depends on partition layout; hash-of-id does not).

Generators build **SQL text**, not Column objects. Classic-PySpark
Column composition costs one py4j socket round trip per ``F.*`` call (and
per ``_lit``): an 85-table schema build spent ~50% of its wall clock in
~240k such round trips (profiled, r9). Rendering each column's whole
expression as one SQL string is O(1) round trips per TABLE instead of
per NODE. The caller (plans/compiler.compile_rule
→ plans/executor) aliases each column's string and parses the whole
table in one ``selectExpr``.

Literal rendering must reproduce the exact types classic ``F.lit`` would
have produced — ``xxhash64`` output (and hence every generated value)
depends on argument TYPES, not just values: Python int → INT when it
fits int32 else BIGINT (``123`` / ``123L``); float → DOUBLE via
``CAST('repr' AS DOUBLE)`` (a bare SQL ``1.5`` is DECIMAL, which would
change every hash downstream). Strings render single-quoted; a value
containing a quote or backslash has NO quoting that parses identically
under both the default and legacy (``escapedStringLiterals``) parsers,
so it is carried as ``CAST(unbase64('..') AS STRING)`` — base64 text is
quote-free, and constant folding collapses it to the same string literal
either way.

Locale-flavored providers (names, companies, cities — Faker tr_TR in the
reference) are lookup-array expressions over small word lists; we match
*shape* (type/length/charset), not Faker's exact strings (SURVEY.md §7
hard-part 4). IBAN/phone match format, not checksums.
"""

from __future__ import annotations

import base64

# --- core uniform source ------------------------------------------------

_BUCKET = 1 << 30

_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


def _qi(v: int) -> str:
    """Integer literal typed exactly as classic ``F.lit(v)``: INT when it
    fits int32, else BIGINT."""
    return str(v) if _INT32_MIN <= v <= _INT32_MAX else f"{v}L"


def _qd(v: float) -> str:
    """Double literal. A bare SQL ``1.5`` parses as DECIMAL(2,1) — the
    CAST-from-repr form renders the exact double."""
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST({v!r} AS DOUBLE)"


def _qs(s: str) -> str:
    """String literal that parses identically under both parser modes."""
    if "'" in s or "\\" in s:
        b64 = base64.b64encode(s.encode("utf-8")).decode("ascii")
        return f"CAST(unbase64('{b64}') AS STRING)"
    return f"'{s}'"


def unit_uniform(id_sql: str, seed: int, salt: str) -> str:
    """Deterministic u ∈ [0, 1) from (row id, seed, salt)."""
    return (
        f"(pmod(xxhash64({id_sql}, {_qi(seed)}, {_qs(salt)}), {_qi(_BUCKET)})"
        f" / {_qd(float(_BUCKET))})"
    )


def _h(id_sql: str, seed: int, salt: str, k: int = 0) -> str:
    """Deterministic non-negative 64-bit hash stream element."""
    return (
        f"pmod(xxhash64({id_sql}, {_qi(seed)}, {_qs(salt)}, {_qi(k)}),"
        f" {_qi(1 << 62)})"
    )


# Combined range of one packed draw. 2^50 out of the hash's 2^62 keeps
# the worst-case per-index bias below 2^-12 (see _packed).
_PACK_BUDGET = 1 << 50


def _packed(
    id_sql: str, seed: int, salt: str, radices: list[int], k: int = 0
) -> list[str]:
    """Split ONE uniform draw in [0, 2^62) into len(radices) independent
    small uniform draws: idx_j = (h DIV r_0·…·r_{j-1}) MOD r_j.

    Why not one hash per draw: every unrolled draw adds a fixed slab of
    generated Java to the enclosing projection's ``doConsume``, and
    whole-stage codegen CANNOT split that method when fed by a fused
    ``Range`` scan (the row id arrives as a long parameter, not an
    InternalRow) — four of the reference schema's wide tables blew
    janino's 64 KB method limit this way and silently fell back to
    unfused row-level codegen, losing the fused loop AND paying a failed
    ~1 s janino compile per action. Packing draws keeps per-column code
    near-constant. The repeated ``h`` text is one subtree — whole-stage
    subexpression elimination evaluates the xxhash64 once per row.

    Exactness: h is uniform on [0, 2^62); index j deviates from uniform
    by at most prod(radices)/2^62 ≤ 2^-12 (callers chunk above the
    budget). Fine for synthetic data; NOT for cryptography."""
    total = 1
    for r in radices:
        total *= r
    if total > _PACK_BUDGET:
        # not assert: biased draws under `python -O` must stay impossible
        raise ValueError(
            f"packed radices {radices} span {total} > 2^50 — chunk the draws"
        )
    h = _h(id_sql, seed, salt, k)
    out: list[str] = []
    div = 1
    for r in radices:
        src = h if div == 1 else f"({h} DIV {_qi(div)})"
        out.append(f"pmod({src}, {_qi(r)})")
        div *= r
    return out


# --- scalar generators (G1-G7, G12) ------------------------------------


def gen_uuid(id_sql: str, seed: int, salt: str) -> str:
    """Deterministic UUID-shaped string (G1; run_engine.py:161,194).

    md5 of the (id, seed, salt) key formatted 8-4-4-4-12. Spark's
    built-in ``uuid()`` is nondeterministic — unusable for reproducible
    runs, which are a deliberate improvement over the reference."""
    hx = (
        f"md5(concat_ws('-', CAST({id_sql} AS STRING),"
        f" {_qs(str(seed))}, {_qs(salt)}))"
    )
    return (
        f"concat_ws('-', substring({hx}, 1, 8), substring({hx}, 9, 4),"
        f" substring({hx}, 13, 4), substring({hx}, 17, 4),"
        f" substring({hx}, 21, 12))"
    )


def gen_int(id_sql: str, seed: int, salt: str, lo: int, hi: int) -> str:
    """Uniform integer in [lo, hi] (G2; run_engine.py:180-182)."""
    return (
        f"CAST(({_qi(lo)} + pmod({_h(id_sql, seed, salt)},"
        f" {_qi(hi - lo + 1)})) AS INT)"
    )


def gen_long(id_sql: str, seed: int, salt: str, lo: int, hi: int) -> str:
    return (
        f"CAST(({_qi(lo)} + pmod({_h(id_sql, seed, salt)},"
        f" {_qi(hi - lo + 1)})) AS BIGINT)"
    )


def gen_bool(id_sql: str, seed: int, salt: str) -> str:
    """Bernoulli(0.5) (G3; run_engine.py:178)."""
    return f"CAST((pmod({_h(id_sql, seed, salt)}, 2) = 0) AS BOOLEAN)"


def gen_decimal(id_sql: str, seed: int, salt: str, precision: int, scale: int) -> str:
    """Bounded decimal (G4; run_engine.py:184-188): uniform in
    [0, min(10^(p-s)-1, 10000)] rounded to scale — the reference's exact
    bounding rule."""
    limit = min(10 ** (precision - scale) - 1, 10000)
    u = unit_uniform(id_sql, seed, salt)
    return (
        f"CAST(round(({u} * {_qd(float(limit))}), {scale})"
        f" AS DECIMAL({precision},{scale}))"
    )


def gen_double(
    id_sql: str, seed: int, salt: str, lo: float = 10.0, hi: float = 50000.0, digits: int = 2
) -> str:
    """pyfloat rule analogue (data_rules.json: right_digits=2, positive)."""
    u = unit_uniform(id_sql, seed, salt)
    return f"round(({_qd(lo)} + ({u} * {_qd(hi - lo)})), {digits})"


def gen_timestamp(
    id_sql: str, seed: int, salt: str, anchor: str = "2026-01-01 00:00:00"
) -> str:
    """Timestamp in the year before `anchor` (G5-analogue; reference uses
    nondeterministic now(), run_engine.py:190-191 — we pin an anchor)."""
    secs = f"pmod({_h(id_sql, seed, salt)}, {_qi(365 * 24 * 3600)})"
    return (
        f"timestamp_seconds((unix_timestamp(CAST({_qs(anchor)} AS TIMESTAMP))"
        f" - {secs}))"
    )


def gen_date(
    id_sql: str, seed: int, salt: str, anchor: str = "2026-01-01", days_back: int = 3650
) -> str:
    """date_this_decade analogue (G6; fill_db.py:82-83)."""
    return (
        f"date_sub(CAST({_qs(anchor)} AS DATE),"
        f" CAST(pmod({_h(id_sql, seed, salt)}, {_qi(days_back)}) AS INT))"
    )


def gen_numerify(id_sql: str, seed: int, salt: str, n_digits: int) -> str:
    """Fixed-width digit string (G7; run_engine.py:51-53): first digit
    nonzero, e.g. TCKN=11, VKN=10 digits. One packed draw covers both
    parts up to 15 digits; wider falls back to a second draw."""
    first = f"CAST((1 + pmod({_h(id_sql, seed, salt, 1)}, 9)) AS STRING)"
    if n_digits == 1:
        return first
    if 9 * 10 ** (n_digits - 1) <= _PACK_BUDGET:
        f_idx, rest_idx = _packed(
            id_sql, seed, salt, [9, 10 ** (n_digits - 1)], k=1
        )
        first = f"CAST((1 + {f_idx}) AS STRING)"
        rest = f"lpad(CAST({rest_idx} AS STRING), {n_digits - 1}, '0')"
        return f"concat({first}, {rest})"
    rest = (
        f"lpad(CAST(pmod({_h(id_sql, seed, salt, 2)},"
        f" {_qi(10 ** (n_digits - 1))}) AS STRING), {n_digits - 1}, '0')"
    )
    return f"concat({first}, {rest})"


def gen_code(id_sql: str, seed: int, salt: str, prefix: str = "AUTO") -> str:
    """'AUTO-####' pattern (G12; run_engine.py:73). The prefix is
    interpolated into a format_string template, so any '%' it carries
    must be doubled — _qs only protects quoting, not printf directives
    (a literal '%s' prefix would otherwise consume the numeric arg or
    throw at run time)."""
    return (
        f"format_string({_qs(prefix.replace('%', '%%') + '-%04d')},"
        f" CAST((1000 + pmod({_h(id_sql, seed, salt)}, 9000)) AS INT))"
    )


_CONV_LOWER = ("0123456789ABCDEFGHIJKLMNOP", "abcdefghijklmnopqrstuvwxyz")


def gen_lexify(id_sql: str, seed: int, salt: str, n_chars: int = 4) -> str:
    """n random lowercase letters (lexify('????'), run_engine.py:201-203).

    One hash draw renders ALL characters of a chunk: the draw mod 26^n,
    printed base-26 by ``conv`` and mapped to a-z by ``translate``. The
    hash expression appears ONCE per chunk — generated-code size is what
    caps wide projections (xxhash64 inlines ~1.7 KB of Java per textual
    occurrence; janino's method limit is 64 KB), so generators minimize
    hash REFERENCES, not just draws."""
    chunks: list[str] = []
    left, k = n_chars, 0
    while left > 0:
        take = min(left, 10)
        draw = f"pmod({_h(id_sql, seed, salt, k)}, {_qi(26 ** take)})"
        chunks.append(_lex_chars(draw, take))
        left -= take
        k += 1
    return chunks[0] if len(chunks) == 1 else f"concat({', '.join(chunks)})"


def _lex_chars(idx_sql: str, take: int) -> str:
    """``take`` lowercase letters rendered from an existing uniform draw
    in [0, 26^take) — the conv+translate trick, reusable over a _packed
    index so callers pay zero extra hash references."""
    return (
        f"translate(lpad(conv(CAST({idx_sql} AS STRING), 10, 26),"
        f" {take}, '0'), '{_CONV_LOWER[0]}', '{_CONV_LOWER[1]}')"
    )


# --- lookup-array providers (G8-G11) -----------------------------------
# Public-knowledge word lists, written for shape parity with Faker tr_TR
# output (type/length/charset) — not copies of Faker data.

FIRST_NAMES = ["Ahmet", "Mehmet", "Ayse", "Fatma", "Ali", "Mustafa", "Zeynep", "Emre", "Elif", "Can",
               "Deniz", "Cem", "Selin", "Burak", "Merve", "Kerem", "Esra", "Murat", "Seda", "Okan"]
LAST_NAMES = ["Yilmaz", "Kaya", "Demir", "Celik", "Sahin", "Ozturk", "Aydin", "Arslan", "Dogan", "Kilic",
              "Aslan", "Cetin", "Kara", "Koc", "Kurt", "Ozdemir", "Erdogan", "Polat", "Aksoy", "Tekin"]
COMPANY_SUFFIXES = ["A.S.", "Ltd. Sti.", "Holding", "Ticaret", "Sanayi", "Grup"]
CITIES = ["Istanbul", "Ankara", "Izmir", "Bursa", "Antalya", "Adana", "Konya", "Gaziantep",
          "Mersin", "Kayseri", "Eskisehir", "Samsun", "Denizli", "Trabzon", "Malatya", "Erzurum"]
COUNTRIES = ["Turkiye", "Germany", "France", "Italy", "Spain", "Netherlands", "United Kingdom",
             "United States", "Japan", "China", "Brazil", "India", "Canada", "Poland", "Greece"]
STREET_WORDS = ["Cadde", "Sokak", "Bulvar", "Mahalle", "Meydan"]
DOMAINS = ["example.com", "example.org", "example.net", "mail.example.com", "test.example.org"]
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "lambda", "sigma", "omega",
         "kuzey", "guney", "dogu", "bati", "merkez", "yeni", "eski", "buyuk", "kucuk", "hizli",
         "mavi", "yesil", "kirmizi", "beyaz", "siyah", "demir", "bakir", "celik", "cam", "ahsap"]
ADJECTIVES = ["Premium", "Standart", "Ekonomik", "Profesyonel", "Endustriyel", "Klasik", "Modern", "Dayanikli"]
NOUNS = ["Vida", "Kablo", "Panel", "Motor", "Filtre", "Rulman", "Sensor", "Vana", "Profil", "Boru"]

# Lexicon arrays render once per process — the text is identical every
# call, but the join is pure-Python and worth skipping in wide builds.
_ARR_CACHE: dict[tuple[str, ...], str] = {}

# r19: banks at/above this length render as ONE string literal + split()
# instead of an inline array(...) of element literals. The analyzer then
# walks 3 nodes instead of one per element (a 256-fragment sentence bank
# is ~257 Literal/CreateArray nodes PER COLUMN OCCURRENCE — the dominant
# node count of the generator's per-table eager analysis), and the
# optimizer constant-folds split-of-literal to the IDENTICAL ArrayData
# before execution, so runtime plans and output bytes are unchanged
# (pinned by tests/test_full_schema_gen.py::test_census_build_digest).
# Below the threshold the classic form stays — nothing to save on a
# 5-word list.
_SPLIT_ARR_MIN = 16


def _arr(items: list[str]) -> str:
    key = tuple(items)
    c = _ARR_CACHE.get(key)
    if c is None:
        if len(items) >= _SPLIT_ARR_MIN and all(w and ";" not in w for w in items):
            c = f"split({_qs(';'.join(items))}, ';')"
        else:
            c = "array(" + ",".join(_qs(w) for w in items) + ")"
        _ARR_CACHE[key] = c
    return c


def _pick(id_sql: str, seed: int, salt: str, items: list[str], k: int = 0) -> str:
    return (
        f"element_at({_arr(items)},"
        f" CAST((pmod({_h(id_sql, seed, salt, k)}, {_qi(len(items))}) + 1) AS INT))"
    )


def _at(items: list[str], idx_sql: str) -> str:
    """element_at over a folded lexicon array at a 0-based index
    expression (a _packed draw)."""
    return f"element_at({_arr(items)}, CAST(({idx_sql} + 1) AS INT))"


# Derived lexicon banks: precomposed COMBINATIONS of base-lexicon words,
# so a multi-word value costs ONE array pick (one hash reference) instead
# of one per word. Banks are deterministic pure functions of the module
# constants (hashlib, no RNG state) — same text every process, like WORDS
# itself. The arrays constant-fold into plan literals: zero generated
# code, ~10-20 KB of plan text per distinct bank.

_EMAIL_PAIRS = [f"{f.lower()}.{l.lower()}" for f in FIRST_NAMES for l in LAST_NAMES]

_SENT_BANK_SIZE = 256
_SENT_BANKS: dict[tuple[int, str], list[str]] = {}


def _sentence_bank(length: int, tag: str) -> list[str]:
    """256 deterministic `length`-word fragments over WORDS. ``head``
    fragments lead with a capitalized word; ``tail`` fragments end the
    sentence with '.'."""
    key = (length, tag)
    bank = _SENT_BANKS.get(key)
    if bank is None:
        import hashlib

        bank = []
        for i in range(_SENT_BANK_SIZE):
            ws = []
            for j in range(length):
                digest = hashlib.md5(
                    f"sdt-sentence-{tag}-{length}-{i}-{j}".encode()
                ).digest()
                ws.append(WORDS[int.from_bytes(digest[:4], "big") % len(WORDS)])
            if tag == "head":
                ws[0] = ws[0].capitalize()
                bank.append(" ".join(ws))
            else:
                bank.append(" ".join(ws) + ".")
        _SENT_BANKS[key] = bank
    return bank


def gen_first_name(id_sql: str, seed: int, salt: str) -> str:
    return _pick(id_sql, seed, salt, FIRST_NAMES)


def gen_last_name(id_sql: str, seed: int, salt: str) -> str:
    return _pick(id_sql, seed, salt, LAST_NAMES, k=1)


def gen_full_name(id_sql: str, seed: int, salt: str) -> str:
    i1, i2 = _packed(id_sql, seed, salt, [len(FIRST_NAMES), len(LAST_NAMES)])
    return f"concat_ws(' ', {_at(FIRST_NAMES, i1)}, {_at(LAST_NAMES, i2)})"


def gen_company(id_sql: str, seed: int, salt: str) -> str:
    """'<Word> <Word> A.S.' — company-name shape (run_engine.py:62)."""
    i1, i2, i3 = _packed(
        id_sql, seed, salt, [len(WORDS), len(WORDS), len(COMPANY_SUFFIXES)], k=2
    )
    return (
        f"concat_ws(' ', initcap({_at(WORDS, i1)}),"
        f" initcap({_at(WORDS, i2)}), {_at(COMPANY_SUFFIXES, i3)})"
    )


def gen_email(id_sql: str, seed: int, salt: str) -> str:
    """Deterministic composition (G8): first.last<n>@domain. The
    first.last pair is ONE pick from the precomposed 20×20 pair bank —
    the same joint distribution as two independent picks, at one hash
    reference instead of two."""
    pair, num, dom = _packed(
        id_sql, seed, salt, [len(_EMAIL_PAIRS), 100, len(DOMAINS)], k=5
    )
    return (
        f"concat({_at(_EMAIL_PAIRS, pair)},"
        f" CAST({num} AS STRING), '@', {_at(DOMAINS, dom)})"
    )


def gen_phone(id_sql: str, seed: int, salt: str) -> str:
    """'+90 5## ### ## ##' Turkish-mobile shape: one 9-digit draw,
    grouped 2-3-2-2 by a dot-pattern regexp — a single hash reference."""
    nine = f"lpad(CAST(pmod({_h(id_sql, seed, salt, 1)}, {_qi(10 ** 9)}) AS STRING), 9, '0')"
    return (
        f"concat('+90 5', regexp_replace({nine},"
        f" '(..)(...)(..)(..)', '$1 $2 $3 $4'))"
    )


def gen_iban(id_sql: str, seed: int, salt: str) -> str:
    """Valid Turkish IBAN: TR + mod-97 check digits + 22-digit BBAN.

    The BBAN is two 11-digit packed halves A and B; the ISO 7064 check
    over the rearranged 28-digit number N = (A·10^11 + B)·10^6 + 292700
    folds to constant-size modular arithmetic,
        N mod 97 = (A%97·(10^17%97) + B%97·(10^6%97) + 292700%97) % 97,
    instead of a 28-step per-digit textual fold — the fold form generated
    >160 KB of Java for ONE column and pushed wide projections past
    janino's 64 KB method limit. Valid AND reproducible, unlike the
    reference's nondeterministic Faker output."""
    e11 = 10**11
    a = f"pmod({_h(id_sql, seed, salt, 0)}, {_qi(e11)})"
    b = f"pmod({_h(id_sql, seed, salt, 1)}, {_qi(e11)})"
    c_a, c_b, c_0 = (10**17) % 97, (10**6) % 97, 292700 % 97
    m = f"pmod(((pmod({a}, 97) * {c_a}) + (pmod({b}, 97) * {c_b}) + {c_0}), 97)"
    return (
        f"concat('TR', lpad(CAST((98 - {m}) AS STRING), 2, '0'),"
        f" lpad(CAST({a} AS STRING), 11, '0'),"
        f" lpad(CAST({b} AS STRING), 11, '0'))"
    )


def gen_ean13(id_sql: str, seed: int, salt: str) -> str:
    """Valid EAN-13 barcode: 12 data digits + standard check digit
    (odd positions weight 1, even weight 3, mod 10). Digits come from
    two packed 6-digit halves; the checksum reads each digit with a
    constant-size DIV/MOD instead of a per-digit hash draw."""
    e6 = 10**6
    a = f"pmod({_h(id_sql, seed, salt, 0)}, {_qi(e6)})"
    b = f"pmod({_h(id_sql, seed, salt, 1)}, {_qi(e6)})"
    terms = []
    for i in range(12):
        half, p = (a, 5 - i) if i < 6 else (b, 11 - i)
        w = 1 if i % 2 == 0 else 3
        d = f"pmod(({half} DIV {10 ** p}), 10)" if p else f"pmod({half}, 10)"
        terms.append(f"({d} * {w})" if w > 1 else d)
    check = f"pmod((10 - pmod(({' + '.join(terms)}), 10)), 10)"
    return (
        f"concat(lpad(CAST({a} AS STRING), 6, '0'),"
        f" lpad(CAST({b} AS STRING), 6, '0'), CAST({check} AS STRING))"
    )


def gen_address(id_sql: str, seed: int, salt: str) -> str:
    i1, i2, num, i3 = _packed(
        id_sql, seed, salt,
        [len(WORDS), len(STREET_WORDS), 200, len(CITIES)], k=7,
    )
    return (
        f"concat_ws(' ', initcap({_at(WORDS, i1)}),"
        f" {_at(STREET_WORDS, i2)},"
        f" concat('No:', CAST(({num} + 1) AS STRING)),"
        f" {_at(CITIES, i3)})"
    )


def gen_city(id_sql: str, seed: int, salt: str) -> str:
    return _pick(id_sql, seed, salt, CITIES)


def gen_country(id_sql: str, seed: int, salt: str) -> str:
    return _pick(id_sql, seed, salt, COUNTRIES)


def gen_url(id_sql: str, seed: int, salt: str) -> str:
    return f"concat('https://www.', {_pick(id_sql, seed, salt, DOMAINS)}, '/')"


def gen_word(id_sql: str, seed: int, salt: str) -> str:
    """Title-cased single word (run_engine.py:201-202)."""
    return f"initcap({_pick(id_sql, seed, salt, WORDS)})"


def gen_sentence(id_sql: str, seed: int, salt: str, n_words: int = 10) -> str:
    """n-word sentence (G10; fake.sentence(nb_words), run_engine.py:68).

    Two bank picks — a capitalized head fragment and a '.'-terminated
    tail fragment from the precomposed banks — plus ONE per-row lexified
    word in the middle assemble the whole sentence from a single packed
    draw; the per-word unrolled form cost ~5 KB of generated Java PER
    WORD and pushed wide tables past janino's method limit. The mid
    word spans 26⁵ ≈ 11.9M values, so sentence cardinality per column
    is 256·26⁵·256 ≈ 7.8·10¹¹ and keeps growing with the table instead
    of saturating at the 65,536 bank pairs (the r9 advisor note:
    bank-only composition made multi-million-row description columns
    duplicate-heavy, skewing any dedup/similarity run over generated
    text). Codegen cost is one conv+translate on the already-shared
    hash subtree — constant, fallback-safe."""
    if n_words <= 1:
        i0, = _packed(id_sql, seed, salt, [len(WORDS)], k=20)
        return f"concat(initcap({_at(WORDS, i0)}), '.')"
    mid_span = 26**5
    if n_words == 2:
        hi, mi = _packed(id_sql, seed, salt, [len(WORDS), mid_span], k=20)
        return f"concat(initcap({_at(WORDS, hi)}), ' ', {_lex_chars(mi, 5)}, '.')"
    tail_len = n_words // 2
    head = _sentence_bank(n_words - tail_len - 1, "head")
    tail = _sentence_bank(tail_len, "tail")
    hi, mi, ti = _packed(
        id_sql, seed, salt, [len(head), mid_span, len(tail)], k=20
    )
    return (
        f"concat({_at(head, hi)}, ' ', {_lex_chars(mi, 5)},"
        f" ' ', {_at(tail, ti)})"
    )


def gen_product_name(id_sql: str, seed: int, salt: str) -> str:
    """adjective + noun composition (G11; run_engine.py:71-72)."""
    i1, i2 = _packed(id_sql, seed, salt, [len(ADJECTIVES), len(NOUNS)], k=1)
    return f"concat_ws(' ', {_at(ADJECTIVES, i1)}, {_at(NOUNS, i2)})"
