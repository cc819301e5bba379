"""Seeded T-SQL dump with the shape of the 85-table ERP schema census.

The dump is rendered here, not through ``sources.ddl.schema_to_ddl``, so a
change to the program's DDL code cannot change the benchmark's input. The
table set, key structure and per-table type mix are fixed; the seed only
permutes the order of each table's non-key columns. Shape (SURVEY.md
§1.2-1.3):

- 85 tables; the type counts 610 nvarchar (64 of them ``max``), 223
  uniqueidentifier, 181 numeric(25,6), 141 int, 112 smallint, 53 timestamp
  (rowversion), 42 date, 25 bit, 20 real, 20 datetime2(7), 1 bigint,
  1 time(7), 1 varbinary(max), plus one computed column: 1,431 columns as
  the parser counts them;
- 5 composite PKs, 4 identity PKs, natural-code PKs (Ulke, Il, Ilce,
  VergiDairesi) and 72 uniqueidentifier PKs;
- 131 FKs (19 ON DELETE CASCADE), including natural-key references and
  the two CariHesap self-loops;
- the table-per-type subtype chains (shared-PK FKs);
- 31 unique indexes, 7 of them filtered;
- widest tables StokHareket 94, CariHesap 87, CariHareket 76 columns.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

N_TABLES = 85
N_COLUMNS = 1431
N_FKS = 131
N_CASCADE = 19
N_COMPOSITE_PKS = 5
N_IDENTITY_PKS = 4
N_UNIQUE_INDEXES = 31
N_FILTERED_INDEXES = 7
TYPE_COUNTS = {
    "nvarchar": 610,
    "uniqueidentifier": 223,
    "numeric": 181,
    "int": 141,
    "smallint": 112,
    "timestamp": 53,
    "date": 42,
    "bit": 25,
    "real": 20,
    "datetime2": 20,
    "bigint": 1,
    "time": 1,
    "varbinary": 1,
}
N_NVARCHAR_MAX = 64
WIDEST = {
    "StokHareket": 94, "CariHesap": 87, "CariHareket": 76,
    "FiyatListeDetay": 71, "StokFiyat": 64, "Stok": 56,
}
SUBTYPES = {  # child -> parent; the child's PK is an FK to the parent's PK
    "CariBelge": "BelgeBaslik", "SatisBelge": "BelgeBaslik", "StokBelge": "BelgeBaslik",
    "FaturaBelge": "SatisBelge", "IrsaliyeBelge": "SatisBelge",
    "SiparisBelge": "SatisBelge", "TeklifBelge": "SatisBelge",
    "EArsivFatura": "FaturaBelge",
    "SiparisHareket": "StokHareket", "TeklifHareket": "StokHareket",
    "KarmaKoli": "Stok", "CariBankaTeminat": "CariBelge",
}
IDENTITY_TABLES = ["AspNetRoleClaims", "AspNetUserClaims", "Banka", "IslemLog"]
NATURAL = {"Ulke": "NumKod", "Il": "Kod", "Ilce": "Kod", "VergiDairesi": "Kod"}
# Non-subtype tables that are not keyed by a uniqueidentifier Id, with
# their hand-placed key columns and FKs.
_GENERIC = [
    "AspNetUsers", "AspNetRoles", "Doviz", "Birim", "Depo", "Sube", "Kullanici",
    "Proje", "MasrafMerkezi", "OdemePlani", "Personel", "Kasa", "BankaHesap",
    "CekSenet", "HesapPlani", "MuhasebeFis", "MuhasebeFisDetay", "StokGrup",
    "StokKategori", "Marka", "Barkod", "FiyatListe", "Kampanya",
    "KampanyaDetay", "Sevkiyat", "SevkiyatDetay", "Tahsilat", "Odeme",
    "CariAdres", "CariIletisim", "CariGrup", "CariBanka", "SatisTemsilci",
    "Bolge", "Rota", "Arac", "Sofor", "Vardiya", "UretimEmri", "UretimRecete",
    "ReceteDetay", "IsMerkezi", "Operasyon", "KaliteKontrol", "SayimFis",
    "SayimDetay", "TransferFis", "TransferDetay", "FaturaDetay", "SiparisDetay",
    "BankaEntegrasyon",
    "SysMuhasebeEntegrasyonuAraTablo", "Dokuman",
]


@dataclass
class Col:
    name: str
    type: str  # one of TYPE_COUNTS, or "computed"
    args: str = ""
    nullable: bool = True
    identity: bool = False


@dataclass
class Table:
    name: str
    cols: list[Col] = field(default_factory=list)
    pk: list[str] = field(default_factory=list)
    fks: list[tuple[str, str, str, bool]] = field(default_factory=list)  # col, parent, pcol, cascade
    width: int = 0

    def has(self, name: str) -> bool:
        return any(c.name == name for c in self.cols)


def _census() -> list[Table]:
    """The fixed table structure: keys, FKs and type mix (no seed)."""
    rng = random.Random(20240917)
    names = (
        ["Ulke", "Il", "Ilce", "VergiDairesi"] + IDENTITY_TABLES
        + ["AspNetUserLogins", "AspNetUserRoles", "AspNetUserTokens", "Referans", "sysParams"]
        + ["BelgeBaslik", "CariHesap", "CariHareket", "FiyatListeDetay", "StokFiyat", "Stok", "StokHareket"]
        + [c for c in SUBTYPES if c not in ("SatisBelge",)] + ["SatisBelge"]
        + _GENERIC
    )
    names = list(dict.fromkeys(names))
    assert len(names) == N_TABLES, len(names)
    T = {n: Table(n) for n in names}
    pool = dict(TYPE_COUNTS)

    def add(t: str, name: str, typ: str, args: str = "", nullable: bool = True, identity: bool = False):
        pool[typ] -= 1
        T[t].cols.append(Col(name, typ, args, nullable, identity))

    def fk(t: str, col: str, parent: str, pcol: str, cascade: bool = False):
        T[t].fks.append((col, parent, pcol, cascade))

    # primary keys
    for t, k in NATURAL.items():
        add(t, k, "nvarchar", "(3)", nullable=False)
        T[t].pk = [k]
    for t in IDENTITY_TABLES:
        add(t, "Id", "int", nullable=False, identity=True)
        T[t].pk = ["Id"]
    add("AspNetUserLogins", "LoginProvider", "nvarchar", "(128)", nullable=False)
    add("AspNetUserLogins", "ProviderKey", "nvarchar", "(128)", nullable=False)
    T["AspNetUserLogins"].pk = ["LoginProvider", "ProviderKey"]
    add("AspNetUserRoles", "UserId", "uniqueidentifier", nullable=False)
    add("AspNetUserRoles", "RoleId", "uniqueidentifier", nullable=False)
    T["AspNetUserRoles"].pk = ["UserId", "RoleId"]
    add("AspNetUserTokens", "UserId", "uniqueidentifier", nullable=False)
    add("AspNetUserTokens", "LoginProvider", "nvarchar", "(128)", nullable=False)
    add("AspNetUserTokens", "Name", "nvarchar", "(128)", nullable=False)
    T["AspNetUserTokens"].pk = ["UserId", "LoginProvider", "Name"]
    add("Referans", "TenantId", "uniqueidentifier", nullable=False)
    add("Referans", "Kod", "nvarchar", "(20)", nullable=False)
    add("Referans", "TipId", "int", nullable=False)
    T["Referans"].pk = ["TenantId", "Kod", "TipId"]
    add("sysParams", "TenantId", "uniqueidentifier", nullable=False)
    add("sysParams", "Section", "nvarchar", "(50)", nullable=False)
    add("sysParams", "Entry", "nvarchar", "(50)", nullable=False)
    T["sysParams"].pk = ["TenantId", "Section", "Entry"]
    for t in T.values():
        if not t.pk:
            add(t.name, "Id", "uniqueidentifier", nullable=False)
            t.pk = ["Id"]

    # hand-placed FKs: natural keys, AspNet, self-loops, subtypes
    add("Il", "UlkeNumKod", "nvarchar", "(3)", nullable=False)
    fk("Il", "UlkeNumKod", "Ulke", "NumKod")
    add("Ilce", "IlKod", "nvarchar", "(3)", nullable=False)
    fk("Ilce", "IlKod", "Il", "Kod")
    add("VergiDairesi", "IlKod", "nvarchar", "(3)", nullable=False)
    fk("VergiDairesi", "IlKod", "Il", "Kod")
    add("Banka", "UlkeNumKod", "nvarchar", "(3)", nullable=False)
    fk("Banka", "UlkeNumKod", "Ulke", "NumKod")
    for c, p in (("VergiDairesiKod", "VergiDairesi"), ("IlceKod", "Ilce"), ("UlkeNumKod", "Ulke")):
        add("CariHesap", c, "nvarchar", "(3)")
        fk("CariHesap", c, p, NATURAL[p])
    for c in ("FaturaHesapId", "MusterekHesapId"):
        add("CariHesap", c, "uniqueidentifier")
        fk("CariHesap", c, "CariHesap", "Id")
    add("AspNetRoleClaims", "RoleId", "uniqueidentifier", nullable=False)
    fk("AspNetRoleClaims", "RoleId", "AspNetRoles", "Id", True)
    add("AspNetUserClaims", "UserId", "uniqueidentifier", nullable=False)
    fk("AspNetUserClaims", "UserId", "AspNetUsers", "Id", True)
    add("AspNetUserLogins", "UserId", "uniqueidentifier", nullable=False)
    fk("AspNetUserLogins", "UserId", "AspNetUsers", "Id", True)
    fk("AspNetUserRoles", "UserId", "AspNetUsers", "Id", True)
    fk("AspNetUserRoles", "RoleId", "AspNetRoles", "Id", True)
    fk("AspNetUserTokens", "UserId", "AspNetUsers", "Id", True)
    for child, parent in SUBTYPES.items():
        fk(child, "Id", parent, "Id", True)
    for t in ("BankaHesap", "BankaEntegrasyon"):
        add(t, "BankaId", "int", nullable=False)
        fk(t, "BankaId", "Banka", "Id")
    add("SatisBelge", "Saat", "time", "(7)")
    add("BankaEntegrasyon", "RowVersion", "varbinary", "(max)", nullable=False)
    add("SysMuhasebeEntegrasyonuAraTablo", "MaddeNo", "bigint", nullable=False)

    # the remaining FKs: uniqueidentifier references from generic tables to
    # tables earlier in a fixed rank, which keeps the graph acyclic and a
    # handful of levels deep
    rank = {n: i for i, n in enumerate(names)}
    uuid_parents = [n for n in names if T[n].pk == ["Id"] and n not in IDENTITY_TABLES]
    children = [n for n in names if n not in NATURAL and n not in IDENTITY_TABLES
                and n not in ("AspNetUserLogins", "AspNetUserRoles", "AspNetUserTokens",
                              "Referans", "sysParams", "AspNetUsers", "AspNetRoles")]
    n_left = N_FKS - sum(len(t.fks) for t in T.values())
    fan = {n: 1 for n in children}
    for n in ("CariHareket", "StokHareket", "FiyatListeDetay", "StokFiyat"):
        fan[n] = 5
    i = 0
    while n_left > 0:
        child = children[i % len(children)]
        i += 1
        if sum(1 for f in T[child].fks if f[1] != child) >= fan[child] + (i // len(children)):
            continue
        cands = [p for p in uuid_parents if rank[p] < rank[child] and p != child
                 and p not in SUBTYPES and not any(f[1] == p for f in T[child].fks)]
        if not cands:
            continue
        parent = rng.choice(cands)
        col = f"{parent}Id"
        add(child, col, "uniqueidentifier", nullable=rng.random() < 0.5)
        fk(child, col, parent, "Id", sum(f[3] for t in T.values() for f in t.fks) < N_CASCADE)
        n_left -= 1

    # TenantId on as many tables as the uniqueidentifier budget allows
    for t in names:
        if pool["uniqueidentifier"] == 0:
            break
        if not T[t].has("TenantId"):
            add(t, "TenantId", "uniqueidentifier", nullable=False)
    # one rowversion column on 53 tables
    for t in names[: TYPE_COUNTS["timestamp"]]:
        add(t, "RowVersion", "timestamp", nullable=False)
    T["CariHareket"].cols.append(Col("Bakiye", "computed"))

    # widths: the six widest are fixed, the rest share what is left
    rest = [n for n in names if n not in WIDEST]
    budget = N_COLUMNS - sum(WIDEST.values())
    for n, w in WIDEST.items():
        T[n].width = w
    floor = {n: len(T[n].cols) + 1 for n in rest}
    weights = {n: rng.uniform(0.4, 1.6) for n in rest}
    spare = budget - sum(floor.values())
    tot_w = sum(weights.values())
    for n in rest:
        T[n].width = floor[n] + int(spare * weights[n] / tot_w)
    short = budget - sum(T[n].width for n in rest)
    for j in range(short):
        T[rest[j % len(rest)]].width += 1

    # unique business keys: a NOT NULL Kod column on 31 tables
    uniq_tables = ["Banka"] + [n for n in rest if n != "Banka"
                              and not T[n].has("Kod") and n not in NATURAL
                              and len(T[n].pk) == 1][: N_UNIQUE_INDEXES - 1]
    for n in uniq_tables:
        add(n, "Kod", "nvarchar", "(20)", nullable=False)

    # fill every table to its width from the shuffled filler pool
    fill: list[str] = [t for t, k in pool.items() for _ in range(k)]
    rng.shuffle(fill)
    n_max = N_NVARCHAR_MAX
    prefix = {
        "nvarchar": "Aciklama", "uniqueidentifier": "RefId", "numeric": "Tutar",
        "int": "Tip", "smallint": "Durum", "date": "Tarih", "bit": "Aktif",
        "real": "Oran", "datetime2": "Zaman",
    }
    for n in names:
        t = T[n]
        k = 0
        while len(t.cols) < t.width:
            typ = fill.pop()
            args = ""
            if typ == "nvarchar":
                if n_max > 0:
                    args, n_max = "(max)", n_max - 1
                else:
                    args = f"({rng.choice((20, 50, 100, 200))})"
            elif typ == "numeric":
                args = "(25, 6)"
            elif typ == "datetime2":
                args = "(7)"
            k += 1
            t.cols.append(Col(f"{prefix[typ]}{k}", typ, args))
    assert not fill and n_max == 0, (len(fill), n_max)
    t_by = list(T.values())
    for t in t_by:
        t.unique = [["UlkeNumKod", "Kod"]] if t.name == "Banka" else (
            [["TenantId", "Kod"] if t.has("TenantId") else ["Kod"]] if t.name in uniq_tables else [])
    return t_by


def _col_sql(c: Col) -> str:
    if c.type == "computed":
        return f"\t[{c.name}] AS ([Tutar1]-[Tutar2]),"
    ident = " IDENTITY(1,1)" if c.identity else ""
    null = "NULL" if c.nullable else "NOT NULL"
    return f"\t[{c.name}] [{c.type}]{c.args}{ident} {null},"


def render_dump(seed: int) -> str:
    """The dump as text: CREATE TABLE batches, then FKs, then unique indexes,
    separated by GO lines. ``seed`` permutes each table's non-key columns."""
    rng = random.Random(seed)
    tables = _census()
    out = ["USE [master]", "GO", "CREATE DATABASE [LINKERPFINSAT]", "GO", "USE [LINKERPFINSAT]", "GO"]
    for t in tables:
        keyset = set(t.pk) | {f[0] for f in t.fks}
        keys = [c for c in t.cols if c.name in keyset]
        rest = [c for c in t.cols if c.name not in keyset]
        rng.shuffle(rest)
        lines = [f"CREATE TABLE [dbo].[{t.name}]("]
        lines += [_col_sql(c) for c in keys + rest]
        pk = ", ".join(f"[{c}] ASC" for c in t.pk)
        lines.append(f" CONSTRAINT [PK_{t.name}] PRIMARY KEY CLUSTERED \n(\n\t{pk}\n)"
                     " WITH (PAD_INDEX = OFF) ON [PRIMARY]")
        lines.append(") ON [PRIMARY]")
        out += ["SET ANSI_NULLS ON", "GO", "\n".join(lines), "GO"]
    n_cascade = 0
    for t in tables:
        for col, parent, pcol, cascade in t.fks:
            name = f"FK_{t.name}_{parent}_{col}"
            out.append(
                f"ALTER TABLE [dbo].[{t.name}]  WITH CHECK ADD  CONSTRAINT [{name}] "
                f"FOREIGN KEY([{col}])\nREFERENCES [dbo].[{parent}] ([{pcol}])"
                + ("\nON DELETE CASCADE" if cascade else "")
            )
            out += ["GO", f"ALTER TABLE [dbo].[{t.name}] CHECK CONSTRAINT [{name}]", "GO"]
            n_cascade += cascade
    assert n_cascade == N_CASCADE, n_cascade
    n_idx = 0
    for t in tables:
        for cols in t.unique:
            where = "\nWHERE ([Kod] IS NOT NULL)" if n_idx < N_FILTERED_INDEXES else ""
            n_idx += 1
            spec = ", ".join(f"[{c}] ASC" for c in cols)
            out += [f"CREATE UNIQUE NONCLUSTERED INDEX [u{t.name}{''.join(cols)}] ON "
                    f"[dbo].[{t.name}]\n(\n\t{spec}\n){where}", "GO"]
    assert n_idx == N_UNIQUE_INDEXES, n_idx
    return "\n".join(out) + "\n"


def write_dump(path: str, seed: int) -> None:
    """Write the dump as SQL Server Management Studio does: UTF-16 with BOM."""
    with open(path, "w", encoding="utf-16") as f:
        f.write(render_dump(seed))
