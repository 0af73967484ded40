"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the same
SSMS dumps, the same tables and the same drift. Sizes never depend on the
seed, so every seed asks the program for the same amount of work and only the
values change. Nothing in this module imports the program under test; the
manifests it returns are the independent expectation the output checks
compare against.
"""

from __future__ import annotations

import datetime as dt
import decimal
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa

# --------------------------------------------------------------------------
# SSMS dumps (convert workload)
# --------------------------------------------------------------------------

#: tables per dump; 20 dumps, 2,320 tables per pass, fixed for every seed.
#: The dumps ranked 10-12 and 18-20 by size are equal, so the median and the
#: 90th percentile of a pass's operations fall inside a group of equal dumps
DUMP_SIZES = (10, 15, 20, 25, 30, 40, 50, 60, 70, 80,
              80, 80, 120, 140, 160, 180, 200, 320, 320, 320)

_WORDS = ("order", "item", "client", "stock", "price", "ledger", "audit", "batch",
          "route", "vendor", "asset", "claim", "quota", "region", "ticket", "shift")

# (T-SQL type, qualifier) pairs a generated column may take
_COL_TYPES = (
    ("int", ""), ("bigint", ""), ("smallint", ""), ("tinyint", ""),
    ("nvarchar", "(50)"), ("varchar", "(120)"), ("nvarchar", "(max)"),
    ("decimal", "(18, 4)"), ("numeric", "(10, 0)"), ("money", ""),
    ("datetime2", "(7)"), ("datetime", ""), ("date", ""), ("bit", ""),
    ("uniqueidentifier", ""), ("varbinary", "(max)"), ("float", ""),
)

# T-SQL expressions a view column may use; each goes through the
# expression translator (functions.translate)
_VIEW_EXPRS = (
    "ISNULL([{s}], N'')",
    "LEN([{s}])",
    "UPPER(LTRIM(RTRIM([{s}])))",
    "DATEDIFF(day, [{d}], GETDATE())",
    "CONVERT(varchar(10), [{d}], 120)",
    "COALESCE([{n}], 0) + 1",
    "CASE WHEN [{n}] > 10 THEN N'big' ELSE N'small' END",
    "SUBSTRING([{s}], 1, 3)",
)


def _dump(rng: np.random.Generator, dump_no: int, n_tables: int) -> tuple[str, dict]:
    """One dump of ``n_tables`` tables plus its manifest of expected counts."""
    out: list[str] = []
    m = dict(tables=0, views=0, pks=0, fks=0, checks=0, indexes=0,
             partial_indexes=0, defaults=0, identities=0, renames=0,
             schemas=0)
    schemas = ["dbo"]
    if n_tables >= 40:
        schemas.append("etl")
        out.append("CREATE SCHEMA [etl]\nGO")
        m["schemas"] = 1
    tables: list[tuple[str, str, bool, list[tuple[str, str]]]] = []
    for i in range(n_tables):
        schema = schemas[i % len(schemas)]
        name = f"d{dump_no}_{_WORDS[int(rng.integers(len(_WORDS)))]}_{i}"
        has_pk = bool(rng.random() < 0.85)
        identity = has_pk and bool(rng.random() < 0.5)
        cols = [("id", "int")]
        lines = [f"    [id] [int] {'IDENTITY(1,1) ' if identity else ''}NOT NULL"]
        for c in range(int(rng.integers(3, 14))):
            tname, qual = _COL_TYPES[int(rng.integers(len(_COL_TYPES)))]
            cname = f"c{c}_{tname}"
            null = "NULL" if rng.random() < 0.6 else "NOT NULL"
            lines.append(f"    [{cname}] [{tname}]{qual} {null}")
            cols.append((cname, tname))
        if has_pk:
            lines.append(f" CONSTRAINT [pk_{name}] PRIMARY KEY CLUSTERED \n(\n    [id] ASC\n)")
            m["pks"] += 1
        m["identities"] += identity
        out.append(f"CREATE TABLE [{schema}].[{name}](\n" + ",\n".join(lines)
                   + "\n) ON [PRIMARY]\nGO")
        tables.append((schema, name, has_pk, cols))
        m["tables"] += 1

    for schema, name, has_pk, cols in tables:
        numeric = [c for c, t in cols if t in ("int", "bigint", "smallint", "decimal")]
        strings = [c for c, t in cols if t in ("nvarchar", "varchar")]
        dates = [c for c, t in cols if t in ("datetime2", "datetime", "date")]
        for c, t in cols[1:]:
            if rng.random() < 0.25:
                if t in ("int", "bigint", "smallint", "tinyint", "decimal", "money"):
                    expr = "((0))"
                elif t == "bit":
                    expr = "((1))"
                elif t in ("datetime2", "datetime"):
                    expr = "(getdate())"
                else:
                    continue
                out.append(f"ALTER TABLE [{schema}].[{name}] ADD  CONSTRAINT "
                           f"[df_{name}_{c}]  DEFAULT {expr} FOR [{c}]\nGO")
                m["defaults"] += 1
        if numeric and rng.random() < 0.5:
            c = numeric[int(rng.integers(len(numeric)))]
            out.append(f"ALTER TABLE [{schema}].[{name}]  WITH CHECK ADD  CONSTRAINT "
                       f"[ck_{name}] CHECK  (([{c}]>=(0)))\nGO")
            m["checks"] += 1
        for k in range(int(rng.integers(0, 3))):
            c = cols[1 + int(rng.integers(len(cols) - 1))][0]
            idx = f"ix_{name}_{k}"
            if k == 0 and rng.random() < 0.1:
                # an index named like a table: PostgreSQL's shared relation
                # namespace forces a rename (catalog.conflicts)
                idx = name
                m["renames"] += 1
            where = ""
            if rng.random() < 0.15:
                where = f" WHERE ([{c}] IS NOT NULL)"
                m["partial_indexes"] += 1
            else:
                m["indexes"] += 1
            out.append(f"CREATE NONCLUSTERED INDEX [{idx}] ON [{schema}].[{name}]\n"
                       f"(\n    [{c}] ASC\n){where}\nGO")
        if numeric and rng.random() < 0.2:
            # a view over this table using T-SQL scalar functions
            exprs = [f"[id] AS [id]"]
            for j in range(int(rng.integers(1, 4))):
                tpl = _VIEW_EXPRS[int(rng.integers(len(_VIEW_EXPRS)))]
                if ("{s}" in tpl and not strings) or ("{d}" in tpl and not dates):
                    continue
                e = tpl.format(s=strings[0] if strings else "",
                               d=dates[0] if dates else "", n=numeric[0])
                exprs.append(f"{e} AS [x{j}]")
            out.append(f"CREATE VIEW [{schema}].[v_{name}] AS\nSELECT "
                       + ", ".join(exprs) + f"\nFROM [{schema}].[{name}]\nGO")
            m["views"] += 1

    # foreign keys: each to an earlier table of the same dump that has a PK
    parents = [(s, n) for s, n, pk, _ in tables if pk]
    for schema, name, _, cols in tables[1:]:
        if parents and rng.random() < 0.4:
            ps, pn = parents[int(rng.integers(len(parents)))]
            if pn == name:
                continue
            out.append(f"ALTER TABLE [{schema}].[{name}]  WITH CHECK ADD  CONSTRAINT "
                       f"[fk_{name}_{pn}] FOREIGN KEY([id])\nREFERENCES [{ps}].[{pn}] ([id])\nGO")
            m["fks"] += 1
    return "\n".join(out) + "\n", m


def make_dumps(seed: int) -> list[tuple[str, dict]]:
    rng = np.random.default_rng([seed, 1])
    return [_dump(rng, k, n) for k, n in enumerate(DUMP_SIZES)]


# --------------------------------------------------------------------------
# Tables (load, sync and queries workloads)
# --------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("cold", "small", "large", "red", "shiny", "old", "new", "dark")
_PART_NOUN = ("widget", "bolt", "gear", "pipe", "valve", "spring", "nut", "plate")
_PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_DOC_WORDS = ("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
              "small", "slow", "merge", "order", "vector", "line", "table", "data",
              "agg", "value", "key", "stream", "window", "a", "spark", "part",
              "group", "big", "sort", "query", "fast", "the")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")

#: rows per table; ``queries`` uses SMALL (about TPC-H sf0.001), ``load``
#: and ``sync`` use DB (orders and lineitem of about sf0.005) plus the
#: type-matrix tables below. region, nation, orders and lineitem are always
#: made; another table only when named here
SMALL = dict(customer=150, supplier=10, part=200, orders=1500, events=1000,
             documents=500, embeddings=500)
DB = dict(orders=7500)

_DAY0_1995 = np.datetime64("1995-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sizes: dict) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables with the fixture schemas the registered queries
    read: region, nation, orders and lineitem, and customer, supplier, part,
    events, documents and embeddings when ``sizes`` names them. Keys into a
    table that is not made follow TPC-H's cardinality ratios."""
    rng = np.random.default_rng([seed, 2])
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n_cust = sizes.get("customer", sizes["orders"] // 10)
    n_supp = sizes.get("supplier", n_cust // 15)
    n_part = sizes.get("part", n_cust * 4 // 3)
    if "customer" in sizes:
        n = n_cust
        t["customer"] = pd.DataFrame({
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)]})
    if "supplier" in sizes:
        n = n_supp
        t["supplier"] = pd.DataFrame({
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if "part" in sizes:
        n = n_part
        t["part"] = pd.DataFrame({
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n) % 200) * 0.1, 2)})
    n = sizes["orders"]
    odays = rng.integers(0, 2404, n)
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _DAY0_1995 + odays.astype("timedelta64[D]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)]})
    # 1-7 lines per order in a seeded order, (l_orderkey, l_linenumber)
    # unique; the multiset of line counts, so the row count, is fixed
    lines = rng.permutation(np.resize(np.arange(1, 8, dtype=np.int64), n))
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, m).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, m).astype(np.int64),
        "l_linenumber": (np.arange(m) - start + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, m)],
        "l_shipdate": (_DAY0_1995 + (np.repeat(odays, lines) + rng.integers(1, 122, m))
                       .astype("timedelta64[D]"))})
    if "events" in sizes:
        n = sizes["events"]
        ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
        t["events"] = pd.DataFrame({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, n // 67), n).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": _money(rng, 0.01, 330.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if "documents" in sizes:
        n = sizes["documents"]
        texts = []
        for i in range(n):
            if i >= 10 and rng.random() < 0.1:
                # near duplicate of an earlier document: the dedup and
                # clustering queries have something to find
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(len(words)))] = "dup"
            else:
                words = list(np.array(_DOC_WORDS)[rng.integers(0, 30, int(rng.integers(8, 90)))])
            texts.append(" ".join(words))
        t["documents"] = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 7, n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    if "embeddings" in sizes:
        n = sizes["embeddings"]
        centers = rng.normal(0, 1, (10, 64))
        label = rng.integers(0, 10, n)
        vec = centers[label] + rng.normal(0, 0.6, (n, 64))
        vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
        t["embeddings"] = pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec),
            "label": label.astype(np.int32)})
    return t


def _nul_strings(rng, n: int, width: int) -> list:
    """nvarchar payloads with embedded NUL bytes, empty strings and NULLs:
    the cleanse operator's whole job."""
    kind = rng.integers(0, 100, n)
    lens = rng.integers(1, width, n)
    ends = np.cumsum(lens)
    letters = (rng.integers(0, 26, int(ends[-1])) + 97).astype(np.uint8).tobytes().decode()
    cut = rng.random(n)
    out: list = []
    for k, end, ln, c in zip(kind.tolist(), ends.tolist(), lens.tolist(), cut.tolist()):
        if k < 8:
            out.append(None)
        elif k < 12:
            out.append("")
        else:
            s = letters[end - ln:end]
            if k < 30:
                p = int(c * (ln + 1))
                s = s[:p] + "\x00" + s[p:]
            out.append(s)
    return out


def _uuids(rng, n: int) -> list[str]:
    return [str(uuid.UUID(bytes=bytes(b))) for b in rng.integers(0, 256, (n, 16), dtype=np.uint8)]


#: the type-matrix tables: (rows, primary key or None)
TYPE_TABLES = dict(tm_accounts=(5000, "id"), tm_blobs=(2000, "blob_id"),
                   tm_audit=(3000, None), tm_devices=(1000, "uid"))


def type_tables(seed: int) -> dict[str, pd.DataFrame]:
    """Small tables covering the type matrix: uniqueidentifier, nvarchar with
    NUL bytes, datetime2, decimal, varbinary and bit. ``tm_audit`` has no
    primary key, so a sync reloads it in full."""
    rng = np.random.default_rng([seed, 3])
    t: dict[str, pd.DataFrame] = {}
    n = TYPE_TABLES["tm_accounts"][0]
    t["tm_accounts"] = pd.DataFrame({
        "id": np.arange(n, dtype=np.int32),
        "uid": _uuids(rng, n),
        "name": _nul_strings(rng, n, 40),
        "balance": [decimal.Decimal(int(x)).scaleb(-4) for x in rng.integers(-10**9, 10**9, n)],
        "active": rng.random(n) < 0.7,
        "created": np.datetime64("2020-01-01", "us")
        + rng.integers(0, 10**15, n).astype("timedelta64[us]")})
    n = TYPE_TABLES["tm_blobs"][0]
    t["tm_blobs"] = pd.DataFrame({
        "blob_id": np.arange(n, dtype=np.int64) * 7,
        "payload": [bytes(rng.integers(0, 256, int(rng.integers(0, 200)), dtype=np.uint8))
                    for _ in range(n)],
        "checksum": rng.integers(-2**31, 2**31, n).astype(np.int32),
        "note": _nul_strings(rng, n, 20)})
    n = TYPE_TABLES["tm_audit"][0]
    t["tm_audit"] = pd.DataFrame({
        "ts": np.datetime64("2023-06-01", "us")
        + np.sort(rng.integers(0, 10**13, n)).astype("timedelta64[us]"),
        "actor": _nul_strings(rng, n, 12),
        "action": np.array(["insert", "update", "delete", "grant"])[rng.integers(0, 4, n)],
        "amount": [decimal.Decimal(int(x)).scaleb(-2) for x in rng.integers(0, 10**7, n)]})
    n = TYPE_TABLES["tm_devices"][0]
    t["tm_devices"] = pd.DataFrame({
        "uid": _uuids(rng, n),
        "online": rng.random(n) < 0.5,
        "score": np.round(rng.normal(50, 10, n), 3),
        "label": _nul_strings(rng, n, 30)})
    return t


_ARROW_TYPES = dict(balance=pa.decimal128(18, 4), amount=pa.decimal128(10, 2))


def to_arrow(df: pd.DataFrame) -> pa.Table:
    fields = []
    for c in df.columns:
        if c in _ARROW_TYPES:
            fields.append(pa.field(c, _ARROW_TYPES[c]))
        elif c == "embedding":
            fields.append(pa.field(c, pa.list_(pa.float32())))
        elif c == "payload":
            fields.append(pa.field(c, pa.binary()))
        else:
            fields.append(pa.field(c, pa.Array.from_pandas(df[c]).type))
    return pa.Table.from_pandas(df, schema=pa.schema(fields), preserve_index=False)


#: the migrated database's tables and their primary keys (PK-less tables
#: reload in full)
DB_KEYS = dict(orders=["o_orderkey"], lineitem=["l_orderkey", "l_linenumber"], tm_accounts=["id"],
               tm_blobs=["blob_id"], tm_audit=None, tm_devices=["uid"])

_TSQL = {"int32": "[int]", "int64": "[bigint]", "float64": "[float]", "bool": "[bit]",
         "datetime64[us]": "[datetime2](7)", "datetime64[ns]": "[datetime2](7)"}
_TSQL_COL = dict(uid="[uniqueidentifier]", balance="[decimal](18, 4)",
                 amount="[decimal](10, 2)", payload="[varbinary](max)")


def database(seed: int) -> dict[str, pd.DataFrame]:
    """The migrated database: TPC-H-shaped tables and the type matrix, in
    ``DB_KEYS`` order."""
    t = tpch_tables(seed, DB)
    t.update(type_tables(seed))
    return {k: t[k] for k in DB_KEYS}


def database_ddl(tables: dict[str, pd.DataFrame]) -> str:
    """The SSMS dump describing ``tables``: what a migration parses first."""
    out = []
    for name, df in tables.items():
        cols = []
        for c in df.columns:
            ty = _TSQL_COL.get(c) or _TSQL.get(str(df[c].dtype), "[nvarchar](200)")
            key = DB_KEYS[name] and c in DB_KEYS[name]
            cols.append(f"    [{c}] {ty} {'NOT NULL' if key else 'NULL'}")
        if DB_KEYS[name]:
            keys = ", ".join(f"[{k}] ASC" for k in DB_KEYS[name])
            cols.append(f" CONSTRAINT [pk_{name}] PRIMARY KEY CLUSTERED ({keys})")
        out.append(f"CREATE TABLE [dbo].[{name}](\n" + ",\n".join(cols) + "\n) ON [PRIMARY]\nGO")
    return "\n".join(out) + "\n"


def drift(seed: int, tables: dict[str, pd.DataFrame]) -> tuple[dict[str, pd.DataFrame], dict]:
    """The source after a seeded drift. In each PK table 1% of rows change a
    value, 0.5% are deleted and 0.5% are inserted with new keys; PK-less
    tables are regenerated in full. Returns the drifted tables and, per PK
    table, the diff flag counts the drift implies."""
    rng = np.random.default_rng([seed, 4])
    out: dict[str, pd.DataFrame] = {}
    flags: dict[str, dict[str, int]] = {}
    fresh = type_tables(seed + 1_000_003)
    for name, df in tables.items():
        keys = DB_KEYS[name]
        if not keys:
            out[name] = fresh[name]
            continue
        n = len(df)
        n_upd, n_del, n_ins = max(1, n // 100), max(1, n // 200), max(1, n // 200)
        pick = rng.permutation(n)
        upd, dele = pick[:n_upd], pick[n_upd:n_upd + n_del]
        value_cols = [c for c in df.columns if c not in keys]
        col = value_cols[0]
        new = df.copy()
        new[col] = new[col].astype(object)
        new.loc[upd, col] = [_changed(v, rng) for v in df[col].iloc[upd]]
        new[col] = new[col].astype(df[col].dtype) if df[col].dtype != object else new[col]
        ins = df.iloc[rng.choice(n, n_ins, replace=False)].copy()
        ins[keys[0]] = _new_keys(df[keys[0]], n_ins, rng)
        new = pd.concat([new.drop(index=dele), ins], ignore_index=True)
        out[name] = new
        flags[name] = dict(changed=n_upd, deleted=n_del, new=n_ins,
                           identical=n - n_upd - n_del)
    return out, flags


def _changed(v, rng):
    """A value guaranteed to differ from ``v`` (also after NUL cleansing)."""
    if isinstance(v, str) or v is None:
        return (v or "").replace("\x00", "") + "~"
    if isinstance(v, (bool, np.bool_)):
        return not v
    if isinstance(v, bytes):
        return v + b"\x01"
    if isinstance(v, decimal.Decimal):
        return v + 1
    if isinstance(v, (np.datetime64, pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v) + pd.Timedelta(seconds=1)
    return v + 1


def _new_keys(col: pd.Series, k: int, rng) -> list:
    if col.dtype == object:  # uuid strings
        return _uuids(rng, k)
    top = int(col.max())
    return (np.arange(1, k + 1) + top).astype(col.dtype)
