"""Identifier pipeline (reference B12, sqlserver2pgsql.pl:527-571) and the
schema relabeler (B14, :716-751).

Modes: 'lower' (default — MSSQL is case-insensitive, normalize down),
'keep', 'snake' (camelCase → snake_case). Spark has no 63-byte identifier
limit; the warning is kept for the PG-DDL sink only.
"""

from __future__ import annotations

import re

from ..scan import LITERAL

PG_MAX_IDENT = 63

_WORD_START = re.compile(r"(.)([A-Z][a-z]+)")
_CASE_CHANGE = re.compile(r"([a-z0-9])([A-Z])")


def pg_quote(name: str) -> str:
    """A PostgreSQL quoted identifier: ``"name"`` with ``"`` doubled."""
    return '"' + name.replace('"', '""') + '"'


def mssql_quote(name: str) -> str:
    """A SQL Server bracketed identifier: ``[name]`` with ``]`` doubled."""
    return "[" + name.replace("]", "]]") + "]"


def camel_to_snake(name: str) -> str:
    s = _WORD_START.sub(r"\1_\2", name)
    s = _CASE_CHANGE.sub(r"\1_\2", s)
    return s.lower()


def normalize_identifier(
    name: str, mode: str = "lower", warnings: list[str] | None = None
) -> str:
    name = name.strip()
    if mode == "lower":
        out = name.lower()
    elif mode == "snake":
        out = camel_to_snake(name)
    elif mode == "keep":
        out = name
    else:
        raise ValueError(f"unknown identifier mode: {mode}")
    out = out.replace(" ", "_")
    if warnings is not None and len(out.encode()) > PG_MAX_IDENT:
        warnings.append(
            f"identifier longer than {PG_MAX_IDENT} bytes (PostgreSQL would "
            f"truncate): {out}"
        )
    return out


def relabel_schema(schema: str, relabel: dict[str, str] | None = None) -> str:
    """dbo→public by default, plus a user map 'src=>dst;…' (reference
    :716-751). For the Spark catalog 'public' is just a namespace name."""
    mapping = {"dbo": "public"}
    if relabel:
        mapping.update(relabel)
    return mapping.get(schema, schema)


#: a qualifier in translated SQL (``dbo`` of ``dbo.customers``), after the
#: literals, whose text is never relabeled
_QUALIFIER = re.compile(rf"{LITERAL}|\b(?P<q>[A-Za-z_]\w*)(?=\.[A-Za-z_\"])")


def relabel_qualifiers(sql: str, relabel: dict[str, str] | None = None) -> str:
    """Schema qualifiers of translated SQL, relabeled as table names are
    (``dbo.customers`` → ``public.customers``, plus ``--relabel``); any
    other qualifier (a table or alias) keeps its text."""
    def sub(m: re.Match) -> str:
        q = m["q"]
        if q is None:
            return m.group()
        new = relabel_schema(q.lower(), relabel)
        return q if new == q.lower() else new

    return _QUALIFIER.sub(sub, sql)


def parse_relabel_arg(arg: str) -> dict[str, str]:
    """'a=>b;c=>d' → {'a': 'b', 'c': 'd'} (reference conf syntax)."""
    out: dict[str, str] = {}
    for part in arg.split(";"):
        part = part.strip()
        if not part:
            continue
        if "=>" not in part:
            raise ValueError(f"bad relabel spec: {part!r}")
        src, dst = part.split("=>", 1)
        out[src.strip()] = dst.strip()
    return out
