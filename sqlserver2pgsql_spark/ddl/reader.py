"""DDL dump reader: encoding sniff + cleaning + statement grouping.

Reference B1/B2 (sqlserver2pgsql.pl:1358-1402, 1515-1532): SSMS "Generate
Scripts" output is frequently UTF-16; the reference guesses encoding over the
whole file and strips BOM/CR/block-comments, and unwraps
``EXEC sp_executesql N'...'``.

Statement grouping here is structural rather than line-regex-driven: lines
are grouped into statements by ``GO`` separators plus statement-start
keywords at paren depth 0 (string-literal-aware, see
:mod:`sqlserver2pgsql_spark.scan`), which handles SSMS dumps that omit GO
between statements.
"""

from __future__ import annotations

import re

from ..scan import depth_delta, strip_comments

_STMT_START = re.compile(
    r"^\s*(CREATE|ALTER|EXEC(UTE)?|USE|SET|GRANT|DENY|REVOKE|IF|BEGIN|END|"
    r"DECLARE|PRINT|DROP|INSERT|UPDATE|DELETE|:setvar)\b",
    re.IGNORECASE,
)


def read_dump(path: str) -> str:
    with open(path, "rb") as f:
        raw = f.read()
    if raw.startswith(b"\xff\xfe") or raw.startswith(b"\xfe\xff"):
        return raw.decode("utf-16")
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8")
    # UTF-16 without BOM: NUL bytes are a giveaway
    if b"\x00" in raw[:200]:
        return raw.decode("utf-16-le" if raw[1:2] == b"\x00" else "utf-16-be")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("iso8859-15")  # the reference's fallback (:1522)


_SP_EXECUTESQL = re.compile(
    r"^\s*EXEC(UTE)?\s+(sys\.)?sp_executesql\s+N?'(?P<body>.*)'\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GO = re.compile(r"GO(\s*;)?", re.IGNORECASE)


def clean_statements(text: str) -> list[str]:
    """Cleaned text → list of statement strings (GO separators removed)."""
    text = text.replace("\r\n", "\n").replace("\r", "\n").lstrip("﻿")
    text = strip_comments(text)

    statements: list[str] = []
    cur: list[str] = []
    depth = 0

    def flush() -> None:
        nonlocal cur, depth
        stmt = "\n".join(cur).strip()
        if stmt:
            m = _SP_EXECUTESQL.match(stmt)
            if m:  # unwrap dynamic SQL (reference :1379-1390)
                stmt = m.group("body").replace("''", "'")
            statements.append(stmt)
        cur = []
        depth = 0

    for line in text.split("\n"):
        stripped = line.strip()
        if _GO.fullmatch(stripped):
            flush()
            continue
        if depth == 0 and cur and _STMT_START.match(line):
            flush()
        cur.append(line)
        # clamp at 0: the corpus contains unbalanced parens (reg_tests.sql
        # 'WHERE ((ID) > 10))') that must not poison later statements
        depth = max(0, depth + depth_delta(line))
    flush()
    return statements
