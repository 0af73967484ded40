"""Property tests for the SQL-text scanner (sqlserver2pgsql_spark/scan.py).

The reader, parser and T-SQL translator used to walk text one character at
a time in nine hand-written loops. Those loops are kept below, verbatim, as
oracles: each scanner-backed replacement must return exactly what its loop
returned, on random text over the characters that matter (quotes, parens,
separators, comment markers, ``N'`` prefixes, newlines), including
unterminated strings and comments, unbalanced parens and the error cases.

The translator's loops were not string-literal-aware; they run on text
whose literals ``_protect_literals`` has already replaced, so they are
compared on quote-free text.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sqlserver2pgsql_spark import scan
from sqlserver2pgsql_spark.ddl import parser
from sqlserver2pgsql_spark.ddl.parser import DdlParseError
from sqlserver2pgsql_spark.functions import translate

_SETTINGS = settings(max_examples=400, deadline=None)

_text = st.text(alphabet="'(),/*+\nNa ", max_size=40)
_unquoted = st.text(alphabet="(),/*+\nNa x", max_size=40)


# --- the replaced per-character loops (oracles) -------------------------------


def old_strip_block_comments(text: str) -> str:
    out: list[str] = []
    i, n = 0, len(text)
    in_str = False
    in_comment = False
    while i < n:
        ch = text[i]
        if in_comment:
            if ch == "*" and i + 1 < n and text[i + 1] == "/":
                in_comment = False
                i += 2
                continue
            i += 1
            continue
        if in_str:
            out.append(ch)
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch == "/" and i + 1 < n and text[i + 1] == "*":
            in_comment = True
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def old_depth_delta(line: str) -> int:
    depth = 0
    in_str = False
    i = 0
    while i < len(line):
        ch = line[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(line) and line[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    return depth


def old_split_top_commas(s: str) -> list[str]:
    parts, depth, cur, in_str = [], 0, [], False
    i = 0
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    cur.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def old_outer_parens(s: str, start: int = 0) -> tuple[str, int]:
    i = s.index("(", start)
    depth = 0
    in_str = False
    for j in range(i, len(s)):
        ch = s[j]
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[i + 1 : j], j + 1
    raise DdlParseError(f"unbalanced parens in: {s[:120]!r}")


def old_protect_literals(expr: str) -> tuple[str, list[str]]:
    out: list[str] = []
    lits: list[str] = []
    i = 0
    n = len(expr)
    while i < n:
        ch = expr[i]
        is_nprefix = ch in "Nn" and i + 1 < n and expr[i + 1] == "'"
        if ch == "'" or is_nprefix:
            j = i + (2 if is_nprefix else 1)
            buf = []
            while j < n:
                if expr[j] == "'" and j + 1 < n and expr[j + 1] == "'":
                    buf.append("''")
                    j += 2
                elif expr[j] == "'":
                    break
                else:
                    buf.append(expr[j])
                    j += 1
            lits.append("'" + "".join(buf) + "'")
            out.append(f"\x01{len(lits) - 1}\x02")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def old_split_args(argstr: str) -> list[str]:
    args, depth, cur = [], 0, []
    for ch in argstr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def old_find_call(expr: str, fname: str) -> tuple[int, int, str] | None:
    m = re.search(rf"\b{fname}\s*\(", expr, flags=re.IGNORECASE)
    if not m:
        return None
    depth = 1
    i = m.end()
    while i < len(expr) and depth:
        if expr[i] == "(":
            depth += 1
        elif expr[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    return m.start(), i, expr[m.end() : i - 1]


def old_split_top(s: str, sep: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def old_rewrite_plus(expr: str, string_idents: frozenset[str] = frozenset()) -> str:
    out: list[str] = []
    i = 0
    while i < len(expr):
        if expr[i] == "(":
            depth, j = 1, i + 1
            while j < len(expr) and depth:
                if expr[j] == "(":
                    depth += 1
                elif expr[j] == ")":
                    depth -= 1
                j += 1
            out.append("(" + old_rewrite_plus(expr[i + 1 : j - 1], string_idents) + ")")
            i = j
        else:
            out.append(expr[i])
            i += 1
    s = "".join(out)
    segments = []
    for seg in old_split_top(s, ","):
        ops = old_split_top(seg, "+")
        if len(ops) > 1 and any(translate._is_stringy(o, string_idents) for o in ops):
            segments.append("||".join(ops))
        else:
            segments.append(seg)
    return ",".join(segments)


def _has_unclosed_paren(s: str) -> bool:
    for i, ch in enumerate(s):
        if ch == "(":
            depth = 0
            for c in s[i:]:
                depth += (c == "(") - (c == ")")
                if depth == 0:
                    break
            if depth:
                return True
    return False


# --- reader and parser: string-literal-aware ----------------------------------


@_SETTINGS
@given(text=_text)
def test_strip_comments_equals_old(text):
    assert scan.strip_comments(text) == old_strip_block_comments(text)


@_SETTINGS
@given(text=_text)
def test_depth_delta_equals_old(text):
    assert scan.depth_delta(text) == old_depth_delta(text)


@_SETTINGS
@given(text=_text)
def test_split_top_commas_equals_old(text):
    assert parser._split_top_commas(text) == old_split_top_commas(text)


def _outcome(fn, *args):
    try:
        return fn(*args)
    except (DdlParseError, ValueError) as e:
        return type(e).__name__, str(e)


@_SETTINGS
@given(text=_text, start=st.integers(0, 40))
def test_outer_parens_equals_old_including_errors(text, start):
    assert _outcome(parser._outer_parens, text, start) == _outcome(old_outer_parens, text, start)


@pytest.mark.parametrize(
    "text",
    ["(a", "((a)", "x('(')", "(a ''' ", "no parens", "('a''(b)'"],
)
def test_outer_parens_error_cases(text):
    assert _outcome(parser._outer_parens, text) == _outcome(old_outer_parens, text)


@pytest.mark.parametrize(
    "text",
    ["a /* 'b */ c", "'/*' x /* y", "'it''s' /* (", "/*/ a */ b", "'open /* x"],
)
def test_strip_comments_corners(text):
    assert scan.strip_comments(text) == old_strip_block_comments(text)


# --- translator: quote-free text ----------------------------------------------


@_SETTINGS
@given(text=_text)
def test_protect_literals_equals_old(text):
    assert translate._protect_literals(text) == old_protect_literals(text)


@_SETTINGS
@given(text=_unquoted)
def test_split_args_equals_old(text):
    assert translate._split_args(text) == old_split_args(text)


@_SETTINGS
@given(text=_unquoted, sep=st.sampled_from(",+"))
def test_split_top_equals_old(text, sep):
    assert scan.split_top(text, sep) == old_split_top(text, sep)


@_SETTINGS
@given(prefix=_unquoted, rest=_unquoted)
def test_call_group_equals_old_find_call(prefix, rest):
    expr = f"{prefix} isnull {rest}"
    m = translate._CALLS["isnull"].search(expr)
    group = m and scan.paren_group(expr, m.end() - 1)
    new = (m.start(), group[1], group[0]) if group else None
    assert new == old_find_call(expr, "isnull")


@_SETTINGS
@given(text=st.text(alphabet="(),+ax\x01\x021", max_size=40))
def test_rewrite_plus_equals_old(text):
    new = translate._rewrite_plus(text, frozenset({"a"}))
    # the rewrite only ever turns a `+` into `||`
    assert new.replace("||", "+") == text
    if not _has_unclosed_paren(text):
        # on an unclosed `(` the old loop dropped the expression's last
        # character and appended `)`; elsewhere the two agree
        assert new == old_rewrite_plus(text, frozenset({"a"}))


def test_unrenderable_call_is_left_once_not_retried():
    # an unsure render (wrong arity, unmapped CONVERT target) used to be
    # re-found and re-rendered forever
    for expr in ("isnull(a)", "CONVERT(xml, [doc])", "ISNULL(ISNULL(a), b)"):
        r = translate.translate_tsql_expr(expr, "spark")
        assert r.unsure
    assert translate.translate_tsql_expr("ISNULL(ISNULL(a), b)", "spark").sql == "coalesce(isnull(a), b)"


# --- statement dispatch -------------------------------------------------------

_OLD_HANDLERS = [
    (r"^\s*CREATE\s+TABLE\b", "create_table"),
    (r"^\s*ALTER\s+TABLE\b", "alter_table"),
    (r"^\s*CREATE\s+(UNIQUE\s+)?(NON)?CLUSTERED\s+INDEX\b", "create_index"),
    (r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", "create_index"),
    (r"^\s*ALTER\s+INDEX\b", "alter_index"),
    (r"^\s*CREATE\s+VIEW\b", "create_view"),
    (r"^\s*CREATE\s+TYPE\b", "create_type"),
    (r"^\s*CREATE\s+SCHEMA\b", "create_schema"),
    (r"^\s*CREATE\s+SEQUENCE\b", "create_sequence"),
    (r"^\s*EXEC(UTE)?\s+(sys\.)?sp_addextendedproperty\b", "extended_property"),
]
_OLD_SKIP = re.compile(
    r"^\s*(USE\b|SET\b|GRANT\b|DENY\b|REVOKE\b|PRINT\b|DECLARE\b|"
    r"BEGIN\b|END\b|IF\b|CREATE\s+DATABASE\b|ALTER\s+DATABASE\b|"
    r"CREATE\s+USER\b|ALTER\s+USER\b|CREATE\s+LOGIN\b|ALTER\s+LOGIN\b|"
    r"CREATE\s+ROLE\b|ALTER\s+ROLE\b|"
    r"CREATE\s+FULLTEXT\b|ALTER\s+FULLTEXT\b|"
    r"CREATE\s+XML\s+SCHEMA\s+COLLECTION\b|"
    r"CREATE\s+(OR\s+ALTER\s+)?(PROC(EDURE)?|FUNCTION|TRIGGER)\b|"
    r"ALTER\s+(PROC(EDURE)?|FUNCTION|TRIGGER)\b|"
    r"CREATE\s+PARTITION\b|CREATE\s+ASSEMBLY\b|"
    r"DROP\b|INSERT\b|UPDATE\b|DELETE\b|"
    r"EXEC(UTE)?\s+(?!sys\.sp_addextendedproperty|sp_addextendedproperty))",
    re.IGNORECASE,
)


def old_classify(stmt: str) -> str | None:
    first = stmt.lstrip()
    if re.match(r"^:setvar\s", first, re.IGNORECASE):
        return "setvar"
    if re.match(r"^\s*ALTER\s+DATABASE\b.*ARITHABORT\s+OFF", first, re.IGNORECASE | re.DOTALL):
        return "arithabort"
    for pat, kind in _OLD_HANDLERS:
        if re.match(pat, first, re.IGNORECASE):
            return kind
    return "skip" if _OLD_SKIP.match(first) else None


_WORDS = st.sampled_from(
    ["CREATE", "alter", "TABLE", "INDEX", "UNIQUE", "CLUSTERED", "NONCLUSTERED", "VIEW",
     "TYPE", "SCHEMA", "SEQUENCE", "DATABASE", "ARITHABORT", "OFF", "EXEC", "EXECUTE",
     "sys.sp_addextendedproperty", "sp_addextendedproperty", "sys.sp_executesql", ":setvar",
     "USE", "OR", "PROC", "PROCEDURE", "FUNCTION", "XML", "COLLECTION", "DROP", "SELECT",
     "[x]", "TABLEx", "(", "\n"]
)


@_SETTINGS
@given(words=st.lists(_WORDS, max_size=6), lead=st.sampled_from(["", " ", "\n\t"]))
def test_statement_classification_equals_old(words, lead):
    stmt = lead + " ".join(words)
    m = parser._STATEMENT.match(stmt.lstrip())
    assert (m.lastgroup if m else None) == old_classify(stmt)
