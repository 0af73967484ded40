"""B10 — T-SQL → Spark SQL scalar-expression translator.

The reference does this with regexes targeting PostgreSQL
(sqlserver2pgsql.pl:587-630): ISNULL→COALESCE, getdate()→CURRENT_TIMESTAMP,
user_name()→CURRENT_USER, SPACE(→REPEAT(' ', charindex(a,b)→POSITION,
datepart(x,y)→date_part, DATEADD(u,n,d)→d+INTERVAL, three CONVERT
forms→CAST, [ident]→renamed identifier, and a recursive AND/OR splitter for
CHECK-constraint bodies.

This implementation targets the Spark SQL dialect instead and keeps the
reference's behavior contract: anything it can't confidently translate is
returned with ``unsure=True`` (the reference routes such text to the
"unsure" output file — README.md:77-79) rather than silently guessed.

Used for: DEFAULT expressions (B7), CHECK constraint bodies (B8), partial
index predicates (B9), view bodies (B11). Deliberately regex-based like the
reference — the input language is the narrow scalar-expression subset that
appears in SSMS DDL dumps, not arbitrary T-SQL. Every pattern is compiled
once at import; paren and separator scanning goes through
:mod:`sqlserver2pgsql_spark.scan`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..scan import paren_group, split_top


@dataclass(frozen=True)
class TranslationResult:
    sql: str
    unsure: bool = False
    notes: tuple[str, ...] = ()


_DATEPART_NORM = {
    "yy": "YEAR", "yyyy": "YEAR", "year": "YEAR",
    "qq": "QUARTER", "q": "QUARTER", "quarter": "QUARTER",
    "mm": "MONTH", "m": "MONTH", "month": "MONTH",
    "dd": "DAY", "d": "DAY", "day": "DAY",
    "wk": "WEEK", "ww": "WEEK", "week": "WEEK",
    "hh": "HOUR", "hour": "HOUR",
    "mi": "MINUTE", "n": "MINUTE", "minute": "MINUTE",
    "ss": "SECOND", "s": "SECOND", "second": "SECOND",
}

_TYPE_MAP = {
    "int": "INT", "integer": "INT", "bigint": "BIGINT", "smallint": "SMALLINT",
    "tinyint": "SMALLINT", "bit": "BOOLEAN", "float": "DOUBLE", "real": "FLOAT",
    "date": "DATE", "datetime": "TIMESTAMP", "datetime2": "TIMESTAMP",
    "smalldatetime": "TIMESTAMP", "money": "DECIMAL(19,4)",
    "smallmoney": "DECIMAL(10,4)", "uniqueidentifier": "STRING", "sysname": "STRING",
}


_CHAR_TYPE = re.compile(r"(n?var)?char\s*\(\s*(\d+|max)\s*\)|n?(var)?char|n?text")
_DECIMAL_TYPE = re.compile(r"(decimal|numeric)\s*(\(\s*\d+\s*(,\s*\d+)?\s*\))?")
_SPACE = re.compile(r"\s")


def _map_type(t: str) -> str | None:
    t = t.strip().lower()
    if _CHAR_TYPE.fullmatch(t):
        return "STRING"
    m = _DECIMAL_TYPE.fullmatch(t)
    if m:
        inner = _SPACE.sub("", m.group(2) or "(18,0)")
        return f"DECIMAL{inner}"
    return _TYPE_MAP.get(t)


#: ``[Some Ident]`` (``]]`` is a literal ``]``)
_BRACKETED = re.compile(r"\[((?:[^\]]|\]\])+)\]")


def _unbracket(m: re.Match) -> str:
    return m.group(1).replace("]]", "]").strip().lower().replace(" ", "_")


def _strip_brackets(expr: str) -> str:
    # [Some Ident] → some_ident (the reference lowercases identifiers by
    # default, :527-571); inside string literals brackets survive because we
    # protect literals first.
    return _BRACKETED.sub(_unbracket, expr) if "[" in expr else expr


#: a ``'…'`` or ``N'…'`` literal; group 1 is its body (``''`` escapes kept).
#: An unterminated literal runs to the end of the expression.
_NLITERAL = re.compile(r"[Nn]?'([^']*(?:''[^']*)*)'?")
_PLACEHOLDER = re.compile(r"\x01(\d+)\x02")


def _protect_literals(expr: str) -> tuple[str, list[str]]:
    """Replace 'string literals' (incl. N'...') with placeholders so function
    rewrites never fire inside data."""
    lits: list[str] = []

    def stash(m: re.Match) -> str:
        lits.append(f"'{m.group(1)}'")
        return f"\x01{len(lits) - 1}\x02"

    return (_NLITERAL.sub(stash, expr) if "'" in expr else expr), lits


def _restore_literals(expr: str, lits: list[str]) -> str:
    return _PLACEHOLDER.sub(lambda m: lits[int(m.group(1))], expr) if lits else expr


def _split_args(argstr: str) -> list[str]:
    """Split a function argument list on top-level commas."""
    args = split_top(argstr, ",")
    if not args[-1]:
        args.pop()
    return [a.strip() for a in args]


def _rewrite_calls(expr: str, fname: str, render) -> tuple[str, bool]:
    """Rewrite every outermost fname(...) via render(args)->str|None; returns
    (expr, unsure_flag). The search resumes after each rendered call, so an
    unrenderable call is left in place once and not retried."""
    unsure = False
    pattern = _CALLS[fname]
    pos = 0
    while m := pattern.search(expr, pos):
        group = paren_group(expr, m.end() - 1)
        if group is None:
            return expr, unsure
        argstr, end = group
        # translate inner expressions first (args may contain nested calls)
        args = [_translate_inner(a)[0] for a in _split_args(argstr)]
        rendered = render(args)
        if rendered is None:
            unsure = True
            rendered = f"{fname}({', '.join(args)})"
        expr = expr[: m.start()] + rendered + expr[end:]
        pos = m.start() + len(rendered)
    return expr, unsure


def _render_convert(args: list[str]) -> str | None:
    if len(args) not in (2, 3):
        return None
    target = _map_type(args[0])
    if target is None:
        return None
    if len(args) == 3 and target == "STRING" and args[2].strip() in ("120", "121"):
        fmt = "yyyy-MM-dd HH:mm:ss" if args[2].strip() == "120" else "yyyy-MM-dd HH:mm:ss.SSS"
        return f"date_format({args[1]}, '{fmt}')"
    return f"CAST({args[1]} AS {target})"


def _render_dateadd(args: list[str]) -> str | None:
    if len(args) != 3:
        return None
    unit = _DATEPART_NORM.get(args[0].strip().lower().strip("'\""))
    if unit is None:
        return None
    return f"timestampadd({unit}, {args[1]}, {args[2]})"


def _render_datediff(args: list[str]) -> str | None:
    if len(args) != 3:
        return None
    unit = _DATEPART_NORM.get(args[0].strip().lower().strip("'\""))
    if unit is None:
        return None
    return f"timestampdiff({unit}, {args[1]}, {args[2]})"


def _render_datepart(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    unit = _DATEPART_NORM.get(args[0].strip().lower().strip("'\""))
    if unit is None:
        return None
    return f"extract({unit} FROM {args[1]})"


_SIMPLE_CALLS = {
    "isnull": lambda a: f"coalesce({', '.join(a)})" if len(a) == 2 else None,
    "space": lambda a: f"repeat(' ', {a[0]})" if len(a) == 1 else None,
    "charindex": lambda a: (
        f"locate({a[0]}, {a[1]})" if len(a) == 2
        else f"locate({a[0]}, {a[1]}, {a[2]})" if len(a) == 3 else None
    ),
    "len": lambda a: f"length(rtrim({a[0]}))" if len(a) == 1 else None,
    "convert": _render_convert,
    "dateadd": _render_dateadd,
    "datediff": _render_datediff,
    "datepart": _render_datepart,
    "replicate": lambda a: f"repeat({a[0]}, {a[1]})" if len(a) == 2 else None,
    "newid": lambda a: "uuid()" if not a else None,
}

_CALLS = {f: re.compile(rf"\b{f}\s*\(", re.IGNORECASE) for f in _SIMPLE_CALLS}

_ZERO_ARG = (
    (re.compile(r"\b(?:getdate|getutcdate|sysdatetime)\s*\(\s*\)", re.IGNORECASE),
     "current_timestamp()"),
    (re.compile(r"\b(?:user_name|suser_sname)\s*\(\s*\)", re.IGNORECASE), "current_user()"),
)

#: functions we can pass through unchanged (same name/semantics in Spark SQL)
_PASSTHROUGH = {
    "coalesce", "nullif", "upper", "lower", "ltrim", "rtrim", "trim", "abs",
    "round", "floor", "ceiling", "substring", "replace", "concat", "left",
    "right", "year", "month", "day", "cast", "case", "when", "then", "else",
    "end", "and", "or", "not", "in", "like", "between", "is", "null",
    "sign", "power", "exp", "log", "sqrt",
    # aggregates / window functions valid in both dialects
    "count", "sum", "min", "max", "avg", "row_number", "rank", "dense_rank",
    "lag", "lead", "over",
    # SQL keywords that can directly precede '(' in query text
    "on", "where", "exists", "values", "select", "from", "join", "union",
    "all", "any", "some", "distinct", "group", "by", "having", "partition",
    "as",
}

#: names the translation itself produces, plus the type constructors that
#: appear inside CAST(... AS T(p,s))
_KNOWN_FUNCS = _PASSTHROUGH | {
    "current_timestamp", "current_user", "date_format", "timestampadd",
    "timestampdiff", "extract", "locate", "repeat", "length", "uuid",
    "decimal", "numeric", "varchar", "char",
}
_FUNC_CALL = re.compile(r"\b([a-zA-Z_][a-zA-Z0-9_]*)\s*\(")


# NOTE: coalesce/nullif are type-preserving, not string-producing — including
# them here would wrongly rewrite numeric `C3+ISNULL(x,0)` (V2 fixture,
# regression/basic_test/views.sql:90) into string concat.
_STRINGY_FUNCS = {
    "concat", "repeat", "upper", "lower", "ltrim", "rtrim", "trim",
    "substring", "replace", "left", "right", "date_format",
}


_HAS_LITERAL = re.compile(r"\x01\d+\x02")
_CALL_HEAD = re.compile(r"([a-zA-Z_]\w*)\s*\(")
_DOTTED_NAME = re.compile(r"[a-zA-Z_][\w.]*")
_STRING_CAST = re.compile(r"cast\s*\(.*as\s+(string|n?(var)?char)", re.IGNORECASE | re.DOTALL)


def _is_stringy(operand: str, string_idents: frozenset[str]) -> bool:
    o = operand.strip()
    if _HAS_LITERAL.search(o):  # contains a protected string literal
        return True
    m = _CALL_HEAD.match(o)
    if m and m.group(1).lower() in _STRINGY_FUNCS:
        return True
    if _DOTTED_NAME.fullmatch(o) and o.lower().split(".")[-1] in string_idents:
        return True  # caller told us this column is a string (catalog types)
    return bool(_STRING_CAST.match(o))


def _rewrite_plus(expr: str, string_idents: frozenset[str] = frozenset()) -> str:
    """T-SQL string ``+`` → ``||`` wherever a ``+``-chain has at least one
    provably-string operand: a string literal, a string-returning function,
    or an identifier the caller declared string-typed (the catalog knows
    column types — reference rewrites + concat for PG, :1857-1876). A chain
    of bare unknown columns stays arithmetic."""
    if "+" not in expr:
        return expr
    # rewrite inside each paren group first
    out: list[str] = []
    pos = 0
    while (i := expr.find("(", pos)) >= 0:
        out.append(expr[pos : i + 1])
        group = paren_group(expr, i)
        if group is None:  # an unclosed group runs to the end of the expression
            out.append(_rewrite_plus(expr[i + 1 :], string_idents))
            pos = len(expr)
        else:
            out += [_rewrite_plus(group[0], string_idents), ")"]
            pos = group[1]
    out.append(expr[pos:])
    s = "".join(out)
    segments = []
    for seg in split_top(s, ","):
        ops = split_top(seg, "+")
        if len(ops) > 1 and any(_is_stringy(o, string_idents) for o in ops):
            segments.append("||".join(ops))
        else:
            segments.append(seg)
    return ",".join(segments)


def _translate_inner(expr: str) -> tuple[str, bool]:
    if "(" not in expr:  # every rewrite below matches a call
        return expr, False
    unsure = False
    for pat, repl in _ZERO_ARG:
        expr = pat.sub(repl, expr)
    for fname, render in _SIMPLE_CALLS.items():
        expr, u = _rewrite_calls(expr, fname, render)
        unsure = unsure or u
    return expr, unsure


def translate_tsql_expr(
    expr: str, string_idents: frozenset[str] | set[str] = frozenset()
) -> TranslationResult:
    """Translate a T-SQL scalar expression to Spark SQL.

    ``string_idents``: identifiers known (from the catalog) to be
    string-typed, so ``+`` over them becomes concat. Unknown function calls
    are left textually intact and flagged ``unsure=True`` — the caller
    decides whether to route the object to an 'unsure' bucket (reference
    behavior) or fail fast.
    """
    protected, lits = _protect_literals(expr)
    protected = _strip_brackets(protected)
    translated, unsure = _translate_inner(protected)

    notes: list[str] = []
    translated = _rewrite_plus(translated, frozenset(string_idents))

    # any remaining unknown function call? (name not in passthrough set)
    for m in _FUNC_CALL.finditer(translated):
        name = m.group(1).lower()
        if name not in _KNOWN_FUNCS:
            unsure = True
            notes.append(f"unknown function: {name}")

    return TranslationResult(
        sql=_restore_literals(translated, lits).strip(),
        unsure=unsure,
        notes=tuple(notes),
    )
