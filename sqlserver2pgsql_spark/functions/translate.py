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

It is the package's one implementation of T-SQL scalar semantics: the
schema plane and the queries (q12, q13) render T-SQL through it, and each
renderer gives SQL Server's answer under the default ``DATEFIRST 7``.
CAST and CONVERT take their targets from the catalog's type matrix
(:mod:`sqlserver2pgsql_spark.catalog.types`).

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

from ..catalog.types import convert_type
from ..scan import paren_group, split_top


@dataclass(frozen=True)
class TranslationResult:
    sql: str
    unsure: bool = False
    notes: tuple[str, ...] = ()


#: SQL Server datepart names and abbreviations -> one canonical part each
_DATEPARTS = {
    "yy": "YEAR", "yyyy": "YEAR", "year": "YEAR",
    "qq": "QUARTER", "q": "QUARTER", "quarter": "QUARTER",
    "mm": "MONTH", "m": "MONTH", "month": "MONTH",
    "dy": "DAYOFYEAR", "y": "DAYOFYEAR", "dayofyear": "DAYOFYEAR",
    "dd": "DAY", "d": "DAY", "day": "DAY",
    "wk": "WEEK", "ww": "WEEK", "week": "WEEK",
    "dw": "WEEKDAY", "w": "WEEKDAY", "weekday": "WEEKDAY",
    "hh": "HOUR", "hour": "HOUR",
    "mi": "MINUTE", "n": "MINUTE", "minute": "MINUTE",
    "ss": "SECOND", "s": "SECOND", "second": "SECOND",
}

#: DATEADD and DATEDIFF count dayofyear and weekday in days
_AS_DAY = {"DAYOFYEAR": "DAY", "WEEKDAY": "DAY"}


def _datepart(arg: str) -> str | None:
    return _DATEPARTS.get(arg.strip().lower().strip("'\""))


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


#: CONVERT targets that are a plain CAST to the catalog's Spark type
#: (catalog.types). The others (time, datetimeoffset, xml, sql_variant, the
#: spatial and binary types) change representation there, so stay unsure.
_CASTABLE = frozenset({
    "int", "integer", "bigint", "smallint", "tinyint", "bit", "float", "real",
    "decimal", "numeric", "money", "smallmoney", "date", "datetime",
    "datetime2", "smalldatetime", "uniqueidentifier", "sysname",
    "char", "nchar", "varchar", "nvarchar", "text", "ntext",
})
#: a CONVERT target: base type, qualifier, and the length if one is given
_TARGET = re.compile(
    r"(?P<base>\w+)\s*(?P<qual>\(\s*(?:(?P<n>\d+)|max)\s*(?:,\s*\d+\s*)?\))?",
    re.IGNORECASE,
)
#: CONVERT(char type, datetime, style): ODBC canonical styles
_STYLES = {"120": "yyyy-MM-dd HH:mm:ss", "121": "yyyy-MM-dd HH:mm:ss.SSS"}


def _render_convert(args: list[str]) -> str | None:
    """CONVERT(type, x[, style]) as SQL Server computes it: a char type of
    length n keeps n characters (30 when no length is given; char and
    nchar are blank-padded to n), also after a style."""
    if len(args) not in (2, 3):
        return None
    m = _TARGET.fullmatch(args[0])
    if m is None or m["base"].lower() not in _CASTABLE:
        return None
    base = m["base"].lower()
    spark_type = convert_type(base, m["qual"]).spark_type.upper()
    style = args[2] if len(args) == 3 else None
    if spark_type != "STRING":
        return f"CAST({args[1]} AS {spark_type})"
    if style is not None and style not in _STYLES:
        return None
    text = (f"date_format({args[1]}, '{_STYLES[style]}')" if style
            else f"CAST({args[1]} AS STRING)")
    if base not in ("char", "nchar", "varchar", "nvarchar") or (m["qual"] and not m["n"]):
        return text  # no length, or (max)
    fn = "rpad" if base in ("char", "nchar") else "left"
    return f"{fn}({text}, {m['n'] or 30})"


#: a T-SQL ``CAST`` call, and its argument ``x AS type`` (the last ``AS``)
_CAST_CALL = re.compile(r"\bcast\s*\(", re.IGNORECASE)
_CAST_ARG = re.compile(rf"(?P<x>.+)\s+as\s+(?P<t>{_TARGET.pattern})\s*",
                       re.IGNORECASE | re.DOTALL)


def _casts_as_converts(expr: str) -> tuple[str, bool]:
    """``CAST(x AS type)`` is ``CONVERT(type, x)`` in SQL Server, so every
    CAST (nested ones included) is rewritten as that CONVERT and its target
    mapped by the same renderer. A target that is no plain CAST in Spark
    stays as written, unsure. Runs once, before any call is rendered: the
    renderings are themselves CASTs."""
    unsure = False
    pos = 0
    while m := _CAST_CALL.search(expr, pos):
        group = paren_group(expr, m.end() - 1)
        if group is None:
            break
        inner, u = _casts_as_converts(group[0])
        a = _CAST_ARG.fullmatch(inner)
        ok = a is not None and a["base"].lower() in _CASTABLE
        rendered = f"CONVERT({a['t']}, {a['x']})" if ok else f"{m.group()}{inner})"
        expr = expr[: m.start()] + rendered + expr[group[1]:]
        pos = m.start() + len(rendered)
        unsure = unsure or u or not ok
    return expr, unsure


def _render_dateadd(args: list[str]) -> str | None:
    if len(args) != 3 or (part := _datepart(args[0])) is None:
        return None
    return f"timestampadd({_AS_DAY.get(part, part)}, {args[1]}, {args[2]})"


#: DATEDIFF(part, s, e): the part boundaries crossed from s to e, not the
#: elapsed units; Sunday starts a week (DATEFIRST 7). The result is an INT,
#: as in SQL Server. No formula holds a ``+``: the string-concatenation
#: rewrite would turn it into ``||`` next to a literal argument. Spark's
#: ``date_diff`` is spelled so the DATEDIFF rewrite cannot match it again.
_DATEDIFF = {
    "YEAR": "year({e}) - year({s})",
    "QUARTER": "(year({e}) - year({s})) * 4 - (quarter({s}) - quarter({e}))",
    "MONTH": "(year({e}) - year({s})) * 12 - (month({s}) - month({e}))",
    "DAY": "date_diff(to_date({e}), to_date({s}))",
    "WEEK": "floor(date_diff(to_date({e}), DATE'1900-01-07') / 7)"
            " - floor(date_diff(to_date({s}), DATE'1900-01-07') / 7)",
    **{
        unit: f"(unix_timestamp(date_trunc('{unit}', {{e}}))"
              f" - unix_timestamp(date_trunc('{unit}', {{s}}))) div {secs}"
        for unit, secs in (("HOUR", 3600), ("MINUTE", 60), ("SECOND", 1))
    },
}


def _render_datediff(args: list[str]) -> str | None:
    if len(args) != 3 or (part := _datepart(args[0])) is None:
        return None
    formula = _DATEDIFF[_AS_DAY.get(part, part)].format(s=args[1], e=args[2])
    return f"CAST({formula} AS INT)"


#: DATEPART(part, d) where SQL Server's answer is not ``extract(part FROM
#: d)``: Spark's DAYOFWEEK is already Sunday=1; the week of the year starts
#: on Sunday with Jan 1 in week 1 (not the ISO week); seconds are whole
_DATEPART = {
    "DAYOFYEAR": "extract(DOY FROM {d})",
    "WEEKDAY": "extract(DAYOFWEEK FROM {d})",
    "WEEK": "CAST(ceil((dayofyear({d}) - (1 - dayofweek(trunc({d}, 'YEAR')))) / 7) AS INT)",
    "SECOND": "CAST(extract(SECOND FROM {d}) AS INT)",
}


def _render_datepart(args: list[str]) -> str | None:
    if len(args) != 2 or (part := _datepart(args[0])) is None:
        return None
    return _DATEPART.get(part, f"extract({part} FROM {{d}})").format(d=args[1])


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
    "extract", "locate", "repeat", "length", "uuid", "rpad", "quarter",
    "to_date", "date_diff", "ceil", "unix_timestamp", "date_trunc",
    "dayofyear", "dayofweek", "trunc",
    "decimal", "numeric", "varchar", "char",
}
_FUNC_CALL = re.compile(r"\b([a-zA-Z_][a-zA-Z0-9_]*)\s*\(")


# NOTE: coalesce/nullif are type-preserving, not string-producing — including
# them here would wrongly rewrite numeric `C3+ISNULL(x,0)` (V2 fixture,
# regression/basic_test/views.sql:90) into string concat.
_STRINGY_FUNCS = {
    "concat", "repeat", "upper", "lower", "ltrim", "rtrim", "trim",
    "substring", "replace", "left", "right", "rpad", "date_format",
}
#: calls that never return a string, whatever literal they take
#: (``CHARINDEX('-', x) + 1`` is arithmetic)
_NUMERIC_FUNCS = {
    "locate", "length", "extract", "year", "month", "day",
    "abs", "round", "floor", "ceiling", "sign", "power", "exp", "log", "sqrt",
    "count", "sum", "avg",
}


_HAS_LITERAL = re.compile(r"\x01\d+\x02")
_NUMBER = re.compile(r"\d+\.?\d*|\.\d+")
_CALL_HEAD = re.compile(r"([a-zA-Z_]\w*)\s*\(")
_DOTTED_NAME = re.compile(r"[a-zA-Z_][\w.]*")
_STRING_CAST = re.compile(r"cast\s*\(.*as\s+(string|n?(var)?char)", re.IGNORECASE | re.DOTALL)


def _is_number(operand: str) -> bool:
    """A numeric literal, or one call to a function that returns a number."""
    o = operand.strip()
    if _NUMBER.fullmatch(o):
        return True
    m = _CALL_HEAD.match(o)
    return (m is not None and m.group(1).lower() in _NUMERIC_FUNCS
            and (g := paren_group(o, m.end() - 1)) is not None and g[1] == len(o))


def _is_stringy(operand: str, string_idents: frozenset[str]) -> bool:
    o = operand.strip()
    if o.startswith("(") and (g := paren_group(o, 0)) is not None and g[1] == len(o):
        # ``(…)`` is judged by its own ``+``/``-`` chain: a number in it
        # makes ``+`` arithmetic, as SQL Server converts the string operand
        # of ``+`` to the number's type (data type precedence)
        ops = [q for p in split_top(g[0], "+") for q in split_top(p, "-")]
        return (not any(map(_is_number, ops))
                and any(_is_stringy(q, string_idents) for q in ops))
    m = _CALL_HEAD.match(o)
    head = m.group(1).lower() if m else None
    if head in _STRINGY_FUNCS or _STRING_CAST.match(o):
        return True
    if head in _NUMERIC_FUNCS or head == "cast":
        return False
    if _HAS_LITERAL.search(o):  # contains a protected string literal
        return True
    if _DOTTED_NAME.fullmatch(o) and o.lower().split(".")[-1] in string_idents:
        return True  # caller told us this column is a string (catalog types)
    return False


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
    protected, cast_unsure = _casts_as_converts(protected)
    translated, unsure = _translate_inner(protected)
    unsure = unsure or cast_unsure

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
