"""B10 — T-SQL scalar-expression translator, one rendering per dialect.

The reference does this with regexes targeting PostgreSQL
(sqlserver2pgsql.pl:587-630): ISNULL→COALESCE, getdate()→CURRENT_TIMESTAMP,
user_name()→CURRENT_USER, SPACE(→REPEAT(' ', charindex(a,b)→POSITION,
datepart(x,y)→date_part, DATEADD(u,n,d)→d+INTERVAL, three CONVERT
forms→CAST, [ident]→renamed identifier, and a recursive AND/OR splitter for
CHECK-constraint bodies.

This implementation renders T-SQL for the dialect its caller names:
``"spark"`` (Spark SQL) or ``"pg"`` (PostgreSQL, the emitted scripts).
Whether a ``+`` concatenates and whether a call is unknown are decided once,
on the T-SQL. It keeps the reference's behavior contract: anything it can't
confidently translate for a dialect is returned with ``unsure=True`` (the
reference routes such text to the "unsure" output file — README.md:77-79)
rather than silently guessed.

It is the package's one implementation of T-SQL scalar semantics: the
schema plane, the emitted PostgreSQL and the queries (q12, q13) render T-SQL
through it, and each renderer gives SQL Server's answer under the default
``DATEFIRST 7``. CAST and CONVERT take their targets from the catalog's type
matrix (:mod:`sqlserver2pgsql_spark.catalog.types`), whose rows name both
dialects' types.

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


def _datetime(arg: str, dialect: str) -> str:
    """A date argument: PostgreSQL does not read a string literal as a
    timestamp by itself (``extract(YEAR FROM '2021-01-01')`` is ambiguous
    there), so a literal is cast."""
    if dialect == "pg" and _PLACEHOLDER.fullmatch(arg):
        return f"CAST({arg} AS timestamp)"
    return arg


def _rewrite_calls(expr: str, fname: str, dialect: str) -> tuple[str, bool]:
    """Rewrite every outermost fname(...) via its renderer (args, dialect)
    -> str|None; returns (expr, unsure_flag). The search resumes after each
    rendered call, so an unrenderable call is left in place once and not
    retried."""
    unsure = False
    pattern, render = _CALLS[fname], _RENDERERS[fname]
    pos = 0
    while m := pattern.search(expr, pos):
        group = paren_group(expr, m.end() - 1)
        if group is None:
            return expr, unsure
        argstr, end = group
        # translate inner expressions first (args may contain nested calls)
        inner = [_translate_inner(a, dialect) for a in _split_args(argstr)]
        args = [a for a, _ in inner]
        rendered = render(args, dialect)
        unsure = unsure or rendered is None or any(u for _, u in inner)
        if rendered is None:
            rendered = f"{fname}({', '.join(args)})"
        expr = expr[: m.start()] + rendered + expr[end:]
        pos = m.start() + len(rendered)
    return expr, unsure


#: CONVERT targets that are a plain CAST to the catalog's type (catalog.types)
#: in both dialects. The others (time, datetimeoffset, xml, sql_variant, the
#: spatial and binary types) change representation in Spark, so stay unsure.
_CASTABLE = frozenset({
    "int", "integer", "bigint", "smallint", "tinyint", "bit", "float", "real",
    "decimal", "numeric", "money", "smallmoney", "date", "datetime",
    "datetime2", "smalldatetime", "uniqueidentifier", "sysname",
    "char", "nchar", "varchar", "nvarchar", "text", "ntext",
})
#: castable targets whose Spark type is a string: CONVERT to one returns text
_STRING_TARGETS = frozenset(t for t in _CASTABLE if convert_type(t).spark_type == "string")
#: targets SQL Server truncates a fraction for, where PostgreSQL's CAST rounds
_INTEGRAL = frozenset({"int", "integer", "bigint", "smallint", "tinyint"})
#: the character types, which keep n characters: the cast goes to the
#: dialect's unbounded text type, then is cut or padded to n
_CHARS = frozenset({"char", "nchar", "varchar", "nvarchar", "text", "ntext"})
_TEXT = {"spark": "STRING", "pg": "text"}
#: a CONVERT target: base type, qualifier, and the length if one is given
_TARGET = re.compile(
    r"(?P<base>\w+)\s*(?P<qual>\(\s*(?:(?P<n>\d+)|max)\s*(?:,\s*\d+\s*)?\))?",
    re.IGNORECASE,
)
#: CONVERT(char type, datetime, style): ODBC canonical styles, in each
#: dialect's date-formatting call
_STYLES = {"120": {"spark": "yyyy-MM-dd HH:mm:ss", "pg": "YYYY-MM-DD HH24:MI:SS"},
           "121": {"spark": "yyyy-MM-dd HH:mm:ss.SSS", "pg": "YYYY-MM-DD HH24:MI:SS.MS"}}
_DATE_FORMAT = {"spark": "date_format", "pg": "to_char"}


def _render_convert(args: list[str], dialect: str) -> str | None:
    """CONVERT(type, x[, style]) as SQL Server computes it: a char type of
    length n keeps n characters (30 when no length is given; char and
    nchar are blank-padded to n), also after a style; an integer type
    drops the fraction."""
    if len(args) not in (2, 3):
        return None
    m = _TARGET.fullmatch(args[0])
    if m is None or m["base"].lower() not in _CASTABLE:
        return None
    base = m["base"].lower()
    conv = convert_type(base, m["qual"])
    # SSMS writes the style parenthesized: (120)
    x, style = args[1], args[2].strip("() ") if len(args) == 3 else None
    target = conv.spark_type.upper() if dialect == "spark" else conv.pg_type
    if conv.spark_type != "string":
        if dialect == "pg" and base in _INTEGRAL:
            x = f"trunc(CAST({x} AS numeric))"
        return f"CAST({x} AS {target})"
    if style is not None and style not in _STYLES:
        return None
    if style:
        text = f"{_DATE_FORMAT[dialect]}({_datetime(x, dialect)}, '{_STYLES[style][dialect]}')"
    else:
        text = f"CAST({x} AS {_TEXT[dialect] if base in _CHARS else target})"
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
    mapped by the same renderer. A target that is no plain CAST stays as
    written, unsure. Runs once, on the T-SQL, before any call is rendered:
    the renderings are themselves CASTs."""
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


def _render_dateadd(args: list[str], dialect: str) -> str | None:
    if len(args) != 3 or (part := _datepart(args[0])) is None:
        return None
    part, n = _AS_DAY.get(part, part), args[1]
    if dialect == "spark":
        return f"timestampadd({part}, {n}, {args[2]})"
    if not (_NUMBER.fullmatch(n) or n[:1] == "(" and (g := paren_group(n, 0)) and g[1] == len(n)):
        n = f"({n})"  # one operand of the ``*``
    unit = "3 months" if part == "QUARTER" else f"1 {part.lower()}"  # a PostgreSQL interval
    return f"({_datetime(args[2], dialect)} + {n} * INTERVAL '{unit}')"


#: DATEDIFF(part, s, e): the part boundaries crossed from s to e, not the
#: elapsed units; Sunday starts a week (DATEFIRST 7). The result is an INT,
#: as in SQL Server. No rendering names a T-SQL function (YEAR, DATEDIFF),
#: which a later rewrite would match again.
_YEARS = "(extract(YEAR FROM {e}) - extract(YEAR FROM {s}))"
_DATEDIFF_BOTH = {
    "YEAR": _YEARS,
    **{part: f"{_YEARS} * {n} - (extract({part} FROM {{s}}) - extract({part} FROM {{e}}))"
       for part, n in (("QUARTER", 4), ("MONTH", 12))},
}
_DATEDIFF = {
    "spark": {
        **_DATEDIFF_BOTH,
        "DAY": "date_diff(to_date({e}), to_date({s}))",
        "WEEK": "floor(date_diff(to_date({e}), DATE'1900-01-07') / 7)"
                " - floor(date_diff(to_date({s}), DATE'1900-01-07') / 7)",
        **{
            unit: f"(unix_timestamp(date_trunc('{unit}', {{e}}))"
                  f" - unix_timestamp(date_trunc('{unit}', {{s}}))) div {secs}"
            for unit, secs in (("HOUR", 3600), ("MINUTE", 60), ("SECOND", 1))
        },
    },
    "pg": {
        **_DATEDIFF_BOTH,
        "DAY": "CAST({e} AS date) - CAST({s} AS date)",
        "WEEK": "floor((CAST({e} AS date) - DATE '1900-01-07') / 7.0)"
                " - floor((CAST({s} AS date) - DATE '1900-01-07') / 7.0)",
        **{
            unit: f"div(extract(EPOCH FROM date_trunc('{unit}', {{e}}))"
                  f" - extract(EPOCH FROM date_trunc('{unit}', {{s}})), {secs})"
            for unit, secs in (("HOUR", 3600), ("MINUTE", 60), ("SECOND", 1))
        },
    },
}


def _render_datediff(args: list[str], dialect: str) -> str | None:
    if len(args) != 3 or (part := _datepart(args[0])) is None:
        return None
    s, e = (_datetime(a, dialect) for a in args[1:])
    formula = _DATEDIFF[dialect][_AS_DAY.get(part, part)].format(s=s, e=e)
    return f"CAST({formula} AS {'INT' if dialect == 'spark' else 'integer'})"


#: DATEPART(part, d) where SQL Server's answer is not ``extract(part FROM
#: d)``: Spark's DAYOFWEEK is already Sunday=1, PostgreSQL's DOW Sunday=0;
#: the week of the year starts on Sunday with Jan 1 in week 1 (not the ISO
#: week); seconds are whole. PostgreSQL's extract returns a numeric, so its
#: answer is cast to an integer, as SQL Server returns one.
_DATEPART = {
    "spark": {
        "DAYOFYEAR": "extract(DOY FROM {d})",
        "WEEKDAY": "extract(DAYOFWEEK FROM {d})",
        "WEEK": "CAST(ceil((dayofyear({d}) - (1 - dayofweek(trunc({d}, 'YEAR')))) / 7) AS INT)",
        "SECOND": "CAST(extract(SECOND FROM {d}) AS INT)",
    },
    "pg": {
        "DAYOFYEAR": "extract(DOY FROM {d})",
        "WEEKDAY": "extract(DOW FROM {d}) + 1",
        "WEEK": "ceil((extract(DOY FROM {d}) + extract(DOW FROM date_trunc('year', {d}))) / 7)",
        "SECOND": "floor(extract(SECOND FROM {d}))",
    },
}


def _render_datepart(args: list[str], dialect: str) -> str | None:
    if len(args) != 2 or (part := _datepart(args[0])) is None:
        return None
    d = _datetime(args[1], dialect)
    sql = _DATEPART[dialect].get(part, f"extract({part} FROM {{d}})").format(d=d)
    return sql if dialect == "spark" else f"CAST({sql} AS integer)"


#: T-SQL function → its renderer(args, dialect), applied in this order;
#: one that ignores the dialect is the form both share
_RENDERERS = {
    "isnull": lambda a, _: f"coalesce({', '.join(a)})" if len(a) == 2 else None,
    "space": lambda a, _: f"repeat(' ', {a[0]})" if len(a) == 1 else None,
    # PostgreSQL's strpos takes no start position
    "charindex": lambda a, d: (f"locate({', '.join(a)})" if d == "spark" and len(a) in (2, 3)
                               else f"strpos({a[1]}, {a[0]})" if len(a) == 2 else None),
    "len": lambda a, _: f"length(rtrim({a[0]}))" if len(a) == 1 else None,
    "convert": _render_convert,
    "dateadd": _render_dateadd,
    "datediff": _render_datediff,
    "datepart": _render_datepart,
    "replicate": lambda a, _: f"repeat({a[0]}, {a[1]})" if len(a) == 2 else None,
    "newid": lambda a, d: None if a else "uuid()" if d == "spark" else "gen_random_uuid()",
    # YEAR(d) is DATEPART(year, d)
    **{part.lower(): lambda a, d, part=part: _render_datepart([part, *a], d)
       for part in ("YEAR", "MONTH", "DAY")},
}

_CALLS = {f: re.compile(rf"\b{f}\s*\(", re.IGNORECASE) for f in _RENDERERS}

_ZERO_ARG = (
    (re.compile(r"\b(?:getdate|getutcdate|sysdatetime)\s*\(\s*\)", re.IGNORECASE),
     {"spark": "current_timestamp()", "pg": "CURRENT_TIMESTAMP"}),
    (re.compile(r"\b(?:user_name|suser_sname)\s*\(\s*\)", re.IGNORECASE),
     {"spark": "current_user()", "pg": "CURRENT_USER"}),
)

#: functions we can pass through unchanged (same name/semantics in Spark SQL
#: and PostgreSQL)
_PASSTHROUGH = {
    "coalesce", "nullif", "upper", "lower", "ltrim", "rtrim", "trim", "abs",
    "round", "floor", "ceiling", "substring", "replace", "concat", "left",
    "right", "cast", "case", "when", "then", "else",
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

#: the T-SQL functions a rendering exists for (CHAR(n) is Spark's char)
_KNOWN_FUNCS = _PASSTHROUGH | set(_RENDERERS) | {
    "getdate", "getutcdate", "sysdatetime", "user_name", "suser_sname", "char",
}
#: a call; a CONVERT's type argument (``varchar(10)``) is matched with it,
#: so its qualifier does not read as a call
_FUNC_CALL = re.compile(r"\b([a-zA-Z_][a-zA-Z0-9_]*)\s*\((?:(?<=convert\()\s*\w+\s*\()?",
                        re.IGNORECASE)


# NOTE: coalesce/nullif/isnull are type-preserving, not string-producing —
# including them here would wrongly rewrite numeric `C3+ISNULL(x,0)` (V2
# fixture, regression/basic_test/views.sql:90) into string concat.
_STRINGY_FUNCS = {
    "concat", "space", "replicate", "upper", "lower", "ltrim", "rtrim", "trim",
    "substring", "replace", "left", "right",
}
#: calls that never return a string, whatever literal they take
#: (``CHARINDEX('-', x) + 1`` is arithmetic)
_NUMERIC_FUNCS = {
    "charindex", "len", "datepart", "datediff", "year", "month", "day",
    "abs", "round", "floor", "ceiling", "sign", "power", "exp", "log", "sqrt",
    "count", "sum", "avg",
}


#: a character some rewrite starts from (call, [name], ``+``, literal)
_REWRITTEN = re.compile(r"[(\[+']")
_HAS_LITERAL = re.compile(r"\x01\d+\x02")
_NUMBER = re.compile(r"\d+\.?\d*|\.\d+")
_CALL_HEAD = re.compile(r"([a-zA-Z_]\w*)\s*\(")
_DOTTED_NAME = re.compile(r"[a-zA-Z_][\w.]*")


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
    if head in _STRINGY_FUNCS:
        return True
    if head == "convert":  # the target's type decides (CASTs are CONVERTs here)
        t = _TARGET.match(o[m.end():].lstrip())
        return t is not None and t["base"].lower() in _STRING_TARGETS
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


def _translate_inner(expr: str, dialect: str) -> tuple[str, bool]:
    if "(" not in expr:  # every rewrite below matches a call
        return expr, False
    unsure = False
    for pat, repl in _ZERO_ARG:
        expr = pat.sub(repl[dialect], expr)
    for fname in _RENDERERS:
        expr, u = _rewrite_calls(expr, fname, dialect)
        unsure = unsure or u
    return expr, unsure


def translate_tsql_expr(
    expr: str, dialect: str, string_idents: frozenset[str] | set[str] = frozenset()
) -> TranslationResult:
    """Translate a T-SQL scalar expression to ``dialect``: ``"spark"`` (Spark
    SQL) or ``"pg"`` (PostgreSQL).

    ``string_idents``: identifiers known (from the catalog) to be
    string-typed, so ``+`` over them becomes concat. Unknown function calls
    are left textually intact and flagged ``unsure=True`` — the caller
    decides whether to route the object to an 'unsure' bucket (reference
    behavior) or fail fast.
    """
    if not _REWRITTEN.search(expr):  # a number, a name, NULL: nothing to rewrite
        return TranslationResult(expr.strip())
    protected, lits = _protect_literals(expr)
    protected = _strip_brackets(protected)
    protected, unsure = _casts_as_converts(protected)
    protected = _rewrite_plus(protected, frozenset(string_idents))

    # any unknown function call? (a name no renderer or passthrough knows)
    notes: list[str] = []
    for m in _FUNC_CALL.finditer(protected):
        name = m.group(1).lower()
        if name not in _KNOWN_FUNCS:
            unsure = True
            notes.append(f"unknown function: {name}")

    translated, u = _translate_inner(protected, dialect)
    return TranslationResult(
        sql=_restore_literals(translated, lits).strip(),
        unsure=unsure or u,
        notes=tuple(notes),
    )
