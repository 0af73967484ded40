"""One string-literal-aware scanner for T-SQL text.

The DDL reader, the parser and the T-SQL expression translator all need the
same three questions answered about a piece of SQL text: where its block
comments are, where it splits on a top-level separator, and where a
parenthesised group ends. Each answer skips ``'…'`` literals (an
unterminated literal runs to the end of the input), and the
scanning itself happens in a compiled token regex rather than a Python loop
over characters — the reference does the same work inside Perl's regex
engine (sqlserver2pgsql.pl:1358-1402).

Comments are only recognised by :func:`strip_comments`: the other operations
run on text whose comments the reader has already removed.
"""

from __future__ import annotations

import re

#: a ``'…'`` literal, running to end of input if unterminated. An escaped
#: quote (``''``) needs no rule of its own here: it closes one literal and
#: opens the next, so the same characters count as inside a literal.
LITERAL = r"'[^']*'?"

_COMMENT_OR_LITERAL = re.compile(rf"/\*.*?(?:\*/|\Z)|({LITERAL})", re.DOTALL)
_LITERALS = re.compile(LITERAL)
_TOKEN = re.compile(rf"{LITERAL}|[(),+-]")


def strip_comments(text: str) -> str:
    """Remove ``/* … */`` block comments (non-nested, as in T-SQL) outside
    string literals; an unterminated comment runs to the end of the text."""
    if "/*" not in text:
        return text
    return _COMMENT_OR_LITERAL.sub(r"\1", text)  # a comment leaves no group 1


def depth_delta(text: str) -> int:
    """Net paren depth change of ``text``, ignoring parens inside literals."""
    if "'" in text:
        text = _LITERALS.sub("", text)
    return text.count("(") - text.count(")")


def split_top(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` (``,``, ``+`` or ``-``) at paren depth 0, outside
    literals. Parts are returned unstripped, and a trailing empty part is
    kept."""
    if sep not in text:
        return [text]
    parts: list[str] = []
    depth = start = 0
    for m in _TOKEN.finditer(text):
        tok = m.group()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok == sep and depth == 0:
            parts.append(text[start : m.start()])
            start = m.end()
    parts.append(text[start:])
    return parts


def paren_group(text: str, open_at: int) -> tuple[str, int] | None:
    """For the ``(`` at ``open_at``: (inner text, index after its matching
    ``)``), or None when the group never closes."""
    depth = 0
    for m in _TOKEN.finditer(text, open_at):
        tok = m.group()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth == 0:
                return text[open_at + 1 : m.start()], m.end()
    return None
