"""SSMS-dump DDL parser → Catalog.

Own-design statement parser covering the reference's handled/ignored
statement sets (B3-B9, B16-B18; dispatch table sqlserver2pgsql.pl:1535-2574)
with the same behavior contract: recognized statements are parsed fully,
listed noise is skipped, anything else raises DdlParseError ("die on all
error conditions", :7-8).

Tests: tests/test_ddl_fixture.py parses a hand-written SSMS dump
(tests/data/ssms_sample.sql) against golden scripts, and tests/test_ddl.py
pins the type matrix, identifiers, options and error paths on inline text;
both run anywhere. tests/test_ddl.py also parses the reference's regression
corpus (regression/*.sql of sqlserver2pgsql) when that checkout is present.

Every pattern is compiled once at import, and all paren/comma scanning goes
through :mod:`sqlserver2pgsql_spark.scan`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..catalog.identifiers import normalize_identifier, relabel_schema
from ..catalog.model import (
    Catalog,
    CheckConstraint,
    Column,
    ForeignKey,
    IdentitySpec,
    Index,
    IndexColumn,
    Schema,
    Sequence,
    Table,
    TableType,
    TsqlExpr,
    UniqueConstraint,
    View,
)
from ..catalog.types import convert_type
from ..functions.translate import translate_tsql_expr
from .reader import clean_statements, read_dump
from ..scan import paren_group, split_top


class DdlParseError(Exception):
    pass


#: [Name] (inside brackets anything but ``]``, with ``]]`` for a literal
#: ``]``) or a bare Name; group 1 is the raw name. The lookarounds keep a
#: bracketed name from ending anywhere but at its closing bracket.
_IDENT = r"\[?((?<=\[)[^\]]*(?:\]\][^\]]*)*(?=\])|(?<!\[)[^\[\]\s.(]+)\]?"
_QIDENT = rf"(?:{_IDENT}\.)?{_IDENT}"  # [schema].[name] or name
#: a type qualifier: ``(35)``, ``(10, 2)`` or ``(max)``
_QUAL = r"\(\s*(?:\d+|max)\s*(?:,\s*\d+\s*)?\)"


def _unescape(raw: str) -> str:
    """A captured ``_IDENT`` → the name it spells (``]]`` → ``]``)."""
    return raw.replace("]]", "]")


def _unbracket(name: str) -> str:
    """``[Name]`` → the name it spells; a bare name is returned stripped."""
    name = name.strip()
    return _unescape(name[1:-1]) if name[:1] == "[" and name[-1:] == "]" else name


#: statements skipped wholesale (reference ignore set, :1746-1785, :2424-2570)
_SKIP = (
    r"USE\b|SET\b|GRANT\b|DENY\b|REVOKE\b|PRINT\b|DECLARE\b|"
    r"BEGIN\b|END\b|IF\b|CREATE\s+DATABASE\b|ALTER\s+DATABASE\b|"
    r"CREATE\s+USER\b|ALTER\s+USER\b|CREATE\s+LOGIN\b|ALTER\s+LOGIN\b|"
    r"CREATE\s+ROLE\b|ALTER\s+ROLE\b|"
    r"CREATE\s+FULLTEXT\b|ALTER\s+FULLTEXT\b|"
    r"CREATE\s+XML\s+SCHEMA\s+COLLECTION\b|"
    r"CREATE\s+(?:OR\s+ALTER\s+)?(?:PROC(?:EDURE)?|FUNCTION|TRIGGER)\b|"
    r"ALTER\s+(?:PROC(?:EDURE)?|FUNCTION|TRIGGER)\b|"
    r"CREATE\s+PARTITION\b|CREATE\s+ASSEMBLY\b|"
    r"DROP\b|INSERT\b|UPDATE\b|DELETE\b|"
    r"EXEC(?:UTE)?\s+(?!sys\.sp_addextendedproperty|sp_addextendedproperty)"
)

#: one match classifies a statement: each group names its ``DdlParser._<kind>``
#: handler, tried in this order
_STATEMENT = re.compile(
    r"\s*(?:"
    r"(?P<setvar>:setvar\s)"
    r"|(?P<arithabort>ALTER\s+DATABASE\b(?s:.*)ARITHABORT\s+OFF)"
    r"|(?P<create_table>CREATE\s+TABLE\b)"
    r"|(?P<alter_table>ALTER\s+TABLE\b)"
    r"|(?P<create_index>CREATE\s+(?:UNIQUE\s+)?(?:(?:NON)?CLUSTERED\s+)?INDEX\b)"
    r"|(?P<alter_index>ALTER\s+INDEX\b)"
    r"|(?P<create_view>CREATE\s+VIEW\b)"
    r"|(?P<create_type>CREATE\s+TYPE\b)"
    r"|(?P<create_schema>CREATE\s+SCHEMA\b)"
    r"|(?P<create_sequence>CREATE\s+SEQUENCE\b)"
    r"|(?P<extended_property>EXEC(?:UTE)?\s+(?:sys\.)?sp_addextendedproperty\b)"
    rf"|(?P<skip>{_SKIP})"
    r")",
    re.IGNORECASE,
)
_SETVAR = re.compile(r':setvar\s+(\S+)\s+"?([^"]*)"?\s*$', re.IGNORECASE)

_INDEX_COL = re.compile(rf"{_IDENT}\s*(ASC|DESC)?\s*$", re.IGNORECASE)
_TABLE_HEADER = re.compile(rf"\s*CREATE\s+TABLE\s+{_QIDENT}\s*\(", re.IGNORECASE)
_TABLE_CONSTRAINT = re.compile(
    r"(CONSTRAINT\b|PRIMARY\s+KEY\b|UNIQUE\b|FOREIGN\s+KEY\b|CHECK\b)", re.IGNORECASE
)
_COMPUTED = re.compile(rf"{_IDENT}\s+AS\s+\(", re.IGNORECASE)
_COLUMN = re.compile(
    rf"^{_IDENT}\s+"  # column name
    r"(?:\[(?P<bt>[a-zA-Z_][^\]]*)\]|(?P<ut>[a-zA-Z_]\w*))"  # [type] | type
    # .[type] | .type: the first token was the type's schema ([dbo].[Phone])
    r"(?:\.(?:\[(?P<qbt>[a-zA-Z_][^\]]*)\]|(?P<qut>[a-zA-Z_]\w*)))?"
    rf"\s*(?P<qual>{_QUAL})?"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_PERSISTED = re.compile(r"\bPERSISTED\b", re.IGNORECASE)
_NOT_NULL = re.compile(r"\bNOT\s+NULL\b", re.IGNORECASE)
_IDENTITY_ARGS = re.compile(r"\bIDENTITY\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)", re.IGNORECASE)
_IDENTITY = re.compile(r"\bIDENTITY\b", re.IGNORECASE)
_ROWGUIDCOL = re.compile(r"\bROWGUIDCOL\b", re.IGNORECASE)
_SPARSE = re.compile(r"\bSPARSE\b", re.IGNORECASE)
_COLLATE = re.compile(r"\bCOLLATE\s+(\S+)", re.IGNORECASE)
_INLINE_DEFAULT = re.compile(rf"(?:CONSTRAINT\s+{_IDENT}\s+)?DEFAULT\s*\(", re.IGNORECASE)
_INLINE_PK = re.compile(r"\bPRIMARY\s+KEY\b", re.IGNORECASE)
_INLINE_UNIQUE = re.compile(r"\bUNIQUE\b", re.IGNORECASE)
_NAMED_CONSTRAINT = re.compile(
    rf"^CONSTRAINT\s+{_IDENT}\s+(?P<rest>.*)$", re.IGNORECASE | re.DOTALL
)
_PRIMARY_KEY = re.compile(r"PRIMARY\s+KEY\b", re.IGNORECASE)
_UNIQUE = re.compile(r"UNIQUE\b", re.IGNORECASE)
_FOREIGN_KEY = re.compile(r"FOREIGN\s+KEY\b", re.IGNORECASE)
_CHECK = re.compile(r"CHECK\b", re.IGNORECASE)
_DEFAULT = re.compile(r"DEFAULT\b", re.IGNORECASE)
_REFERENCES = re.compile(rf"REFERENCES\s+{_QIDENT}\s*\(", re.IGNORECASE)
_ON_DELETE_CASCADE = re.compile(r"ON\s+DELETE\s+CASCADE", re.IGNORECASE)
_ON_DELETE_SET_NULL = re.compile(r"ON\s+DELETE\s+SET\s+NULL", re.IGNORECASE)
_ON_UPDATE_CASCADE = re.compile(r"ON\s+UPDATE\s+CASCADE", re.IGNORECASE)
_ON_UPDATE_SET_NULL = re.compile(r"ON\s+UPDATE\s+SET\s+NULL", re.IGNORECASE)
_ALTER_TABLE_ADD = re.compile(
    rf"\s*ALTER\s+TABLE\s+{_QIDENT}\s+(WITH\s+(NO)?CHECK\s+)?ADD\s+(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DEFAULT_FOR = re.compile(rf"FOR\s+{_IDENT}", re.IGNORECASE)
_INDEX_HEADER = re.compile(
    rf"\s*CREATE\s+(?P<u>UNIQUE\s+)?((NON)?CLUSTERED\s+)?INDEX\s+{_IDENT}\s+ON\s+{_QIDENT}\s*\(",
    re.IGNORECASE,
)
_SKIPPED_INDEX = re.compile(r"\s*CREATE\s+(SPATIAL|FULLTEXT|COLUMNSTORE)\b", re.IGNORECASE)
_INCLUDE = re.compile(r"\bINCLUDE\s*\(", re.IGNORECASE)
_INDEX_WHERE = re.compile(
    r"\bWHERE\s+(?P<pred>.*?)(?:\bWITH\s*\(|\bON\s+\[|$)", re.IGNORECASE | re.DOTALL
)
_ALTER_INDEX = re.compile(
    rf"\s*ALTER\s+INDEX\s+{_IDENT}\s+ON\s+{_QIDENT}\s+(?P<action>\w+)", re.IGNORECASE
)
_VIEW = re.compile(
    rf"\s*CREATE\s+VIEW\s+{_QIDENT}\s*(?P<cols>\([^)]*\))?\s*AS\s+(?P<body>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DOMAIN = re.compile(
    rf"\s*CREATE\s+TYPE\s+{_QIDENT}\s+FROM\s+\[?(\w+)\]?\s*({_QUAL})?", re.IGNORECASE
)
_TABLE_TYPE = re.compile(rf"\s*CREATE\s+TYPE\s+{_QIDENT}\s+AS\s+TABLE\s*\(", re.IGNORECASE)
_TABLE_TYPE_SKIP = re.compile(r"(PRIMARY\s+KEY|UNIQUE|CHECK|INDEX)\b", re.IGNORECASE)
_SCHEMA = re.compile(rf"\s*CREATE\s+SCHEMA\s+{_IDENT}", re.IGNORECASE)
_SEQUENCE = re.compile(rf"\s*CREATE\s+SEQUENCE\s+{_QIDENT}", re.IGNORECASE)
_SEQUENCE_ATTRS = tuple(
    (attr, re.compile(pat, re.IGNORECASE))
    for attr, pat in [
        ("start", r"START\s+WITH\s+(-?\d+)"),
        ("step", r"INCREMENT\s+BY\s+(-?\d+)"),
        ("min_value", r"MINVALUE\s+(-?\d+)"),
        ("max_value", r"MAXVALUE\s+(-?\d+)"),
        ("cache", r"CACHE\s+(\d+)"),
    ]
)
_EP_ARG = re.compile(r"@(\w+)\s*=\s*N?'((?:[^']|'')*)'", re.IGNORECASE)


def _split_top_commas(s: str) -> list[str]:
    """Top-level comma split, parts stripped, a trailing empty part dropped."""
    parts = [p.strip() for p in split_top(s, ",")]
    if not parts[-1]:
        parts.pop()
    return parts


def _outer_parens(s: str, start: int = 0) -> tuple[str, int]:
    """Return (inner text, index after closing paren) of the first balanced
    paren group at/after ``start`` (string-literal-aware)."""
    group = paren_group(s, s.index("(", start))
    if group is None:
        raise DdlParseError(f"unbalanced parens in: {s[:120]!r}")
    return group


def _cols_list(inner: str) -> list[IndexColumn]:
    out = []
    for item in _split_top_commas(inner):
        m = _INDEX_COL.match(item.strip())
        if not m:
            raise DdlParseError(f"bad index/key column: {item!r}")
        out.append(
            IndexColumn(
                name=normalize_identifier(_unescape(m.group(1))),
                ascending=(m.group(2) or "ASC").upper() == "ASC",
            )
        )
    return out


def _string_cols(table: Table) -> frozenset[str]:
    """The table's string-typed columns, over which T-SQL ``+`` concatenates."""
    return frozenset(c.name for c in table.columns.values() if c.spark_type == "string")


def _default(raw: str, col_type: str) -> TsqlExpr:
    """A DEFAULT's expression (reference B7, :633-683), nested parens
    stripped. A bit column's 0/1 becomes false/true: PG rejects an integer
    default on a boolean column (tests/test_live_pg.py)."""
    inner = raw.strip()
    while inner.startswith("(") and inner.endswith(")"):
        inner = inner[1:-1].strip()
    if col_type == "bit" and inner in ("0", "1"):
        inner = "true" if inner == "1" else "false"
    return TsqlExpr(inner)


@dataclass
class ParserOptions:
    identifier_mode: str = "lower"
    numeric_as_int: bool = False
    relabel: dict[str, str] | None = None
    drop_rowversion: bool = False
    #: reference -i flag: text columns become case-insensitive (citext in PG;
    #: here: marked for lower()-normalized comparison, :386-418)
    case_insensitive: bool = False


class DdlParser:
    def __init__(self, options: ParserOptions | None = None):
        self.opt = options or ParserOptions()
        self.catalog = Catalog()
        #: where SQL Server's ``dbo`` lands: an unqualified user type not
        #: in its table's schema is looked up here
        self._dbo = relabel_schema("dbo", self.opt.relabel)
        #: the names of every domain and table type in any schema, so a
        #: column of a system type skips the per-schema lookup
        self._user_types: set[str] = set()

    # -- helpers ------------------------------------------------------------

    def _norm(self, name: str) -> str:
        return normalize_identifier(name, self.opt.identifier_mode, self.catalog.warnings)

    def _ident(self, raw: str) -> str:
        """A name captured by ``_IDENT`` → its catalog name."""
        return self._norm(_unescape(raw))

    def _schema_table(self, schema: str | None, table: str) -> tuple[str, str]:
        """Captured ``_QIDENT`` parts → (catalog schema, catalog name)."""
        s = relabel_schema(_unescape(schema or "dbo").lower(), self.opt.relabel)
        return s, self._ident(table)

    def _get_table(self, schema: str | None, table: str) -> Table:
        s, t = self._schema_table(schema, table)
        sch = self.catalog.schema(s)
        if t not in sch.tables:
            raise DdlParseError(f"ALTER references unknown table {s}.{t}")
        return sch.tables[t]

    def _user_type_schema(
        self, table_schema: str, type_schema: str | None, type_name: str
    ) -> Schema | None:
        """The schema that defines the user type ``type_name`` (a domain or a
        table type), or None. A qualified type is looked up in its own
        schema (relabeled); an unqualified one in its table's schema, then
        in ``dbo``'s (relabeled: ``public`` by default), SQL Server's default
        schema."""
        if type_schema is not None:
            scopes = (relabel_schema(_unescape(type_schema).lower(), self.opt.relabel),)
        else:
            scopes = (table_schema, self._dbo)
        for name in scopes:
            sch = self.catalog.schemas.get(name)
            if sch is not None and (type_name in sch.domains or type_name in sch.table_types):
                return sch
        return None

    # -- entry --------------------------------------------------------------

    def parse(self, text: str) -> Catalog:
        for stmt in clean_statements(text):
            self._dispatch(stmt)
        return self.catalog

    def _dispatch(self, stmt: str) -> None:
        first = stmt.lstrip()
        m = _STATEMENT.match(first)
        if m is None:
            raise DdlParseError(f"unknown statement: {first.splitlines()[0][:120]!r}")
        getattr(self, f"_{m.lastgroup}")(stmt)

    def _setvar(self, stmt: str) -> None:
        m = _SETVAR.match(stmt.lstrip())
        if m:
            self.catalog.variables[m.group(1)] = m.group(2)

    def _arithabort(self, stmt: str) -> None:
        self.catalog.warnings.append(
            "ARITHABORT OFF detected — computed-column semantics may differ "
            "(reference warns, sqlserver2pgsql.pl:2496-2508)"
        )

    def _skip(self, stmt: str) -> None:
        pass

    # -- CREATE TABLE -------------------------------------------------------

    def _create_table(self, stmt: str) -> None:
        m = _TABLE_HEADER.match(stmt)
        if not m:
            raise DdlParseError(f"bad CREATE TABLE header: {stmt[:120]!r}")
        schema_raw, name_raw = m.group(1), m.group(2)
        s, t = self._schema_table(schema_raw, name_raw)
        body, _ = _outer_parens(stmt, stmt.index("("))

        table = Table(name=t, orig_schema=_unescape(schema_raw or "dbo"),
                      orig_name=_unescape(name_raw))
        sch = self.catalog.schema(s)
        sch.tables[t] = table

        pos = 0
        for item in _split_top_commas(body):
            item = item.strip()
            if not item:
                continue
            if _TABLE_CONSTRAINT.match(item):
                self._table_constraint(table, item)
            else:
                pos += 1
                col = self._parse_column(s, t, item, pos)
                if col is not None:
                    table.columns[col.name] = col

    def _parse_column(self, schema: str, tname: str, item: str, pos: int) -> Column | None:
        # computed column: [name] AS (expr) [PERSISTED] [NOT NULL] (:1576-1616)
        m = _COMPUTED.match(item)
        if m:
            expr, end = _outer_parens(item, item.index("(", m.end() - 1))
            rest = item[end:]
            # the catalog knows which referenced columns are strings, so
            # T-SQL `+` translates to concat for them (FIXTURES.md F6: the
            # reference punts computed columns to comments, :1576-1616 —
            # this engine evaluates them as projections)
            # only Spark reads them, so they are rendered for it here
            tbl = self.catalog.schema(schema).tables.get(tname)
            string_cols = _string_cols(tbl) if tbl else frozenset()
            return Column(
                name=self._ident(m.group(1)),
                orig_name=_unescape(m.group(1)),
                type_name="computed",
                spark_type="string",
                computed_expr=translate_tsql_expr(expr, "spark", string_cols).sql,
                persisted=bool(_PERSISTED.search(rest)),
                nullable=not _NOT_NULL.search(rest),
                position=pos,
            )

        m = _COLUMN.match(item)
        if not m:
            raise DdlParseError(f"bad column definition: {item[:120]!r}")
        cname_raw = _unescape(m.group(1))
        bt, ut, qbt, qut, qual, rest = m.group("bt", "ut", "qbt", "qut", "qual", "rest")
        type_schema, type_raw = None, bt or ut
        if qbt or qut:
            type_schema, type_raw = type_raw, qbt or qut
        type_raw = type_raw.strip().lower()
        if self.opt.drop_rowversion and type_raw in ("rowversion", "timestamp"):
            return None  # reference -drop_rowversion (:1437-1443)

        md = _INLINE_DEFAULT.search(rest)
        if md:
            raw_default, end = _outer_parens(rest, rest.index("(", md.end() - 1))
            # the attribute searches below must not read a keyword in the
            # default's literal (DEFAULT ('NOT NULL')) as the column's own
            rest = f"{rest[:md.start()]} {rest[end:]}"

        cname = self._norm(cname_raw)
        sch = self.catalog.schema(schema)
        table_types = None
        if type_raw in self._user_types:
            home = self._user_type_schema(schema, type_schema, type_raw)
            if home is not None:
                table_types = home.table_types
                if type_raw in home.domains:
                    # a domain column is its base type (:1898-1913)
                    type_raw, qual = home.domains[type_raw]
        conv = convert_type(
            type_raw,
            qual,
            column=cname,
            numeric_as_int=self.opt.numeric_as_int,
            table_types=table_types,
        )
        col = Column(
            name=cname,
            orig_name=cname_raw,
            type_name=type_raw,
            type_qual=qual,
            spark_type=conv.spark_type,
            pg_type=conv.pg_type,
            position=pos,
            check_exprs=conv.check_exprs,
        )
        self.catalog.warnings.extend(conv.warnings)

        mi = _IDENTITY_ARGS.search(rest)
        if mi:
            col.identity = IdentitySpec(int(mi.group(1)), int(mi.group(2)))
            seq = Sequence(
                name=f"{tname}_{cname}_seq",
                start=col.identity.start,
                step=col.identity.step,
                owner_schema=schema,
                owner_table=tname,
                owner_column=cname,
            )
            sch.sequences[seq.name] = seq
        elif _IDENTITY.search(rest):
            col.identity = IdentitySpec()

        col.is_rowguidcol = bool(_ROWGUIDCOL.search(rest))
        col.is_sparse = bool(_SPARSE.search(rest))
        mc = _COLLATE.search(rest)
        if mc:
            col.collation = mc.group(1)
        if conv.is_character:
            col.case_insensitive = self.opt.case_insensitive or bool(
                col.collation and "_CI" in col.collation.upper()
            )
            if col.case_insensitive:
                # citext (reference :386-418); the length limit becomes a
                # char_length CHECK in the unsure script
                col.pg_type = "citext"
        col.nullable = not _NOT_NULL.search(rest)

        if md:
            col.default = _default(raw_default, col.type_name)
            col.default_name = md.group(1)

        # LOB flag, inline PRIMARY KEY / UNIQUE (incl. memory-optimized HASH
        # form); absent for table-type bodies, which aren't registered as tables
        tbl = sch.tables.get(tname)
        if tbl is not None:
            tbl.has_lobs = tbl.has_lobs or conv.is_lob
            if _INLINE_PK.search(rest):
                tbl.primary_key = UniqueConstraint(name=None, cols=[cname], is_primary=True)
            elif _INLINE_UNIQUE.search(rest):
                tbl.uniques.append(UniqueConstraint(name=None, cols=[cname]))
        return col

    def _table_constraint(self, table: Table, item: str) -> None:
        """``[CONSTRAINT name] PRIMARY KEY | UNIQUE | FOREIGN KEY | CHECK …``,
        a CREATE TABLE body item or the tail of ``ALTER TABLE … ADD``."""
        name = None
        m = _NAMED_CONSTRAINT.match(item)
        if m:
            name = self._ident(m.group(1))
            item = m.group("rest")

        if _PRIMARY_KEY.match(item):
            inner, _ = _outer_parens(item)
            table.primary_key = UniqueConstraint(
                name=name, cols=[c.name for c in _cols_list(inner)], is_primary=True
            )
        elif _UNIQUE.match(item):
            inner, _ = _outer_parens(item)
            table.uniques.append(
                UniqueConstraint(name=name, cols=[c.name for c in _cols_list(inner)])
            )
        elif _FOREIGN_KEY.match(item):
            self._add_fk(table, name, item)
        elif _CHECK.match(item):
            self._add_check(table, name, item)
        else:
            raise DdlParseError(f"unknown table constraint: {item[:120]!r}")

    def _add_fk(self, table: Table, name: str | None, item: str) -> None:
        cols_inner, end = _outer_parens(item)
        mref = _REFERENCES.search(item[end:])
        if not mref:
            raise DdlParseError(f"FOREIGN KEY without REFERENCES: {item[:120]!r}")
        ref_inner, _ = _outer_parens(item[end:], item[end:].index("(", mref.end() - 1))
        rs, rt = self._schema_table(mref.group(1), mref.group(2))
        fk = ForeignKey(
            name=name,
            cols=[c.name for c in _cols_list(cols_inner)],
            ref_schema=rs,
            ref_table=rt,
            ref_cols=[c.name for c in _cols_list(ref_inner)],
        )
        tail = item[end:]
        if _ON_DELETE_CASCADE.search(tail):
            fk.on_delete = "CASCADE"
        elif _ON_DELETE_SET_NULL.search(tail):
            fk.on_delete = "SET NULL"
        if _ON_UPDATE_CASCADE.search(tail):
            fk.on_update = "CASCADE"
        elif _ON_UPDATE_SET_NULL.search(tail):
            fk.on_update = "SET NULL"
        table.foreign_keys.append(fk)

    def _add_check(self, table: Table, name: str | None, item: str) -> None:
        # CHECK [NOT FOR REPLICATION] (expr)
        raw, _ = _outer_parens(item)
        table.checks.append(CheckConstraint(name=name, expr=TsqlExpr(raw, _string_cols(table))))

    # -- ALTER TABLE --------------------------------------------------------

    def _alter_table(self, stmt: str) -> None:
        m = _ALTER_TABLE_ADD.match(stmt)
        if not m:
            # other ALTER TABLE forms (ENABLE/DISABLE TRIGGER, SET …) → skip,
            # like the reference's ignore list; the dispatcher only routes
            # ALTER TABLE statements here
            return
        table = self._get_table(m.group(1), m.group(2))
        rest = m.group("rest").strip()
        mc = _NAMED_CONSTRAINT.match(rest)
        body = mc.group("rest").strip() if mc else rest
        if not _DEFAULT.match(body):
            self._table_constraint(table, rest)
            return
        # ADD CONSTRAINT df DEFAULT (x) FOR [col] (:2178-2205)
        raw, end = _outer_parens(body)
        mf = _DEFAULT_FOR.search(body[end:])
        if not mf:
            raise DdlParseError(f"DEFAULT without FOR: {body[:120]!r}")
        col = table.columns.get(self._ident(mf.group(1)))
        if col is not None:
            col.default = _default(raw, col.type_name)
            col.default_name = self._ident(mc.group(1)) if mc else None

    # -- indexes ------------------------------------------------------------

    def _create_index(self, stmt: str) -> None:
        m = _INDEX_HEADER.match(stmt)
        if not m:
            # spatial/fulltext/columnstore → skipped like the reference (:2065-2073)
            if _SKIPPED_INDEX.match(stmt):
                return
            raise DdlParseError(f"bad CREATE INDEX: {stmt[:120]!r}")
        idx_name = self._ident(m.group(4))
        table = self._get_table(m.group(5), m.group(6))
        inner, end = _outer_parens(stmt, m.end() - 1)
        idx = Index(name=idx_name, unique=bool(m.group("u")), cols=_cols_list(inner))

        tail = stmt[end:]
        mi = _INCLUDE.search(tail)
        if mi:
            inc_inner, inc_end = _outer_parens(tail, tail.index("(", mi.end() - 1))
            idx.include = [c.name for c in _cols_list(inc_inner)]
            tail = tail[:mi.start()] + tail[inc_end:]
        mw = _INDEX_WHERE.search(tail)
        if mw:
            pred = mw.group("pred").strip().rstrip(")")
            # rebalance: the corpus contains over-parenthesized predicates
            opens, closes = pred.count("("), pred.count(")")
            if opens > closes:
                pred += ")" * (opens - closes)
            idx.where = TsqlExpr(pred, _string_cols(table))
        table.indexes[idx.name] = idx

    def _alter_index(self, stmt: str) -> None:
        m = _ALTER_INDEX.match(stmt)
        if not m:
            raise DdlParseError(f"bad ALTER INDEX: {stmt[:120]!r}")
        table = self._get_table(m.group(2), m.group(3))
        idx = table.indexes.get(self._ident(m.group(1)))
        if idx and m.group("action").upper() == "DISABLE":
            idx.disabled = True  # emitted commented-out by the reference (:2841-2844)

    # -- views --------------------------------------------------------------

    def _create_view(self, stmt: str) -> None:
        m = _VIEW.match(stmt)
        if not m:
            raise DdlParseError(f"bad CREATE VIEW: {stmt[:120]!r}")
        s, v = self._schema_table(m.group(1), m.group(2))
        cols = []
        if m.group("cols"):
            cols = [self._norm(_unbracket(c)) for c in m.group("cols").strip("()").split(",")]
        body = TsqlExpr(m.group("body").strip(), relabel=self.opt.relabel or {})
        self.catalog.schema(s).views[v] = View(name=v, body=body, columns=cols)
        self.catalog.view_order.append((s, v))  # dependency order (:75, :1890)

    # -- types / schemas / sequences ----------------------------------------

    def _create_type(self, stmt: str) -> None:
        # domains and table types are keyed by their lower-cased name, which
        # is how a column names them, in any case and identifier mode
        m = _DOMAIN.match(stmt)
        if m:  # domain (:1898-1913)
            s, _ = self._schema_table(m.group(1), m.group(2))
            key = _unescape(m.group(2)).lower()
            self.catalog.schema(s).domains[key] = (m.group(3).lower(), m.group(4))
            self._user_types.add(key)
            return
        m = _TABLE_TYPE.match(stmt)
        if m:  # composite/table type (:1917-1972)
            s, name = self._schema_table(m.group(1), m.group(2))
            key = _unescape(m.group(2)).lower()
            body, _ = _outer_parens(stmt, m.end() - 1)
            tt = TableType(name=name)
            pos = 0
            for item in _split_top_commas(body):
                if _TABLE_TYPE_SKIP.match(item.strip()):
                    continue
                pos += 1
                col = self._parse_column(s, name, item, pos)
                if col is not None:
                    tt.columns.append(col)
            self.catalog.schema(s).table_types[key] = tt
            self._user_types.add(key)
            return
        raise DdlParseError(f"bad CREATE TYPE: {stmt[:120]!r}")

    def _create_schema(self, stmt: str) -> None:
        m = _SCHEMA.match(stmt)
        if not m:
            raise DdlParseError(f"bad CREATE SCHEMA: {stmt[:120]!r}")
        self.catalog.schema(relabel_schema(_unescape(m.group(1)).lower(), self.opt.relabel))

    def _create_sequence(self, stmt: str) -> None:
        m = _SEQUENCE.match(stmt)
        if not m:
            raise DdlParseError(f"bad CREATE SEQUENCE: {stmt[:120]!r}")
        s, name = self._schema_table(m.group(1), m.group(2))
        seq = Sequence(name=name)
        for attr, pat in _SEQUENCE_ATTRS:
            mm = pat.search(stmt)
            if mm:
                setattr(seq, attr, int(mm.group(1)))
        self.catalog.schema(s).sequences[name] = seq

    # -- extended properties (comments, B16 :2299-2412) ----------------------

    def _extended_property(self, stmt: str) -> None:
        args = {k.lower(): v.replace("''", "'") for k, v in _EP_ARG.findall(stmt)}
        prop = args.get("name", "")
        if prop not in ("MS_Description", "MS_SSMA_SOURCE", "Dictionary"):
            return  # ~50 GUI property names ignored (:2367-2410)
        value = args.get("value", "")
        s = relabel_schema(args.get("level0name", "dbo").lower(), self.opt.relabel)
        l1type = args.get("level1type", "").upper()
        l1 = self._norm(args.get("level1name", "")) if args.get("level1name") else None
        l2type = args.get("level2type", "").upper()
        l2 = self._norm(args.get("level2name", "")) if args.get("level2name") else None

        sch = self.catalog.schema(s)
        if l1type == "TABLE" and l1 in sch.tables:
            table = sch.tables[l1]
            if not l2:
                table.comment = value
            elif l2type == "COLUMN" and l2 in table.columns:
                table.columns[l2].comment = value
            elif l2type == "INDEX" and l2 in table.indexes:
                table.indexes[l2].comment = value
            elif l2type == "CONSTRAINT":
                for c in [table.primary_key, *table.uniques, *table.foreign_keys, *table.checks]:
                    if c is not None and getattr(c, "name", None) == l2:
                        c.comment = value
        elif l1type == "VIEW" and l1 in sch.views:
            sch.views[l1].comment = value
        elif not l1:
            sch.comment = value


def parse_text(text: str, options: ParserOptions | None = None) -> Catalog:
    return DdlParser(options).parse(text)


def parse_dump(path: str, options: ParserOptions | None = None) -> Catalog:
    return parse_text(read_dump(path), options)
