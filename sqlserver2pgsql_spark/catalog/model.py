"""The engine's data model — a typed catalog tree.

Re-expression of the reference's global ``$objects`` hashref
(sqlserver2pgsql.pl:21-28, shape documented in SURVEY.md §1.1) as dataclasses:
SCHEMAS→TABLES→COLS plus CONSTRAINTS/INDEXES/SEQUENCES/VIEWS/DOMAINS/
TABLE_TYPES, with the per-object attributes the reference tracks (haslobs,
identity, defaults, comments, FK actions, partial-index predicates).

Every T-SQL expression is kept as written (:class:`TsqlExpr`) and rendered
for Spark or PostgreSQL when a consumer asks.

The catalog is pure metadata — Spark enters via ``spark_schema.to_struct_type``
and the constraint-validation operator generators (operators/constraints.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from ..functions import translate  # a module import: translate imports catalog.types
from .identifiers import relabel_qualifiers


@dataclass
class IdentitySpec:
    """IDENTITY(start, step) (reference :1451-1481). Negative seeds/steps are
    legal (issue_112.sql: IDENTITY(-1,-1))."""

    start: int = 1
    step: int = 1


@dataclass(eq=False)
class TsqlExpr:
    """A T-SQL expression as the dump wrote it, and the context its
    translation needs. ``render`` translates it for ``"spark"`` or ``"pg"``
    once per dialect, on first use; ``unsure`` is the reference's UNSURE
    marker (:633-683)."""

    tsql: str
    #: columns known to be strings, so ``+`` over them concatenates
    string_idents: frozenset[str] = frozenset()
    #: a view body's ``--relabel`` map ({}: ``dbo`` → ``public`` only), which
    #: its schema qualifiers follow; None leaves qualifiers as written
    relabel: dict[str, str] | None = None
    _rendered: dict[str, translate.TranslationResult] = field(
        default_factory=dict, init=False, repr=False)

    def render(self, dialect: str) -> translate.TranslationResult:
        r = self._rendered.get(dialect)
        if r is None:
            r = translate.translate_tsql_expr(self.tsql, dialect, self.string_idents)
            if self.relabel is not None:
                r = replace(r, sql=relabel_qualifiers(r.sql, self.relabel))
            self._rendered[dialect] = r
        return r

    def sql(self, dialect: str) -> str | None:
        """The rendering for ``dialect``, or None when it is unsure."""
        r = self.render(dialect)
        return None if r.unsure else r.sql


@dataclass
class Column:
    name: str
    orig_name: str
    #: normalized mssql base type, e.g. 'varchar' (a domain's base type)
    type_name: str
    type_qual: str | None = None  # '(35)', '(10, 0)', '(max)' …
    spark_type: str = "string"  # Spark DDL type string
    pg_type: str = "text"  # PostgreSQL column type (citext when case-insensitive)
    nullable: bool = True
    position: int = 0
    #: DEFAULT: nested parens stripped; a bit column's 0/1 is false/true
    default: TsqlExpr | None = None
    default_name: str | None = None  # the DEFAULT constraint's name
    identity: IdentitySpec | None = None
    computed_expr: str | None = None  # AS (expr) — translated, run as projection
    persisted: bool = False
    is_rowguidcol: bool = False
    is_sparse: bool = False
    collation: str | None = None
    #: compare lower-cased (citext mode -i, or a *_CI_* column collation)
    case_insensitive: bool = False
    comment: str | None = None
    check_exprs: list[str] = field(default_factory=list)  # length checks etc.


@dataclass
class UniqueConstraint:
    name: str | None
    cols: list[str]
    is_primary: bool = False
    comment: str | None = None


@dataclass
class ForeignKey:
    name: str | None
    cols: list[str]
    ref_schema: str
    ref_table: str
    ref_cols: list[str]
    on_delete: str | None = None  # 'CASCADE' | 'SET NULL'
    on_update: str | None = None
    comment: str | None = None


@dataclass
class CheckConstraint:
    name: str | None
    expr: TsqlExpr  # the predicate
    comment: str | None = None


@dataclass
class IndexColumn:
    name: str
    ascending: bool = True


@dataclass
class Index:
    name: str
    unique: bool = False
    cols: list[IndexColumn] = field(default_factory=list)
    include: list[str] = field(default_factory=list)
    where: TsqlExpr | None = None  # partial-index predicate (unsure bucket)
    disabled: bool = False
    comment: str | None = None


@dataclass
class Trigger:
    """A trigger carried on a table (reference :3136-3161 — emitted into the
    unsure script; the reference's parser never populates TRIGGERS, so this
    is an emission-side contract for callers that build catalogs
    programmatically)."""

    name: str
    events: str  # e.g. 'AFTER INSERT OR UPDATE'
    when: str  # 'FOR EACH ROW' | 'FOR EACH STATEMENT'
    function: str  # trigger function name (schema-qualified at emit)


@dataclass
class Table:
    name: str
    orig_schema: str
    columns: dict[str, Column] = field(default_factory=dict)
    primary_key: UniqueConstraint | None = None
    uniques: list[UniqueConstraint] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    checks: list[CheckConstraint] = field(default_factory=list)
    indexes: dict[str, Index] = field(default_factory=dict)
    triggers: list[Trigger] = field(default_factory=list)
    has_lobs: bool = False  # drives the partitioned-scan heuristic (:949-963)
    comment: str | None = None
    orig_name: str | None = None  # the SQL Server name, for source scans

    def ordered_columns(self) -> list[Column]:
        return sorted(self.columns.values(), key=lambda c: c.position)


@dataclass
class Sequence:
    """Synthesized from IDENTITY (reference :1451-1481, :1690-1740)."""

    name: str
    start: int = 1
    step: int = 1
    min_value: int | None = None
    max_value: int | None = None
    cache: int | None = None
    owner_schema: str | None = None
    owner_table: str | None = None
    owner_column: str | None = None


@dataclass
class View:
    name: str
    body: TsqlExpr  # the SELECT, its schema qualifiers relabeled
    columns: list[str] = field(default_factory=list)
    comment: str | None = None


@dataclass
class TableType:
    """CREATE TYPE x AS TABLE(...) → array-of-struct (reference :1917-1972,
    :419-428: columns typed with it become arrays)."""

    name: str
    columns: list[Column] = field(default_factory=list)


@dataclass
class TriggerFunction:
    """CREATE FUNCTION … RETURNS trigger body (reference :3122-3134)."""

    name: str
    body: str
    language: str = "plpgsql"


@dataclass
class Schema:
    name: str
    tables: dict[str, Table] = field(default_factory=dict)
    sequences: dict[str, Sequence] = field(default_factory=dict)
    views: dict[str, View] = field(default_factory=dict)
    #: lower-cased domain name → (base type, qualifier)
    domains: dict[str, tuple[str, str | None]] = field(default_factory=dict)
    #: lower-cased table type name → its type
    table_types: dict[str, TableType] = field(default_factory=dict)
    trig_functions: dict[str, TriggerFunction] = field(default_factory=dict)
    comment: str | None = None


@dataclass
class Catalog:
    schemas: dict[str, Schema] = field(default_factory=dict)
    view_order: list[tuple[str, str]] = field(default_factory=list)  # declaration order (:75)
    variables: dict[str, str] = field(default_factory=dict)  # :setvar (:2415-2421)
    warnings: list[str] = field(default_factory=list)

    def schema(self, name: str) -> Schema:
        if name not in self.schemas:
            self.schemas[name] = Schema(name=name)
        return self.schemas[name]

    def table(self, schema: str, name: str) -> Table | None:
        return self.schemas.get(schema, Schema(schema)).tables.get(name)

    def all_tables(self) -> list[tuple[str, Table]]:
        return [
            (sname, t)
            for sname, s in sorted(self.schemas.items())
            for t in (s.tables[k] for k in sorted(s.tables))
        ]
