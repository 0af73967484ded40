"""The engine's data model — a typed catalog tree.

Re-expression of the reference's global ``$objects`` hashref
(sqlserver2pgsql.pl:21-28, shape documented in SURVEY.md §1.1) as dataclasses:
SCHEMAS→TABLES→COLS plus CONSTRAINTS/INDEXES/SEQUENCES/VIEWS/DOMAINS/
TABLE_TYPES, with the per-object attributes the reference tracks (haslobs,
identity, defaults+unsure, comments, FK actions, partial-index predicates).

The catalog is pure metadata — Spark enters via ``spark_schema.to_struct_type``
and the constraint-validation operator generators (operators/constraints.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class IdentitySpec:
    """IDENTITY(start, step) (reference :1451-1481). Negative seeds/steps are
    legal (issue_112.sql: IDENTITY(-1,-1))."""

    start: int = 1
    step: int = 1


@dataclass
class DefaultValue:
    """Parsed DEFAULT: the translated expression plus the reference's UNSURE
    marker for function-call defaults it can't guarantee (:633-683)."""

    raw: str
    sql: str
    unsure: bool = False
    constraint_name: str | None = None


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
    default: DefaultValue | None = None
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
    raw: str  # original T-SQL predicate
    sql: str  # translated Spark SQL predicate
    unsure: bool = False
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
    where_raw: str | None = None  # partial-index predicate (unsure bucket)
    where_sql: str | None = None
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
    raw_sql: str  # original T-SQL body
    sql: str | None = None  # translated Spark SQL (None → unsure)
    columns: list[str] = field(default_factory=list)
    unsure: bool = False
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
