from .model import (
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
from .types import TypeConversion, convert_type
from .identifiers import normalize_identifier, relabel_schema

__all__ = [
    "Catalog",
    "CheckConstraint",
    "Column",
    "ForeignKey",
    "IdentitySpec",
    "Index",
    "IndexColumn",
    "Schema",
    "Sequence",
    "Table",
    "TableType",
    "TsqlExpr",
    "UniqueConstraint",
    "View",
    "TypeConversion",
    "convert_type",
    "normalize_identifier",
    "relabel_schema",
]
