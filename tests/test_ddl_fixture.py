"""A hand-written SSMS dump (tests/data/ssms_sample.sql) through the whole
schema plane: parse, name-conflict resolution and the three emitted scripts.

The golden scripts next to the dump were produced by the previous parser
(per-character scanners, commit 13c6fe3) on the dump without its last
section. The lines for that section (``[Sales Orders]`` and a view over it:
bracketed names with spaces, dots and ``]]``, which that parser rejected or
misread) were checked by hand, and test_bracketed_names spells them out.
Lines changed since, each by a rule: the unsure script's ``lastorder``
column, where ``CONVERT(varchar(10), …, 120)`` keeps 10 characters, as in
SQL Server; ``mobile``, typed by the domain ``Phone``, is its base type
``varchar(20)`` (it was ``text``); the view bodies name ``public.…`` tables,
as they are created (they said ``dbo.…``); and the translator renders
PostgreSQL for the scripts, so ``placed``'s DATEADD default is interval
arithmetic in the after script (it was Spark's ``timestampadd``, in the
unsure script) and ``lastorder`` calls ``to_char`` (it called Spark's
``date_format``).
The dump exercises the reader and parser corners an SSMS export has: a
block comment holding a quote, a literal holding ``/*``, ``''`` escapes, a
missing ``GO``, the unbalanced ``WHERE ((ID) > 10))``, ``sp_executesql``
unwrapping, nested-paren defaults, computed columns, ``INCLUDE`` and
filtered indexes, ``CREATE TYPE … AS TABLE``, sequences and extended
properties.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re

from sqlserver2pgsql_spark.catalog.conflicts import resolve_name_conflicts
from sqlserver2pgsql_spark.ddl import parse_dump, parse_text
from sqlserver2pgsql_spark.ddl.emit_pg import emit_after, emit_before, emit_unsure
from sqlserver2pgsql_spark.ddl.spark_schema import _table_ref_rewriter

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DUMP = os.path.join(DATA, "ssms_sample.sql")


def _golden(suffix: str) -> str:
    with open(os.path.join(DATA, f"ssms_sample.{suffix}"), encoding="utf-8") as f:
        return f.read()


def test_fixture_matches_golden_scripts():
    cat = parse_dump(DUMP)
    renames = resolve_name_conflicts(cat)
    assert emit_before(cat) == _golden("before.sql")
    assert emit_after(cat) == _golden("after.sql")
    assert emit_unsure(cat) == _golden("unsure.sql")
    assert {"renames": renames, "warnings": cat.warnings} == json.loads(_golden("notes.json"))


def test_fixture_catalog_corners():
    cat = parse_dump(DUMP)
    public, sales = cat.schemas["public"], cat.schemas["sales"]
    customers = public.tables["customers"]
    # the literal holding /* and a paren survives comment stripping and grouping
    assert customers.columns["note"].default.tsql == "'it''s /* not a comment */ (really'"
    assert customers.columns["fulllabel"].computed_expr is not None
    assert customers.comment == "Customer's master record"
    # the missing GO before [sales].[Regions], and after the unbalanced WHERE
    assert set(sales.tables["regions"].indexes) == {"ix_regions_id", "ix_regions_code"}
    assert sales.tables["regions"].indexes["ix_regions_id"].where.tsql == "((ID) > 10)"
    orders = public.tables["orders"]
    assert orders.indexes["ix_orders_customer"].include == ["amount", "status"]
    assert orders.foreign_keys[0].on_delete == "CASCADE"
    assert [c.name for c in public.table_types["orderlines"].columns] == ["lineno", "sku", "qty"]
    seq = public.sequences["invoiceno"]
    assert (seq.start, seq.step, seq.min_value, seq.max_value, seq.cache) == (1000, 5, 1, 9999999, 20)
    assert public.views["vfrenchcustomers"].body.tsql.endswith("WHERE [Region] = N'FR'")


def test_bracketed_names():
    """Inside brackets anything but ``]`` is part of the name, and ``]]`` is
    a literal ``]`` (T-SQL quoting rules)."""
    cat = parse_dump(DUMP)
    table = cat.schemas["public"].tables["sales_orders"]
    assert table.orig_schema == "dbo"
    cols = table.ordered_columns()
    assert [(c.name, c.orig_name, c.type_name) for c in cols] == [
        ("order_id", "Order Id", "int"),
        ("order_date", "Order Date", "datetime"),
        ("ship.mode", "Ship.Mode", "nvarchar"),
        ("odd]name", "Odd]Name", "int"),
    ]
    assert table.primary_key.name == "pk_sales_orders"
    assert table.primary_key.cols == ["order_id"]
    assert table.columns["order_date"].default.sql("spark") == "current_timestamp()"
    assert table.columns["order_date"].default.sql("pg") == "CURRENT_TIMESTAMP"
    assert table.columns["order_date"].comment == "When the order was taken"
    idx = table.indexes["ix_sales_orders_order_date"]
    assert [(c.name, c.ascending) for c in idx.cols] == [("order_date", False)]
    view = cat.schemas["public"].views["sales_order_dates"]
    assert view.columns == ["order_id", "order_date"]
    assert 'CREATE VIEW "public"."sales_order_dates" ("order_id", "order_date")' in emit_unsure(cat)
    # each ]] is unescaped once: [a]]]]b] names the column a]]b
    cols = parse_text("CREATE TABLE [x]([a]]]]b] [int] NULL)").schemas["public"].tables["x"].columns
    assert [(c.name, c.orig_name) for c in cols.values()] == [("a]]b", "a]]b")]

    before, after = emit_before(cat), emit_after(cat)
    assert (
        'CREATE TABLE "public"."sales_orders" (\n'
        '  "order_id" integer NOT NULL,\n'
        '  "order_date" timestamp,\n'
        '  "ship.mode" varchar(20),\n'
        '  "odd]name" integer\n'
        ");"
    ) in before
    assert (
        'ALTER TABLE "public"."sales_orders" ADD CONSTRAINT "pk_sales_orders" '
        'PRIMARY KEY ("order_id");'
    ) in after
    assert (
        'CREATE INDEX "ix_sales_orders_order_date" ON "public"."sales_orders" '
        '("order_date" DESC);'
    ) in after


def test_nextval_quotes_names_postgres_would_fold_or_split():
    cat = parse_text(
        "CREATE TABLE [dbo].[T]([Ship.Mode] [int] IDENTITY(1,1) NOT NULL,\n"
        "[x] [int] NULL)\nGO\n"
        "CREATE TABLE [dbo].[U]([id] [int] IDENTITY(1,1) NOT NULL)\nGO\n"
    )
    after = emit_after(cat)
    assert "SET DEFAULT nextval('public.\"t_ship.mode_seq\"');" in after
    assert "SET DEFAULT nextval('public.u_id_seq');" in after


def test_parse_compiles_no_pattern_per_call(monkeypatch):
    """Every pattern the parser, reader and translator use is compiled at
    import: a parse makes no ``re._compile`` call (20 perfbench dumps made
    445,778 of them when patterns were passed to ``re.match`` as strings)."""
    with open(DUMP, encoding="utf-8") as f:
        text = f.read()
    calls: list[str] = []
    compile_ = re._compile

    def counting(pattern, flags):
        calls.append(pattern)
        return compile_(pattern, flags)

    monkeypatch.setattr(re, "_compile", counting)
    cat = parse_text(text)
    resolve_name_conflicts(cat)
    emit_before(cat), emit_after(cat), emit_unsure(cat)
    assert calls == []


def _per_name_refs(sql, catalog):
    """The former view-body rewrite: one pattern per name and schema."""
    for sname, schema in catalog.schemas.items():
        for t in list(schema.tables) + list(schema.views):
            for orig_schema in {sname, "dbo"}:
                sql = re.sub(rf"\b{re.escape(orig_schema)}\.\[?{re.escape(t)}\]?\b", t, sql,
                             flags=re.IGNORECASE)
    return sql


def _largest_perfbench_dump() -> str:
    path = os.path.join(os.path.dirname(DATA), "..", "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return max((text for text, _ in gen.make_dumps(1)),
               key=lambda text: (text.count("CREATE VIEW"), len(text)))


def test_table_refs_rewrite_equals_per_name_loop():
    """``register_views`` rewrites ``schema.name`` in view bodies with one
    alternation per catalog; it gives what the loop over every name gave,
    on the fixture and on seed 1's largest perfbench dump (61 views over
    320 tables), raw and translated bodies alike."""
    for cat in (parse_dump(DUMP), parse_text(_largest_perfbench_dump())):
        rewrite = _table_ref_rewriter(cat)
        bodies = [b for s, v in cat.view_order
                  for b in (cat.schemas[s].views[v].body.sql("spark"),
                            cat.schemas[s].views[v].body.tsql) if b]
        assert bodies
        assert [rewrite(b) for b in bodies] == [_per_name_refs(b, cat) for b in bodies]
    cat = parse_text("CREATE TABLE [dbo].[t]([a] [int] NULL)\nGO\n"
                     "CREATE TABLE [dbo].[t2]([a] [int] NULL)\nGO\n")
    assert _table_ref_rewriter(cat)("SELECT * FROM dbo.t2 JOIN DBO.T ON 1=1") \
        == "SELECT * FROM t2 JOIN t ON 1=1"
