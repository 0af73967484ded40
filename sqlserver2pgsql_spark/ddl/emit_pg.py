"""PostgreSQL DDL emitters — before / after / unsure script split.

Re-expression of the reference's generate_schema (B15, sqlserver2pgsql.pl:
2580-3171) with the same three-file contract (README.md:73-79):

- before: schemas, tables, columns (load the data against this),
- after : PKs, uniques, indexes, FKs, defaults, comments (apply post-load —
  the constraint/index deferral policy, README.md:75-77),
- unsure: views, CHECK constraints, partial indexes — anything whose
  translated SQL (rendered for PostgreSQL by functions.translate) can't be
  guaranteed.

Emission order matches the reference: schemas → tables → sequences → PK →
unique → indexes → FK → checks → defaults → comments → views.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..catalog.identifiers import pg_quote
from ..catalog.model import Catalog


@dataclass
class EmitOptions:
    """Emission knobs mirroring the reference's CLI (GetOptions :3272-3312).

    - ``validate_constraints``: 'yes' (default — plain FKs), 'after' (FKs
      added NOT VALID; a VALIDATE CONSTRAINT statement per FK goes to the
      unsure script, to run once data is loaded), or 'no' (NOT VALID, never
      validated) — reference :2950-2959. The reference only marks NOT VALID
      when the source constraint had a usable name; this emitter always
      names constraints (fallback ``<table>_<cols>_fkey``), so every FK is
      validatable.
    - ``use_identity_column``: emit ``GENERATED ALWAYS AS IDENTITY`` on the
      owning column instead of CREATE SEQUENCE + nextval default —
      reference :2722-2744.
    """

    validate_constraints: str = "yes"
    use_identity_column: bool = False
    #: reference -skip_citext_length_check: omit the char_length CHECK that
    #: replaces the length qualifier citext drops
    skip_citext_length_check: bool = False

_PLAIN_NAME = re.compile(r"[a-z_][a-z0-9_$]*")


def _regclass(schema: str, name: str) -> str:
    """``schema.name`` as regclass text for nextval(): a part PostgreSQL
    would case-fold or split (``ship.mode`` from ``[Ship.Mode]``) is
    double-quoted."""
    parts = (p if _PLAIN_NAME.fullmatch(p) else pg_quote(p) for p in (schema, name))
    return ".".join(parts).replace("'", "''")


def emit_before(catalog: Catalog, opts: EmitOptions | None = None) -> str:
    opts = opts or EmitOptions()
    out: list[str] = ["\\set ON_ERROR_STOP", "BEGIN;"]
    if any(
        c.case_insensitive
        for _, t in catalog.all_tables()
        for c in t.columns.values()
    ):
        out.append("CREATE EXTENSION IF NOT EXISTS citext;")  # (:2615-2618)
    for k, v in catalog.variables.items():
        out.append(f"\\set {k} '{v}'")
    for sname in sorted(catalog.schemas):
        if sname != "public":
            out.append(f"CREATE SCHEMA IF NOT EXISTS {pg_quote(sname)};")
    for sname, table in catalog.all_tables():
        cols = []
        for c in table.ordered_columns():
            if c.computed_expr is not None:
                continue  # reference declares varchar + comment (:1576-1616);
                # we keep computed columns virtual (projection-only)
            null = "" if c.nullable else " NOT NULL"
            cols.append(f"  {pg_quote(c.name)} {c.pg_type}{null}")
        out.append(
            f"CREATE TABLE {pg_quote(sname)}.{pg_quote(table.name)} (\n"
            + ",\n".join(cols)
            + "\n);"
        )
    for sname in sorted(catalog.schemas):
        for seq in catalog.schemas[sname].sequences.values():
            if opts.use_identity_column and seq.owner_table:
                continue  # ALTER COLUMN … ADD GENERATED … goes in the after script
            parts = [f"CREATE SEQUENCE {pg_quote(sname)}.{pg_quote(seq.name)}"]
            if seq.step != 1:
                parts.append(f"INCREMENT BY {seq.step}")
            if seq.step < 0:
                parts.append("MINVALUE -9223372036854775807")
            parts.append(f"START WITH {seq.start}")
            out.append(" ".join(parts) + ";")
    out.append("COMMIT;")
    return "\n".join(out) + "\n"


def emit_after(catalog: Catalog, opts: EmitOptions | None = None) -> str:
    opts = opts or EmitOptions()
    out: list[str] = ["\\set ON_ERROR_STOP", "BEGIN;"]
    qual = lambda s, t: f"{pg_quote(s)}.{pg_quote(t)}"  # noqa: E731
    if opts.use_identity_column:
        # IDENTITY becomes a true identity column on the owner (:2722-2744)
        for sname in sorted(catalog.schemas):
            for seq in catalog.schemas[sname].sequences.values():
                if not seq.owner_table:
                    continue
                stmt = (
                    f"ALTER TABLE {pg_quote(sname)}.{pg_quote(seq.owner_table)} "
                    f"ALTER COLUMN {pg_quote(seq.owner_column)} "
                    "ADD GENERATED ALWAYS AS IDENTITY"
                )
                details = []
                if seq.start != 1:
                    details.append(f"START WITH {seq.start}")
                if seq.step != 1:
                    details.append(f"INCREMENT BY {seq.step}")
                if details:
                    stmt += " ( " + " ".join(details) + " )"
                out.append(stmt + ";")
    else:
        # sequence mode must WIRE the sequence to its column or inserts
        # without an explicit id fail — the serial default (:1449-1460)
        for sname in sorted(catalog.schemas):
            for seq in catalog.schemas[sname].sequences.values():
                if not seq.owner_table:
                    continue
                out.append(
                    f"ALTER TABLE {pg_quote(sname)}.{pg_quote(seq.owner_table)} "
                    f"ALTER COLUMN {pg_quote(seq.owner_column)} "
                    f"SET DEFAULT nextval('{_regclass(sname, seq.name)}');"
                )
    for sname, table in catalog.all_tables():
        tq = qual(sname, table.name)
        if table.primary_key:
            cols = ", ".join(pg_quote(c) for c in table.primary_key.cols)
            name = table.primary_key.name or f"{table.name}_pkey"
            out.append(f"ALTER TABLE {tq} ADD CONSTRAINT {pg_quote(name)} PRIMARY KEY ({cols});")
        for u in table.uniques:
            cols = ", ".join(pg_quote(c) for c in u.cols)
            name = u.name or f"{table.name}_{'_'.join(u.cols)}_key"
            out.append(f"ALTER TABLE {tq} ADD CONSTRAINT {pg_quote(name)} UNIQUE ({cols});")
    for sname, table in catalog.all_tables():
        tq = qual(sname, table.name)
        for idx in table.indexes.values():
            if idx.where is not None:
                continue  # partial indexes → unsure
            cols = ", ".join(
                f"{pg_quote(c.name)}{'' if c.ascending else ' DESC'}" for c in idx.cols
            )
            stmt = f"CREATE {'UNIQUE ' if idx.unique else ''}INDEX {pg_quote(idx.name)} ON {tq} ({cols})"
            if idx.include:
                stmt += " INCLUDE (" + ", ".join(pg_quote(c) for c in idx.include) + ")"
            stmt += ";"
            if idx.disabled:
                stmt = "-- disabled in source: " + stmt  # (:2841-2844)
            out.append(stmt)
    for sname, table in catalog.all_tables():
        tq = qual(sname, table.name)
        for fk in table.foreign_keys:
            cols = ", ".join(pg_quote(c) for c in fk.cols)
            rcols = ", ".join(pg_quote(c) for c in fk.ref_cols)
            name = fk.name or f"{table.name}_{'_'.join(fk.cols)}_fkey"
            stmt = (
                f"ALTER TABLE {tq} ADD CONSTRAINT {pg_quote(name)} FOREIGN KEY ({cols}) "
                f"REFERENCES {pg_quote(fk.ref_schema)}.{pg_quote(fk.ref_table)} ({rcols})"
            )
            if fk.on_delete:
                stmt += f" ON DELETE {fk.on_delete}"
            if fk.on_update:
                stmt += f" ON UPDATE {fk.on_update}"
            if opts.validate_constraints in ("after", "no"):
                # loaded-data FKs are added unvalidated (:2950-2959); 'after'
                # pairs this with VALIDATE CONSTRAINT in the unsure script
                stmt += " NOT VALID"
            out.append(stmt + ";")
        for c in table.ordered_columns():
            if c.default and not (d := c.default.render("pg")).unsure:  # else unsure script
                out.append(f"ALTER TABLE {tq} ALTER COLUMN {pg_quote(c.name)} SET DEFAULT {d.sql};")
            if c.comment:
                out.append(
                    f"COMMENT ON COLUMN {tq}.{pg_quote(c.name)} IS '{c.comment.replace(chr(39), chr(39)*2)}';"
                )
        if table.comment:
            out.append(f"COMMENT ON TABLE {tq} IS '{table.comment.replace(chr(39), chr(39)*2)}';")
    out.append("COMMIT;")
    return "\n".join(out) + "\n"


def emit_unsure(catalog: Catalog, opts: EmitOptions | None = None) -> str:
    opts = opts or EmitOptions()
    out: list[str] = []
    qual = lambda s, t: f"{pg_quote(s)}.{pg_quote(t)}"  # noqa: E731
    if opts.validate_constraints == "after":
        for sname, table in catalog.all_tables():
            for fk in table.foreign_keys:
                name = fk.name or f"{table.name}_{'_'.join(fk.cols)}_fkey"
                out.append(
                    f"ALTER TABLE {qual(sname, table.name)} "
                    f"VALIDATE CONSTRAINT {pg_quote(name)};"
                )
    for sname, table in catalog.all_tables():
        tq = qual(sname, table.name)
        for ck in table.checks:
            name = ck.name or "check"
            out.append(f"ALTER TABLE {tq} ADD CONSTRAINT {pg_quote(name)} CHECK ({ck.expr.render('pg').sql});")
        for idx in table.indexes.values():
            if idx.where is None:
                continue
            cols = ", ".join(pg_quote(c.name) for c in idx.cols)
            out.append(
                f"CREATE {'UNIQUE ' if idx.unique else ''}INDEX {pg_quote(idx.name)} "
                f"ON {tq} ({cols}) WHERE {idx.where.sql('pg') or idx.where.tsql};"
            )
        for c in table.ordered_columns():
            if c.default and (d := c.default.render("pg")).unsure:
                out.append(f"ALTER TABLE {tq} ALTER COLUMN {pg_quote(c.name)} SET DEFAULT {d.sql};")
            if (
                not opts.skip_citext_length_check
                and c.case_insensitive
                and c.type_qual
                and c.type_qual.strip("() ").isdigit()
            ):
                # citext drops the length qualifier → CHECK instead (:386-418)
                n = c.type_qual.strip("() ")
                out.append(
                    f"ALTER TABLE {tq} ADD CONSTRAINT {pg_quote(c.name + '_len')} "
                    f"CHECK (char_length({pg_quote(c.name)}) <= {n});"
                )
    for sname, vname in catalog.view_order:
        v = catalog.schemas[sname].views[vname]
        cols = f" ({', '.join(pg_quote(c) for c in v.columns)})" if v.columns else ""
        out.append(f"CREATE VIEW {pg_quote(sname)}.{pg_quote(vname)}{cols} AS {v.body.sql('pg') or v.body.tsql};")
    # trigger functions, then the triggers that bind them (reference
    # :3122-3161 — declared last in the unsure script, after everything they
    # might reference exists)
    for sname in sorted(catalog.schemas):
        for fname in sorted(catalog.schemas[sname].trig_functions):
            tf = catalog.schemas[sname].trig_functions[fname]
            out.append(
                f"CREATE FUNCTION {pg_quote(sname)}.{pg_quote(tf.name)}() "
                f"RETURNS trigger LANGUAGE {tf.language} AS $def$\n"
                f"{tf.body}\n$def$;"
            )
    for sname, table in catalog.all_tables():
        for trg in table.triggers:
            out.append(
                f"CREATE TRIGGER {pg_quote(trg.name)} {trg.events} "
                f"ON {qual(sname, table.name)} {trg.when} "
                f"EXECUTE PROCEDURE {pg_quote(sname)}.{pg_quote(trg.function)}();"
            )
    return "\n".join(out) + "\n"
