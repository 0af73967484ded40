"""sqlserver2pgsql_spark — a PySpark-native engine with the query and
data-processing capabilities of dalibo/sqlserver2pgsql.

The reference (/root/reference/sqlserver2pgsql.pl) is a schema-migration +
Kettle-job generator; its capability surface is re-expressed here Spark-first:

- ``catalog``   — the data model (§1 of SURVEY.md): schemas/tables/columns/
                  constraints/indexes/sequences/views + the MSSQL→Spark/PostgreSQL
                  type matrix.
- ``ddl``       — the SSMS-dump DDL front-end (reference parse_dump,
                  sqlserver2pgsql.pl:1512-2576) → Catalog, and DDL emitters.
- ``sources``   — parquet/JDBC readers, incl. the partitioned-read heuristic
                  (reference sqlserver2pgsql.pl:949-963).
- ``operators`` — dataflow operators A1-A13 (SURVEY.md §2.A) plus the
                  LLM-data-pipeline extensions (dedup, similarity, text).
- ``functions`` — the T-SQL → Spark SQL / PostgreSQL expression translator
                  (reference :587-630), the one home of T-SQL scalar semantics.
- ``plans``     — per-table transfer-plan builder + orchestrator
                  (reference generate_kettle, :925-1352).
- ``streaming`` — Structured Streaming re-expression of the incremental sync.
"""

__version__ = "0.1.0"
