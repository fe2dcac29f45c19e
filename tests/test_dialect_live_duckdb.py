"""Live second-engine validation of the JDBC dialect SQL templates.

Derby (tests/test_jdbc_live.py) only exercises the ``metadata`` catalog
strategy — the ``information_schema`` strategy templates and the
OFFSET/FETCH pagination forms had never executed against a real engine.
DuckDB is that second engine: it implements ANSI INFORMATION_SCHEMA
(tables/columns) and ANSI OFFSET/FETCH, with a PostgreSQL-flavored
parser — so the PostgreSQL dialect's catalog templates run here
verbatim against live metadata, and every pagination template's PAGE
CONTENT is pinned against an independent LIMIT/OFFSET restatement.

Engine-specific caveats validated as such (not skipped silently):
- CONSTRAINT_COLUMN_USAGE is a PG/SQL-Server view DuckDB lacks; the PK
  template's shape is instead executed against KEY_COLUMN_USAGE (the
  MySQL dialect's probe), which DuckDB ships.
- DuckDB rejects arithmetic inside OFFSET (``OFFSET 10 * (2 - 1)
  ROWS``) that SQL Server and PostgreSQL accept; the reference-verbatim
  sqlserver template is validated by substituting the precomputed skip
  and asserting identical pages — the arithmetic itself is pinned
  string-level against TableToDbRowFn.java:80-89 in test_dialects.py.
"""

from __future__ import annotations

import duckdb
import pytest

from dlp_rdb_bq_import_spark.sources.dialects import get_dialect


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute("CREATE SCHEMA app")
    c.execute(
        "CREATE TABLE app.users ("
        "id BIGINT PRIMARY KEY, name VARCHAR, bal DOUBLE)"
    )
    c.execute(
        "INSERT INTO app.users "
        "SELECT range, 'u' || range, range * 1.5 FROM range(100)"
    )
    c.execute("CREATE TABLE app.extra (k INT)")
    yield c
    c.close()


def test_pg_tables_query_lists_user_tables_live(con):
    d = get_dialect("postgresql")
    rows = con.execute(d.tables_query).fetchall()
    names = {(r[0], r[1]) for r in rows}
    assert ("app", "users") in names and ("app", "extra") in names
    # the NOT IN predicate really excludes system schemas
    assert all(r[0] not in ("pg_catalog", "information_schema") for r in rows)
    assert all(len(r) == 3 for r in rows)  # SCHEMA, NAME, TYPE


def test_pg_columns_query_live_ordinal_order_and_types(con):
    d = get_dialect("postgresql")
    q = d.columns_query.format(schema="app", table="users")
    rows = con.execute(q).fetchall()
    assert [r[0] for r in rows] == ["id", "name", "bal"]  # ordinal order
    assert [r[1] for r in rows] == [1, 2, 3]
    assert rows[0][4].upper() == "BIGINT"
    # schema predicate is effective: same query for the other table
    q2 = d.columns_query.format(schema="app", table="extra")
    assert [r[0] for r in con.execute(q2).fetchall()] == ["k"]


def test_mysql_pk_probe_shape_executes_live(con):
    # DuckDB ships KEY_COLUMN_USAGE (the MySQL probe's view); execute
    # the template to prove the shape is valid SQL against live
    # metadata, dropping only the engine-specific constraint-name
    # filter (DuckDB names PK constraints differently than 'PRIMARY').
    d = get_dialect("mysql")
    q = d.pk_query.format(schema="app", table="users")
    base = q.rsplit(" AND CONSTRAINT_NAME", 1)[0]
    rows = con.execute(base).fetchall()
    assert ("id",) in rows or rows == []  # executes; content engine-specific


def test_count_and_bounds_templates_live(con):
    d = get_dialect("postgresql")
    n = con.execute(
        d.count_query.format(schema="app", table="users")
    ).fetchone()[0]
    assert n == 100
    lo, hi, n = con.execute(
        d.bounds_query.format(schema="app", table="users", pk="id", where="")
    ).fetchone()
    assert (lo, hi) == (0, 99)
    assert n == 100


@pytest.mark.parametrize("dialect", ["derby", "mysql"])
def test_precomputed_skip_pagination_live(con, dialect):
    """The Derby/MySQL page templates (precomputed skip) run verbatim
    on DuckDB; every page's contents must equal the independent
    LIMIT/OFFSET restatement, and pages must tile the table."""
    d = get_dialect(dialect)
    seen = []
    for page in range(1, 12):
        q = d.paged_scan_sql("app", "users", "id", 10, page)
        rows = con.execute(q).fetchall()
        want = con.execute(
            f"SELECT * FROM app.users ORDER BY id LIMIT 10 OFFSET {10 * (page - 1)}"
        ).fetchall()
        assert rows == want
        seen += [r[0] for r in rows]
    assert seen == list(range(100))  # 10 full pages + 1 empty, no overlap


def test_sqlserver_arithmetic_pagination_semantics(con):
    """DuckDB rejects arithmetic inside OFFSET, so the reference-
    verbatim sqlserver template is validated semantically: substituting
    the evaluated ``{offset} * ({page} - 1)`` yields a query DuckDB
    runs, and its pages match the precomputed-skip dialect exactly."""
    d = get_dialect("sqlserver")
    derby = get_dialect("derby")
    for page in (1, 2, 7):
        q = d.paged_scan_sql("app", "users", "id", 10, page)
        assert f"OFFSET 10 * ({page} - 1) ROWS" in q  # reference form intact
        evaluated = q.replace(
            f"OFFSET 10 * ({page} - 1) ROWS", f"OFFSET {10 * (page - 1)} ROWS"
        )
        rows = con.execute(evaluated).fetchall()
        want = con.execute(
            derby.paged_scan_sql("app", "users", "id", 10, page)
        ).fetchall()
        assert rows == want and len(rows) == 10
