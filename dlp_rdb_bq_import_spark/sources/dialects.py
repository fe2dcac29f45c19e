"""Per-engine SQL dialects for the JDBC source.

The reference is hard-wired to SQL Server: INFORMATION_SCHEMA catalog
queries (ServerUtil.java:47-52) and ``ORDER BY pk OFFSET n ROWS FETCH
NEXT n ROWS ONLY`` pagination (TableToDbRowFn.java:80-89). Those exact
forms are preserved here as the ``sqlserver`` dialect — string-for-
string testable against the reference — while the catalog/pagination
surface is parameterized so other engines plug in without touching the
scan logic:

- ``postgresql`` — same ANSI INFORMATION_SCHEMA + OFFSET/FETCH forms,
  double-quote identifiers.
- ``mysql`` — INFORMATION_SCHEMA exists but has no
  CONSTRAINT_COLUMN_USAGE view; the PK probe goes through
  KEY_COLUMN_USAGE, pagination is LIMIT/OFFSET, identifiers are
  backtick-quoted.
- ``derby`` (the live-test engine: in-process, ships with Spark's JVM)
  — no INFORMATION_SCHEMA at all; catalog discovery uses the standard
  ``java.sql.DatabaseMetaData`` API instead (``catalog_strategy
  "metadata"``), pagination is ANSI OFFSET/FETCH.

Two deliberate divergences from the reference, both documented bugs
there:
- the reference's column/PK probes filter on TABLE_NAME only
  (ServerUtil.java:49-52) — same-named tables in two schemas collide;
  ours adds the TABLE_SCHEMA predicate.
- the reference re-executes each page query twice
  (TableToDbRowFn.java:92-93); our scan path doesn't page at all — it
  hands Spark one range-partitioned read — but ``paged_scan_sql`` is
  provided for parity testing and emits each page's SQL once.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class SqlDialect:
    """SQL text surface for one engine. ``{schema}``/``{table}``/
    ``{pk}``/``{where}`` placeholders are filled by the source; queries
    that list catalog objects take no placeholders."""

    name: str
    catalog_strategy: str  # "information_schema" | "metadata"
    tables_query: str
    columns_query: str
    pk_query: str
    count_query: str
    bounds_query: str
    # Reference-shape pagination (TableToDbRowFn.java:80-89): page i of
    # size n. Kept for parity tests and engines where a caller wants
    # explicit pages; the production scan uses range predicates instead.
    page_template: str
    quote_char: str = '"'

    def quote(self, identifier: str) -> str:
        if self.quote_char == "[":  # SQL Server bracket style
            return "[" + identifier.replace("]", "]]") + "]"
        q = self.quote_char
        return f"{q}{identifier.replace(q, q * 2)}{q}"

    def paged_scan_sql(
        self, schema: str, table: str, pk: str, offset_count: int, page_index: int
    ) -> str:
        """One page of the reference's keyset-less pagination. Emitted
        once per page (the reference double-executes each page —
        TableToDbRowFn.java:92-93 — which we do not reproduce)."""
        return self.page_template.format(
            schema=schema,
            table=table,
            pk=pk,
            offset=offset_count,
            page=page_index,
            # engines that reject arithmetic in LIMIT/OFFSET (MySQL,
            # Derby) get the skip precomputed; the SQL Server template
            # keeps the reference's verbatim OFFSET n * (i - 1) form,
            # which SQL Server and PostgreSQL both accept
            skip=offset_count * (page_index - 1),
        )


SQLSERVER = SqlDialect(
    name="sqlserver",
    catalog_strategy="information_schema",
    # ServerUtil.java:47-48, verbatim.
    tables_query=(
        "SELECT TABLE_SCHEMA, TABLE_NAME, TABLE_TYPE FROM INFORMATION_SCHEMA.TABLES"
    ),
    # ServerUtil.java:49-50 + TABLE_SCHEMA predicate (reference bug: a
    # table name appearing in two schemas returns merged columns).
    columns_query=(
        "SELECT COLUMN_NAME, ORDINAL_POSITION, COLUMN_DEFAULT, IS_NULLABLE, DATA_TYPE "
        "FROM INFORMATION_SCHEMA.COLUMNS WHERE TABLE_SCHEMA = '{schema}' "
        "AND TABLE_NAME = '{table}' ORDER BY ORDINAL_POSITION"
    ),
    # ServerUtil.java:51-52 + TABLE_SCHEMA predicate.
    pk_query=(
        "SELECT COLUMN_NAME FROM INFORMATION_SCHEMA.CONSTRAINT_COLUMN_USAGE "
        "WHERE TABLE_SCHEMA = '{schema}' AND TABLE_NAME = '{table}' "
        "AND CONSTRAINT_NAME LIKE 'PK%'"
    ),
    count_query="SELECT COUNT(*) AS n FROM {schema}.{table}",
    # one probe sizes a ranged scan; ``{where}`` is "" or " WHERE <predicate>"
    bounds_query=(
        "SELECT MIN({pk}) AS lo, MAX({pk}) AS hi, COUNT(*) AS n FROM {schema}.{table}{where}"
    ),
    # TableToDbRowFn.java:80-89, verbatim shape (OFFSET n * (i - 1)).
    page_template=(
        "SELECT * FROM {schema}.{table} ORDER BY {pk} "
        "OFFSET {offset} * ({page} - 1) ROWS FETCH NEXT {offset} ROWS ONLY"
    ),
    quote_char="[",  # SQL Server bracket quoting
)

# The other engines differ from SQL Server only where each says.
POSTGRESQL = replace(
    SQLSERVER,
    name="postgresql",
    tables_query=(
        "SELECT TABLE_SCHEMA, TABLE_NAME, TABLE_TYPE FROM INFORMATION_SCHEMA.TABLES "
        "WHERE TABLE_SCHEMA NOT IN ('pg_catalog', 'information_schema')"
    ),
    quote_char='"',  # ANSI OFFSET/FETCH paging works on PG as is
)

MYSQL = replace(
    SQLSERVER,
    name="mysql",
    tables_query=(
        "SELECT TABLE_SCHEMA, TABLE_NAME, TABLE_TYPE FROM INFORMATION_SCHEMA.TABLES "
        "WHERE TABLE_SCHEMA NOT IN "
        "('mysql', 'sys', 'performance_schema', 'information_schema')"
    ),
    # MySQL has no CONSTRAINT_COLUMN_USAGE; PRIMARY keys live in
    # KEY_COLUMN_USAGE under constraint name 'PRIMARY'.
    pk_query=(
        "SELECT COLUMN_NAME FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE "
        "WHERE TABLE_SCHEMA = '{schema}' AND TABLE_NAME = '{table}' "
        "AND CONSTRAINT_NAME = 'PRIMARY'"
    ),
    # MySQL rejects arithmetic in LIMIT/OFFSET (literals or
    # placeholders only) — the skip is precomputed, not reference-form.
    page_template=(
        "SELECT * FROM {schema}.{table} ORDER BY {pk} "
        "LIMIT {offset} OFFSET {skip}"
    ),
    quote_char="`",
)

DERBY = replace(
    SQLSERVER,
    name="derby",
    catalog_strategy="metadata",  # Derby has no INFORMATION_SCHEMA
    tables_query="",  # unused under the metadata strategy
    columns_query="",
    pk_query="",
    # Derby's result-offset clause takes an integer literal or ?
    # only — precomputed skip, not the reference's arithmetic form.
    page_template=(
        "SELECT * FROM {schema}.{table} ORDER BY {pk} "
        "OFFSET {skip} ROWS FETCH NEXT {offset} ROWS ONLY"
    ),
    quote_char='"',
)

_DIALECTS = {d.name: d for d in (SQLSERVER, POSTGRESQL, MYSQL, DERBY)}
_URL_PREFIXES = {
    "jdbc:sqlserver:": SQLSERVER,
    "jdbc:postgresql:": POSTGRESQL,
    "jdbc:mysql:": MYSQL,
    "jdbc:mariadb:": MYSQL,
    "jdbc:derby:": DERBY,
}


def get_dialect(name: str) -> SqlDialect:
    try:
        return _DIALECTS[name.lower()]
    except KeyError:
        raise ValueError(
            f"unknown SQL dialect {name!r}; known: {sorted(_DIALECTS)}"
        ) from None


def dialect_for_url(url: str) -> SqlDialect:
    """Infer the dialect from the JDBC URL scheme; unknown engines fall
    back to the reference's SQL Server forms (ANSI-leaning)."""
    low = url.lower()
    for prefix, dialect in _URL_PREFIXES.items():
        if low.startswith(prefix):
            return dialect
    return SQLSERVER
