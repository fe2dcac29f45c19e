"""The import pipeline — native re-expression of ``DBImportPipeline``
(DBImportPipeline.java:54-166, lifecycle mapped in SURVEY.md §3.1).

Per table: partitioned read → (optional) de-identify → row shaping →
atomic warehouse write; catalog discovery, exclusion filtering and DLP
config binding happen once up front. Tables run concurrently on a
driver thread pool (Spark sessions are thread-safe; each table's write
is an independent distributed job — the replacement for the reference's
per-row dynamic destinations, SURVEY.md §7.4.3). Any per-table failure
is captured as a dead-letter record rather than failing the job
(DBImportPipeline.java:148-162 semantics).
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SqlTable, apply_exclusions, attach_dlp_configs
from ..config import ImportJobOptions, load_dlp_configs
from ..functions.rowshape import (
    cast_to_schema,
    check_header_name,
    conformance_split,
    sanitize_column_names,
    stringify_compat,
)
from ..functions.tokenize import TemplateRegistry, deidentify
from ..sinks.warehouse import Warehouse, WriteResult
from ..sources import get_source

_log = logging.getLogger("dlp_rdb_bq_import_spark")


def shape_table(
    df: DataFrame,
    table: SqlTable,
    templates: TemplateRegistry | None,
    type_mode: str = "fidelity",
    cast: bool = True,
) -> DataFrame:
    """read → tokenize (if configured) → sanitize names → shape types.

    ``cast=False`` stops before the final schema cast so the caller can
    run the row-level conformance split instead (which casts the
    conforming branch itself)."""
    cfg = table.dlp_config
    if cfg and cfg.deid_template and templates and cfg.deid_template in templates:
        df = deidentify(
            df,
            templates.get(cfg.deid_template),
            null_to_empty=(type_mode == "compat"),
        )
    df = sanitize_column_names(df)
    if type_mode == "compat":
        image_cols = {
            c.name for c in table.columns if c.data_type.upper().startswith("IMAGE")
        }
        df = stringify_compat(df, image_cols)
    elif cast:
        # Cast back to the discovered schema (tokenization is
        # format-preserving, so tokenized numerics still cast cleanly).
        target = table.spark_schema(mode=type_mode)
        if set(target.fieldNames()) == set(df.columns):
            df = cast_to_schema(df, target)
    return df


def run_import(
    spark: SparkSession,
    options: ImportJobOptions,
    templates: TemplateRegistry | None = None,
    source=None,
) -> list[WriteResult]:
    source = source if source is not None else get_source(options.jdbc_spec)
    warehouse = Warehouse(options.warehouse_dir)

    # Catalog stage (CreateTableMapDoFn parity: discover → exclude → bind config).
    tables = source.list_tables(spark)
    tables = apply_exclusions(tables, options.excluded_tables)
    configs = load_dlp_configs(options.dlp_config) if options.dlp_config else None
    tables = attach_dlp_configs(tables, configs)

    results: list[WriteResult] = []

    def import_one(table: SqlTable) -> WriteResult:
        # a source without ``scan`` (a wrapper, say) rejects nothing
        if not hasattr(source, "scan"):
            df = source.read_table(spark, table, offset_count=options.offset_count)
            return import_scan(table, df, None, "row")
        with source.scan(spark, table, offset_count=options.offset_count) as (df, rejected):
            return import_scan(table, df, rejected, getattr(source, "REJECT_UNIT", "row"))

    def import_scan(table: SqlTable, df: DataFrame, rejected, reject_unit: str) -> WriteResult:
        cfg = table.dlp_config
        if rejected is not None and reject_unit == "row" and cfg and cfg.deid_template:
            # a rejected row never reached deidentify: quarantine the
            # hash of its raw text, which locates it in the source
            payload = F.concat(F.lit("sha256:"), F.sha2("payload", 256))
            rejected = rejected.withColumn("payload", payload)
        target = table.spark_schema(mode=options.type_mode)
        split = (
            options.row_quarantine
            and options.type_mode == "fidelity"
            and set(target.fieldNames())
            == {check_header_name(c) for c in df.columns}
        )
        df = shape_table(df, table, templates, options.type_mode, cast=not split)
        # Row-level failed-insert capture: violators (and what the
        # source rejected) quarantined with payload, conforming rows
        # still written (the reference's getFailedInserts semantics —
        # one poisoned row must not cost the table). Persist so the two
        # branches don't re-run the source scan twice.
        parent = df.persist() if split else None
        violations = rejected
        try:
            if split:
                df, bad = conformance_split(parent, target)
                violations = bad if rejected is None else bad.unionByName(rejected)
            res = warehouse.write(
                df, options.dataset, table.full_name, max_retries=options.write_retries
            )
            if violations is None:
                return res
            try:
                n = warehouse.quarantine_rows(violations, options.dataset, table.full_name)
            except Exception as e:  # the table's rows may be visible: keep its destination
                prior = f"{res.error}\n" if res.error else ""
                res.status, res.error = "failed", f"{prior}row quarantine failed: {e}"
                return res
            if n:
                files = reject_unit == "file" and rejected is not None
                res.rejected_files = rejected.count() if files else 0
                res.quarantined_rows = n - res.rejected_files
                _log.warning(
                    "import %s: %d rows and %d files quarantined to %s/_quarantine_rows",
                    table.full_name, res.quarantined_rows, res.rejected_files,
                    options.dataset,
                )
            return res
        finally:
            if parent is not None:
                parent.unpersist()

    with ThreadPoolExecutor(max_workers=options.max_parallel_tables) as pool:
        futures = {pool.submit(import_one, t): t for t in tables}
        for fut, table in futures.items():
            try:
                results.append(fut.result())
            except Exception as e:  # catalog/read errors → failed result
                results.append(WriteResult(table.full_name, "", "failed", str(e)))

    # Single dead-letter channel: every failure (read/shape exceptions and
    # failed writes alike) is quarantined exactly once, keyed by full_name.
    dead_letters = [
        {"table": r.table, "error": r.error} for r in results if r.status == "failed"
    ]
    warehouse.quarantine(options.dataset, dead_letters)
    return results
