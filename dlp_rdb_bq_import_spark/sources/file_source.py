"""Delimited/JSON-lines file source: a directory of ``<table>.csv`` /
``<table>.jsonl`` files as a catalog (S11-ext of SURVEY.md §2.1 — the
formats a user migrating off the reference's JDBC-only surface brings
along with parquet).

Schema strategy mirrors the reference's two-step catalog read
(ServerUtil.java:179-204 column scan → typed row mapping,
TableToDbRowFn.java:190-238): a bounded sampling pass infers the
schema once at catalog time (``samplingRatio``/``inferSchema`` read a
prefix, not the whole file), and the full scan then uses that frozen
schema — so a late malformed row cannot silently flip a column to
string between catalog time and read time.

The full scan is ``spark.read.text`` + ``from_csv``/``from_json``
expressions rather than the csv/json *source*: parsing as an
expression keeps the raw text of a malformed line in the corrupt-record
column of the parsed struct, so malformed rows route to a quarantine
DataFrame (``read_corrupt``; through ``scan`` it reaches
``run_import``'s row quarantine — the file-format analogue of the
reference's failed-insert dead letters, DBImportPipeline.java:134-146)
without the source-level restriction that forbids corrupt-column-only
queries. ``scan`` caches that one parse for an import, so clean rows
and rejects do not each re-read the file. The text scan is splittable,
so partitioning follows the session's maxPartitionBytes exactly as
parquet does.
"""

from __future__ import annotations

import csv
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import SqlTable
from .base import DirSource

CORRUPT_COL = "_corrupt"


class FileDirSource(DirSource):
    """One table per ``<name>.<ext>`` file; ext picks the reader."""

    EXTENSIONS = {".csv": "csv", ".jsonl": "json", ".json": "json", ".ndjson": "json"}

    def __init__(
        self,
        directory: str,
        schema_name: str = "main",
        csv_options: dict[str, str] | None = None,
        infer_rows: int = 10_000,
    ):
        super().__init__(directory, schema_name)
        self.csv_options = {"header": "true", **(csv_options or {})}
        self._has_header = self.csv_options["header"].lower() == "true"
        self.infer_rows = infer_rows
        self._schemas: dict[str, T.StructType] = {}

    def _catalog_schema(self, spark: SparkSession, fmt: str, path: str) -> T.StructType:
        if path in self._schemas:
            return self._schemas[path]
        # Bounded inference: materialize only the first infer_rows
        # lines via the text source and infer over that prefix
        # (a .limit() AFTER .csv(inferSchema=true) would not bound
        # the inference scan — inference runs over the whole file
        # when the reader is defined, before the limit applies).
        # The header is split off MANUALLY: Spark's csv-over-dataset
        # reader with header=true drops every line byte-identical to
        # the header, which would hide header-identical data rows
        # from inference.
        lines = [r["value"] for r in spark.read.text(path).limit(self.infer_rows + 1).collect()]
        names = None
        if fmt == "csv" and self._has_header and lines:
            sep = self.csv_options.get("sep", self.csv_options.get("delimiter", ","))
            names, lines = next(csv.reader(lines[:1], delimiter=sep)), lines[1:]
        if fmt == "json":
            # DROPMALFORMED: a malformed line adds no _corrupt_record column
            rdd = spark.sparkContext.parallelize(lines, 1)
            schema = spark.read.option("mode", "DROPMALFORMED").json(rdd).schema
        elif not lines:  # header-only file: all-string columns
            schema = T.StructType([T.StructField(n, T.StringType()) for n in names or []])
        else:
            opts = {k: v for k, v in self.csv_options.items() if k != "header"}
            sample = (
                spark.read.options(**opts)
                .options(header="false", inferSchema="true")
                .csv(spark.sparkContext.parallelize(lines, 1))
            )
            if names is not None and len(names) == len(sample.columns):
                sample = sample.toDF(*names)
            schema = sample.schema
        self._schemas[path] = schema
        return schema

    def _reader(self, spark: SparkSession, fmt: str, path: str) -> DataFrame:
        """Rows of one parsed struct ``r``; ``r[CORRUPT_COL]`` holds the
        raw line exactly for lines that failed the frozen schema."""
        schema = self._catalog_schema(spark, fmt, path)
        if not schema.fields:
            raise ValueError(f"{path}: no line of its inference prefix parses: no columns")
        with_corrupt = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
        raw = spark.read.text(path)
        opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
        if fmt == "csv":
            if self._has_header:
                # The header is data to from_csv — drop the first
                # PHYSICAL line only. For a single-file text scan the
                # file's first line is row 0 of partition 0, i.e. the
                # unique row with monotonically_increasing_id() == 0;
                # a data row that happens to be byte-identical to the
                # header survives (filtering on line CONTENT would
                # silently drop it).
                raw = raw.withColumn("_line_no", F.monotonically_increasing_id()).where(
                    F.col("_line_no") != 0
                ).drop("_line_no")
            csv_opts = {
                **{k: v for k, v in self.csv_options.items() if k != "header"},
                **opts,
            }
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in with_corrupt)
            parsed = F.from_csv(F.col("value"), ddl, csv_opts)
        else:
            parsed = F.from_json(F.col("value"), with_corrupt, opts)
        return raw.select(parsed.alias("r"))

    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        """Clean rows only, typed to the frozen schema."""
        return _clean(self._reader(spark, *self._path_for(table)))

    def read_corrupt(self, spark: SparkSession, table: SqlTable) -> DataFrame:
        """The dead-letter side: raw text of rows that failed the frozen
        schema (quarantine feed, S9 parity)."""
        return _corrupt(self._reader(spark, *self._path_for(table)))

    @contextmanager
    def scan(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> Iterator[tuple[DataFrame, DataFrame]]:
        fmt, path = self._path_for(table)
        parsed = self._reader(spark, fmt, path).persist()
        try:
            yield _clean(parsed), _corrupt(parsed).select(
                F.col("raw").alias("payload"),
                F.lit(f"line of {path} does not parse under the catalog schema").alias("error"),
            )
        finally:
            parsed.unpersist()


def _clean(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col(f"r.{CORRUPT_COL}").isNull()).select("r.*").drop(CORRUPT_COL)


def _corrupt(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col(f"r.{CORRUPT_COL}").isNotNull()).select(
        F.col(f"r.{CORRUPT_COL}").alias("raw")
    )
