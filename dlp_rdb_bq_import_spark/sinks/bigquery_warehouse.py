"""BigQuery adapter for the dynamic-destination warehouse sink
(VERDICT r12 task 6) — the actual destination of the reference import
pipeline (DBImportPipeline.java:115-132: per-table dynamic
destinations, create-on-demand, WRITE_APPEND), written against the
PUBLIC ``google-cloud-bigquery`` client the same way
``jdbc_warehouse.py`` is written against JDBC:

- IMPORT-GUARDED: the client library is imported only inside
  ``_default_client()`` when no ``client_factory`` is injected;
  constructing the sink costs nothing without the package, and a
  missing install raises at first use with an actionable message.
- SEAM-TESTED: ``client_factory`` injects any object with the small
  client protocol used here (``create_dataset``, ``get_table``,
  ``load_table_from_file``, ``copy_table``, ``delete_table``,
  ``list_rows``) — the contract tests drive the adapter with an
  in-memory fake through the same surface tests the JDBC/parquet
  warehouses pass, without the package installed.

The staged-atomic contract is ``StagedSink``'s; the BigQuery job
primitives:

- staging is a fresh ``<table>_stg<hex>`` table in the dataset (created
  on demand), filled by load jobs from the DataFrame written to parquet
  locally (at deployment scale the files would sit on GCS and one
  multi-URI load job would ingest them);
- publish is ONE server-side COPY JOB, which BigQuery executes
  atomically: ``WRITE_APPEND`` for append (an interrupted copy lands
  zero rows), ``WRITE_TRUNCATE`` + ``CREATE_IF_NEEDED`` for create and
  overwrite (the destination swaps complete-or-not-at-all);
- discard is ``delete_table(staging, not_found_ok=True)``.

``read`` surfaces rows via ``list_rows`` → Arrow → DataFrame — the
contract/readback surface; a production read path would use the Spark
BigQuery connector, which is a cluster deployment concern, not an
adapter one.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from .warehouse import StagedSink


class TableNotFound(Exception):
    """Adapter-level not-found: fakes raise it directly; real-client
    calls translate ``google.api_core.exceptions.NotFound`` (detected
    by class name, so the package is never imported here)."""


def _is_not_found(e: Exception) -> bool:
    return isinstance(e, TableNotFound) or type(e).__name__ == "NotFound"


class BigQueryWarehouse(StagedSink):
    """Dataset/table namespace on one BigQuery project. ``dataset``
    maps to a BigQuery dataset (created on demand), ``full_name`` to a
    table; write/read/table_exists mirror the parquet and JDBC
    warehouses exactly."""

    def __init__(self, project: str, client_factory=None, location: str = "US"):
        if not project:
            raise ValueError("BigQueryWarehouse requires a project id")
        self.project = project
        self.location = location
        self._client_factory = client_factory
        self._client = None

    # -- client plumbing ----------------------------------------------------

    def _default_client(self):  # pragma: no cover - package not in container
        try:
            from google.cloud import bigquery
        except ImportError as e:
            raise ImportError(
                "BigQueryWarehouse needs the 'google-cloud-bigquery' package "
                "(pip install google-cloud-bigquery) or an injected "
                "client_factory"
            ) from e
        return bigquery.Client(project=self.project, location=self.location)

    @property
    def client(self):
        if self._client is None:
            self._client = (
                self._client_factory() if self._client_factory else self._default_client()
            )
        return self._client

    def qualified(self, dataset: str, full_name: str) -> str:
        return f"{self.project}.{dataset}.{full_name}"

    # -- surface (parquet/JDBC warehouse parity) ----------------------------

    def table_exists(self, spark: SparkSession, dataset: str, full_name: str) -> bool:
        try:
            self.client.get_table(self.qualified(dataset, full_name))
            return True
        except Exception as e:
            if _is_not_found(e):
                return False
            raise

    # -- staged-write primitives ---------------------------------------------

    @staticmethod
    def _staging_name(dest: str) -> str:
        return f"{dest}_stg{uuid.uuid4().hex[:8]}"

    def _write_attempt(self, df: DataFrame, staging: str) -> None:
        """DataFrame → parquet part files → one load job per file into
        the staging table; each job's ``result()`` surfaces its error
        inside this attempt."""
        self.client.create_dataset(staging.rsplit(".", 1)[0], exists_ok=True)
        tmp = tempfile.mkdtemp(prefix="bqstage_")
        try:
            df.write.mode("overwrite").parquet(tmp)
            parts = sorted(
                os.path.join(tmp, f)
                for f in os.listdir(tmp)
                if f.endswith(".parquet")
            )
            for p in parts:
                with open(p, "rb") as fh:
                    job = self.client.load_table_from_file(
                        fh, staging, job_config=self._parquet_load_config()
                    )
                job.result()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _publish(self, spark: SparkSession, staging: str, dest: str, how: str) -> None:
        self.client.copy_table(
            staging, dest, job_config=self._copy_config(how)
        ).result()

    def _discard(self, spark: SparkSession, staging: str) -> None:
        self.client.delete_table(staging, not_found_ok=True)

    # -- job configs --------------------------------------------------------

    def _parquet_load_config(self):
        """Real-client LoadJobConfig(source_format=PARQUET); fakes that
        don't ship the config classes get None and must default."""
        try:  # pragma: no cover - package not in container
            from google.cloud import bigquery

            return bigquery.LoadJobConfig(
                source_format=bigquery.SourceFormat.PARQUET
            )
        except ImportError:
            return None

    def _copy_config(self, how: str):
        try:  # pragma: no cover - package not in container
            from google.cloud import bigquery

            return bigquery.CopyJobConfig(
                write_disposition=(
                    bigquery.WriteDisposition.WRITE_APPEND
                    if how == "append"
                    else bigquery.WriteDisposition.WRITE_TRUNCATE
                ),
                create_disposition=bigquery.CreateDisposition.CREATE_IF_NEEDED,
            )
        except ImportError:
            return {"mode": how}  # fakes interpret the plain dict

    def read(self, spark: SparkSession, dataset: str, full_name: str) -> DataFrame:
        rows = self.client.list_rows(self.qualified(dataset, full_name))
        arrow = rows.to_arrow()
        return spark.createDataFrame(arrow.to_pandas())
