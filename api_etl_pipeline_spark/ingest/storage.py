"""Sink-table DDL bootstrap (SURVEY.md §2.1 S8) + sink reads.

The reference bootstraps its SQLite schema idempotently
(`CREATE TABLE IF NOT EXISTS`, storage/db.py:6-39); Spark-first this is
idempotent `CREATE TABLE IF NOT EXISTS ... USING PARQUET` against the
session catalog — same property: calling it N times yields one schema,
no data loss.

Each sink's columns are declared once below; the DDL and the explicit
read schema (`read_sink`) are both derived from that declaration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RESPONSES_COLUMNS = (
    ("provider", "STRING NOT NULL"),
    ("method", "STRING NOT NULL"),
    ("url", "STRING NOT NULL"),
    ("params_json", "STRING"),
    ("status_code", "INT NOT NULL"),
    ("headers_json", "STRING"),
    ("body", "BINARY"),
    ("created_at", "TIMESTAMP"),
)

ARTIFACTS_COLUMNS = (
    ("provider", "STRING NOT NULL"),
    ("source_url", "STRING NOT NULL"),
    ("sha256", "STRING NOT NULL"),
    ("bytes", "BIGINT NOT NULL"),
    ("blob_path", "STRING"),
    ("response_id", "BIGINT"),
    ("created_at", "TIMESTAMP"),
)

# content-addressed blob store (dedup.write_blobs); `bucket` is the
# hash-prefix partition directory
BLOBS_COLUMNS = (
    ("sha256", "STRING"),
    ("body", "BINARY"),
    ("bucket", "STRING"),
)


def _create_ddl(columns) -> str:
    body = ",\n".join(f"    {name} {sql_type}" for name, sql_type in columns)
    return f"\nCREATE TABLE IF NOT EXISTS {{name}} (\n{body}\n) USING PARQUET\n"


RESPONSES_DDL = _create_ddl(RESPONSES_COLUMNS)
ARTIFACTS_DDL = _create_ddl(ARTIFACTS_COLUMNS)


def read_sink(spark: SparkSession, path: str, columns) -> DataFrame | None:
    """The parquet sink at `path`, read with its declared columns, or None
    when the path does not exist yet (a fresh warehouse). Existence is
    asked of the path's own Hadoop FileSystem, so non-local warehouses
    work the same way. Any other failure (an unreadable file, a wrong
    type) is left to the reader and fails the run: treating it as an
    empty sink would silently re-insert rows that already exist."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    # the session's Hadoop conf, as the parquet reader itself would use
    fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(hpath):
        return None
    schema = ", ".join(f"{name} {sql_type}" for name, sql_type in columns)
    return spark.read.schema(schema).parquet(path)


def bootstrap_tables(
    spark: SparkSession,
    responses: str = "responses_sink",
    artifacts: str = "artifacts_sink",
) -> None:
    """S8: idempotent schema bootstrap (db.py:7,19). The UNIQUE
    (source_url, sha256) constraint has no parquet-table equivalent —
    it is enforced at write time by dedup.dedup_insert (J2), exactly
    like the reference enforces it via INSERT OR IGNORE."""
    spark.sql(RESPONSES_DDL.format(name=responses))
    spark.sql(ARTIFACTS_DDL.format(name=artifacts))
