"""File sources: validated CSV scan with COPY-csv null semantics, parquet, json.

Reference behavior being re-expressed:

* CSV scan with header + fixed projection, hard-failing when an expected column
  is missing from the header (``/root/reference/dags/patient_claims_plus_postgres.py:40-44``).
* Missing/empty cells load as NULL — the reference writes ``""`` for absent cells
  (``:51``) and streams through ``COPY ... FORMAT csv`` (``:55-57``), where
  unquoted empty fields become NULL.  Spark's csv reader with the default
  ``nullValue=""`` matches exactly (SURVEY.md §1.3).
* Text→typed cast at load (``:84,:98-99,:102``): done here by reading everything
  as string and casting to the declared schema, so cast failures surface as NULL
  exactly like Postgres COPY would error-or-null per type.

Unlike the reference's loader — which materializes the entire projected file in
driver memory via ``StringIO`` (``:46-53``) — these are distributed scans: at
100 TB the CSV splits across executors and the projection/cast runs codegen'd
per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class MissingColumnsError(ValueError):
    """Raised when the CSV header lacks required columns (reference :42-44)."""


def read_csv_projected(
    spark: SparkSession,
    path: str,
    keep_cols: list[str],
    schema: T.StructType,
) -> DataFrame:
    """Header-validated, projected, typed CSV scan.

    ``keep_cols`` are the (possibly uppercase) source header names; ``schema``
    declares the lowercase target names and types positionally aligned with
    ``keep_cols``.  The header check reads one file header on the driver —
    O(1) — not the data.
    """
    raw = spark.read.csv(path, header=True, inferSchema=False)  # all strings
    have = {c.lower() for c in raw.columns}
    missing = [c for c in keep_cols if c.lower() not in have]
    if missing:
        raise MissingColumnsError(f"CSV {path} missing expected columns: {missing}")
    projected = raw.select(
        *[
            F.col(src).cast(field.dataType).alias(field.name)
            for src, field in zip(keep_cols, schema.fields)
        ]
    )
    return projected


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)  # no inference in prod paths
    return reader.json(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Idempotent materialization — the engine's CREATE TABLE AS SELECT
    (reference CTAS at ``patient_claims_plus_postgres.py:161`` + drop-if-exists
    ``:63-68``; ``mode("overwrite")`` subsumes both)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def lakehouse_format_available(spark: SparkSession, fmt: str) -> bool:
    """Probe for an external connector format: ``avro`` (spark-avro) or a
    lakehouse table format (``delta`` / ``iceberg``).

    None is bundled with Spark core (org.apache.spark:spark-avro,
    io.delta:delta-spark, org.apache.iceberg:iceberg-spark-runtime), so
    availability depends on the deployment's classpath and the engine probes
    instead of assuming."""
    try:
        # the authoritative resolution Spark itself performs for format(fmt);
        # a bare Class.forName probe false-positives because catalyst bundles
        # some avro helper classes without the DataSource provider
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


_CONNECTOR_REMEDIATION = {
    "avro": (
        "spark-avro is not on this deployment's classpath; submit with "
        "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
    ),
    "delta": (
        "Delta Lake is not on this deployment's classpath; submit with "
        "--packages io.delta:delta-spark_2.13:<version> and "
        "--conf spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension "
        "--conf spark.sql.catalog.spark_catalog="
        "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    ),
    "iceberg": (
        "Apache Iceberg is not on this deployment's classpath; submit with "
        "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
        "and configure an Iceberg catalog "
        "(--conf spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)"
    ),
}


def _require_connector(spark: SparkSession, fmt: str) -> None:
    """Raise the actionable remediation, never an opaque JVM ClassNotFound,
    when ``fmt``'s connector is not on the classpath."""
    if not lakehouse_format_available(spark, fmt):
        raise NotImplementedError(_CONNECTOR_REMEDIATION[fmt])


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (row-oriented interchange format — the common Kafka/ingest
    landing format), gated on the spark-avro module."""
    _require_connector(spark, "avro")
    return spark.read.format("avro").load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    _require_connector(df.sparkSession, "avro")
    df.write.mode(mode).format("avro").save(path)


def read_lakehouse(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Lakehouse table scan (Delta/Iceberg) — the transaction-logged table
    layer the CDC/upsert/SCD2 operators (``operators/upsert.py``) target in
    a production deployment, where their MERGE-equivalent joins become the
    connector's native ``MERGE INTO`` against the table log.  Gated like
    Avro."""
    _require_connector(spark, fmt)
    return spark.read.format(fmt).load(path)


def write_lakehouse(df: DataFrame, fmt: str, path: str, mode: str = "overwrite") -> None:
    _require_connector(df.sparkSession, fmt)
    df.write.mode(mode).format(fmt).save(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """Native XML scan (built into Spark 4 — SPARK-44751): the classic
    enterprise-landing format.  Schema is inferred unless the caller supplies
    one via .schema() upstream; rowTag selects the repeating element."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(
    df: DataFrame, path: str, mode: str = "overwrite", row_tag: str = "row", root_tag: str = "rows"
) -> None:
    df.write.mode(mode).format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).save(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Whole-line text scan (`value: string` per line) — the raw-corpus
    landing shape before any parsing; pairs with the textops tokenizers."""
    return spark.read.format("text").load(path)
