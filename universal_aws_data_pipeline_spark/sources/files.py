"""File scans: json / csv / parquet (+ text / orc / xml / binary / avro), schema-aware.

Parity: the reference's format dispatch (``transform_data.py:186-193``) — two
lines per format, relying on inference. Here:

- optional explicit ``StructType`` (the reference imports StructType but never
  uses it; enforced schemas are a strict improvement and skip the extra
  inference pass over the data — at 100 TB, inference on JSON/CSV is a full
  extra scan)
- ``PERMISSIVE`` mode with ``_corrupt_record`` retained when
  ``tolerant=True``, feeding the MAXERROR-style tolerant-load accounting in
  sinks (reference: Redshift COPY MAXERROR 10, redshift_loader/handler.py:132)
- ``mergeSchema`` option for parquet standing in for the Glue crawler's
  schema-evolution behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_source(
    spark: SparkSession,
    path: str,
    data_format: str = "json",
    schema: StructType | None = None,
    tolerant: bool = False,
    merge_schema: bool = False,
    csv_header: bool = True,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Batch-read a dataset prefix in one of the supported formats."""
    fmt = data_format.lower()
    reader = spark.read
    if options:
        reader = reader.options(**options)
    if fmt == "json":
        if tolerant:
            if schema is not None and CORRUPT_COL not in schema.fieldNames():
                schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
            reader = reader.option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", CORRUPT_COL)
        return reader.json(path, schema=schema) if schema is not None else reader.json(path)
    if fmt == "csv":
        reader = reader.option("header", str(csv_header).lower())
        if tolerant:
            reader = reader.option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", CORRUPT_COL)
        if schema is not None:
            return reader.csv(path, schema=schema)
        return reader.option("inferSchema", "true").csv(path)
    if fmt == "parquet":
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if tolerant:
            # columnar formats have no row-level PERMISSIVE mode — the
            # tolerance unit is the FILE. At 100 TB a handful of truncated
            # uploads per day is normal; one poisoned file must not kill the
            # job. Per-read option (not the session-wide conf), so strict
            # readers in the same session still fail loudly.
            reader = reader.option("ignoreCorruptFiles", "true")
        return reader.parquet(path)
    if fmt == "text":
        return reader.text(path)
    if fmt == "orc":
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if tolerant:
            reader = reader.option("ignoreCorruptFiles", "true")
        return reader.orc(path)
    if fmt == "xml":
        # Spark 4 native XML (the spark-xml lineage, now built in): one row
        # per ``rowTag`` element; schema inference or explicit StructType
        # like JSON. rowTag arrives via options (default "row").
        reader = reader.format("xml").option("rowTag", (options or {}).get("rowTag", "row"))
        if tolerant:
            reader = reader.option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", CORRUPT_COL)
        if schema is not None:
            if tolerant and CORRUPT_COL not in schema.fieldNames():
                schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
            reader = reader.schema(schema)
        return reader.load(path)
    if fmt == "avro":
        # spark-avro ships with Spark but as an EXTERNAL module (since 2.4):
        # present on any standard cluster via --packages
        # org.apache.spark:spark-avro_2.13:<spark version>, absent from this
        # sandbox's jar dir (no network to fetch it — probed 2026-08-14:
        # "Failed to find data source: avro"). The dispatch is wired and
        # gate-tested so the branch lights up wherever the jar exists.
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format("avro").load(path)
    if fmt == "binary":
        # opaque-payload ingestion (images/audio/video landing): one row per
        # file with (path, modificationTime, length, content) — the entry
        # point for the multimodal operators. pathGlobFilter narrows the
        # listing; the content column is only materialized for selected rows
        # (column pruning applies), so metadata-only scans never read bytes.
        return reader.format("binaryFile").load(path)
    raise ValueError(f"unsupported data_format {data_format!r}")

