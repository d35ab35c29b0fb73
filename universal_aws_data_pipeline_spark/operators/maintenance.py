"""Table-maintenance operators: small-file diagnosis and compaction.

The small-files problem is THE silent killer of 100 TB lakehouse tables:
streaming sinks, per-batch ingestion, and over-parallel writes leave
thousands of KB-sized parquet files per partition; every downstream scan
then pays open/footer/seek costs per file and the driver pays listing time.
The fix is periodic compaction — rewrite each over-fragmented table (or
partition) into files near a target size, atomically.

The rewrite is committed like every persisted directory, through
``sinks/commit.py::replace_dir``: readers never see a half-written table,
and a crash mid-swap is healed by the next commit.

Sizing comes from the real file listing (not row-count guesses), so the
rewrite's task count is right at any scale. The rewrite itself is one
``repartition(n)`` — a single shuffle whose output IS the new layout, the
pay-once trade every table format's OPTIMIZE command makes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.sinks.commit import read_meta, replace_dir

_DATA_SUFFIXES = (".parquet", ".orc", ".json", ".csv")


def _list_data_files(path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every data file under path — local-FS walk here;
    on an object store this becomes one LIST call per prefix (same shape).

    Non-local paths are REJECTED, not silently empty: ``os.walk`` on
    ``s3://...`` yields nothing, which would make a scheduled compaction
    report n_files=0 / worth_it=False and skip forever — a silent no-op is
    worse than an error. Route object-store tables through the Hadoop FS
    API (or mount) before calling; the rewrite/swap below also assumes
    POSIX-atomic rename, which object stores don't provide."""
    if "://" in path:
        raise ValueError(
            f"compaction requires a local filesystem path, got URI {path!r}: "
            "os.walk cannot list object stores and the staging-dir rename "
            "swap is not atomic there — resolve through a local mount or a "
            "table format (Delta/Iceberg) for object-store maintenance"
        )
    if not os.path.isdir(path):
        raise ValueError(f"compaction target is not a directory: {path!r}")
    out: list[tuple[str, int]] = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(_DATA_SUFFIXES) and not f.startswith(("_", ".")):
                fp = os.path.join(root, f)
                out.append((fp, os.path.getsize(fp)))
    return out


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-file layout diagnosis: (file, bytes, partition_dir). Feed this to
    a threshold query ('partitions with >N files under M bytes') to decide
    what to compact — the profiling step before paying any rewrite."""
    rows = [
        Row(
            file=os.path.relpath(fp, path),
            bytes=size,
            partition_dir=os.path.relpath(os.path.dirname(fp), path),
        )
        for fp, size in _list_data_files(path)
    ]
    schema = "file string, bytes long, partition_dir string"
    return spark.createDataFrame(rows, schema=schema) if rows else spark.createDataFrame([], schema=schema)


def compaction_plan(path: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """What a compaction run would do: current file count/bytes and the
    target file count ceil(total/target). Pure metadata — no Spark job."""
    files = _list_data_files(path)
    total = sum(size for _, size in files)
    n_target = max(1, -(-total // target_file_bytes))
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_files": n_target,
        "worth_it": len(files) > n_target,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """Rewrite a fragmented table into ~target-size files, atomically.

    Unpartitioned: one ``repartition(n_target)`` rewrite. Partitioned: the
    rewrite shuffles on the partition columns with ``n_target`` tasks, so
    each output dir is written by the few tasks owning its keys (the same
    anti-small-file move as ``write_partitioned``). Readers never see a
    partial table: ``replace_dir`` commits the rewrite, carrying over the
    table's ``_meta.json`` (a streaming table's batch id) unchanged.

    Returns the plan dict (with ``skipped: True`` when the table is already
    compact — idempotent, safe to run on a schedule).
    """
    plan = compaction_plan(path, target_file_bytes)
    if not plan["worth_it"]:
        return {**plan, "skipped": True}

    df = spark.read.format(fmt).load(path)
    n = plan["target_files"]
    if partition_by:
        writer = (
            df.repartition(n, *[F.col(c) for c in partition_by])
            .write.format(fmt)
            .mode("overwrite")
            .partitionBy(*partition_by)
        )
    else:
        writer = df.repartition(n).write.format(fmt).mode("overwrite")
    replace_dir(path, writer.save, read_meta(path) or {})
    return {**plan, "skipped": False}
