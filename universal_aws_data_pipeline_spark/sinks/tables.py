"""Sinks: partitioned parquet + warehouse-style managed tables.

Parity targets:

- partitioned parquet sink ⇔ ``transform_data.py:214-229`` — native
  ``DataFrameWriter`` with ``partitionBy``.
- warehouse load ⇔ ``redshift_loader/handler.py:76-183``: the reference COPYs
  into a staging table then atomically swaps it in (``:153-165``), honors
  DISTKEY/SORTKEY layout (``:80-84``), tolerates up to MAXERROR bad records
  (``:132``), and optionally VACUUM/ANALYZEs (``:167-172``). Spark-native
  equivalents:
    * staging swap  → ``sinks/commit.py``: ``replace_dir`` (staging dir +
      rename swap, atomic on POSIX/HDFS, crash-recoverable) by default, or
      ``commit_version`` with ``dest.commit = "manifest"`` (immutable
      version dirs + one small ``_manifest.json`` replace — atomic on S3
      too; ``write_table_manifest_commit`` / ``read_manifest_table``)
    * DISTKEY       → ``repartition(distkey)`` so co-located joins on the key
      skip a shuffle downstream
    * SORTKEY       → ``sortWithinPartitions`` so parquet row-group min/max
      stats enable data skipping on sortkey predicates
    * MAXERROR      → PERMISSIVE read + corrupt-record side channel, cap
      enforced by an ``observe`` metric (no extra count scan)
    * VACUUM        → ``operators/maintenance.py::compact_table``.

The function signatures take (df, path, layout) only, so upgrading the
commit protocol to a full table format (Delta/Iceberg) changes no call
sites.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from universal_aws_data_pipeline_spark.config.model import DestinationConfig
from universal_aws_data_pipeline_spark.sinks.commit import _read_manifest, commit_version, replace_dir

CORRUPT_COL = "_corrupt_record"


class TolerantLoadError(RuntimeError):
    """Raised when corrupt-record count exceeds the configured max_errors."""


def write_partitioned(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned write (transform_data.py:214-229).

    With AQE on, the final shuffle-partition coalescing keeps output file
    counts sane; for heavily partitioned writes callers should pre-repartition
    by the partition columns so each task writes few files (avoids the
    classic N_tasks x N_partitions small-file explosion at scale).
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        # one shuffle by partition cols ⇒ each output dir written by few tasks
        df2 = df.repartition(*[F.col(c) for c in partition_by])
        writer = df2.write.format(fmt).mode(mode).partitionBy(*partition_by)
    writer.save(path)


def _observe_and_layout(df: DataFrame, dest: DestinationConfig) -> tuple[DataFrame, Observation, bool]:
    """Shared head of every warehouse load: observe (record_count,
    error_count) in the write job, filter corrupt rows, apply DISTKEY/SORTKEY
    physical layout (redshift_loader/handler.py:80-84)."""
    obs = Observation(f"load_metrics_{uuid.uuid4().hex[:8]}")
    has_corrupt = CORRUPT_COL in df.columns
    metrics = [F.count(F.lit(1)).alias("record_count")]
    if has_corrupt:
        metrics.append(F.sum(F.col(CORRUPT_COL).isNotNull().cast("long")).alias("error_count"))
    observed = df.observe(obs, *metrics)
    if has_corrupt:
        observed = observed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if dest.dist_key:
        observed = observed.repartition(F.col(dest.dist_key))
    if dest.sort_keys:
        observed = observed.sortWithinPartitions(*dest.sort_keys)
    return observed, obs, has_corrupt


def _writer(df: DataFrame, fmt: str, partition_by: list[str] | None):
    writer = df.write.format(fmt).mode("overwrite")
    return writer.partitionBy(*partition_by) if partition_by else writer


def _checked_counts(obs: Observation, has_corrupt: bool, max_errors: int) -> dict[str, int]:
    """(record_count, error_count) of a finished load job; raises
    ``TolerantLoadError`` past the MAXERROR cap (handler.py:132), which every
    caller checks BEFORE its swap so the old table stays current."""
    got = obs.get
    n_err = int(got.get("error_count", 0)) if has_corrupt else 0
    if n_err > max_errors:
        raise TolerantLoadError(f"{n_err} corrupt records > max_errors={max_errors}")
    return {"record_count": int(got.get("record_count", 0)) - n_err, "error_count": n_err}


def write_table_manifest_commit(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    keep_versions: int = 2,
) -> dict:
    """Commit ``df`` as the new current version of the manifest table at
    ``path`` (``sinks/commit.py::commit_version``); returns the manifest."""
    return commit_version(path, _writer(df, fmt, partition_by).save, fmt, partition_by, keep_versions)


def read_manifest_table(spark, path: str) -> DataFrame:
    """Resolve the current version through ``_manifest.json`` and read it.
    Never lists version dirs directly — an in-flight or crashed write's
    directory is invisible until its manifest lands."""
    m = _read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no _manifest.json at {path!r} — not a manifest table")
    return spark.read.format(m["format"]).load(os.path.join(path, m["current"]))


def write_warehouse_table(
    df: DataFrame,
    dest: DestinationConfig,
    record_count_out: dict[str, int] | None = None,
) -> int:
    """Warehouse-table load with staging + atomic swap.

    Returns the number of rows loaded (from an observe metric — a single job
    computes data + counts, unlike the reference's triple-action bug at
    transform_data.py:234-238). The load is one write, committed by
    ``sinks/commit.py``: ``replace_dir`` (staging dir + rename swap) by
    default, ``commit_version`` (version dir + manifest replace) with
    ``dest.commit == "manifest"``. MAXERROR is checked inside the write, so
    a rejected load never moves the committed table. With ``dest.jdbc_url``
    set, the load goes over a live JDBC connection instead — see
    ``write_warehouse_jdbc``.
    """
    if dest.jdbc_url:
        return write_warehouse_jdbc(df, dest, record_count_out)
    observed, obs, has_corrupt = _observe_and_layout(df, dest)
    counts: dict[str, int] = {}

    def write(out: str) -> None:
        _writer(observed, dest.format, dest.partition_by).save(out)
        counts.update(_checked_counts(obs, has_corrupt, dest.max_errors))

    path = dest.path.rstrip("/")
    if dest.commit == "manifest":
        commit_version(path, write, dest.format, dest.partition_by)
    else:
        replace_dir(path, write, {})
    if record_count_out is not None:
        record_count_out.update(counts)
    return counts["record_count"]


def write_warehouse_jdbc(
    df: DataFrame,
    dest: DestinationConfig,
    record_count_out: dict[str, int] | None = None,
) -> int:
    """Warehouse load over a live JDBC connection — the reference's actual
    Redshift COPY shape (redshift_loader/handler.py:76-183): load into
    ``<table>__staging``, then atomically swap it in with RENAME TABLE, with
    MAXERROR enforcement before the swap.

    ``dest.path`` names the target TABLE. Executors write the staging table
    in parallel via ``DataFrameWriter.jdbc`` (one connection per partition —
    size the partition count to what the warehouse accepts); only the
    rename/drop DDL runs on the driver's single connection. DISTKEY/SORTKEY
    become repartition + sortWithinPartitions, so rows arrive clustered the
    way the warehouse wants to store them.
    """
    observed, obs, has_corrupt = _observe_and_layout(df, dest)
    table = dest.path
    staging, old = f"{table}__staging", f"{table}__old"

    props = {"driver": dest.jdbc_driver} if dest.jdbc_driver else {}
    jvm = df.sparkSession._jvm
    conn = jvm.java.sql.DriverManager.getConnection(dest.jdbc_url)
    try:
        def _table_exists(name: str) -> bool:
            rs = conn.getMetaData().getTables(None, None, name.upper(), None)
            try:
                return bool(rs.next())
            finally:
                rs.close()

        def _exec(sql: str) -> None:
            st = conn.createStatement()
            try:
                st.executeUpdate(sql)
            finally:
                st.close()

        if _table_exists(staging):
            _exec(f"DROP TABLE {staging}")
        observed.write.mode("overwrite").jdbc(dest.jdbc_url, staging, properties=props)

        try:
            counts = _checked_counts(obs, has_corrupt, dest.max_errors)
        except TolerantLoadError:
            _exec(f"DROP TABLE {staging}")
            raise

        # swap (redshift_loader/handler.py:153-165): target stays readable
        # until the instant of the rename; roll back if the swap-in fails.
        if _table_exists(old):
            _exec(f"DROP TABLE {old}")
        had_target = _table_exists(table)
        if had_target:
            _exec(f"RENAME TABLE {table} TO {old}")
        try:
            _exec(f"RENAME TABLE {staging} TO {table}")
        except Exception:
            if had_target:
                _exec(f"RENAME TABLE {old} TO {table}")  # roll back
            raise
        if had_target:
            _exec(f"DROP TABLE {old}")
    finally:
        conn.close()

    if record_count_out is not None:
        record_count_out.update(counts)
    return counts["record_count"]

