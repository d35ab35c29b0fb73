"""Slowly-changing-dimension (type 2) merge.

The reference's warehouse loader truncate-and-reloads dimensions
(`/root/reference/src/lambda/redshift_loader/handler.py` staging-swap) —
history is lost on every load. SCD2 is the warehouse-native upgrade: an
update closes the current version row (valid_to = effective date) and
inserts a new current row, so point-in-time queries (`AS OF`) stay
answerable.

Spark-first shape: no MERGE statement is needed — the merge is a join +
three branch projections + union, all set-oriented:

- one equi-join (updates × current rows) on the business key finds changed
  rows; column comparison is null-safe (`eqNullSafe` negation);
- closed / reopened / untouched branches are projections of that join
  result (no second pass over the dimension);
- output = union of the three, written back with the partitioned-parquet or
  JDBC sink like any other table.

At scale the updates batch is typically ≪ the dimension, so AQE broadcasts
it; the dimension itself is never shuffled more than once.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Apply an updates batch to an SCD2 dimension table.

    ``dim`` carries ``key``, the tracked attribute columns, ``valid_from``,
    ``valid_to`` (null = open) and ``current_flag``. ``updates`` carries
    ``key``, the tracked columns' new values, and an ``effective`` date
    column. Returns the merged dimension:

    - current rows whose tracked values actually changed are closed
      (``valid_to`` = effective date, flag false) and a new open row with
      the update's values is emitted (``valid_from`` = effective date);
    - no-op updates (values identical) and unmatched dimension rows pass
      through untouched; history rows are never modified.
    """
    upd = updates.select(
        F.col(key),
        *[F.col(c).alias(f"_new_{c}") for c in tracked],
        F.col(effective).alias("_eff"),
    )
    cur = dim.filter(F.col(current_flag))
    hist = dim.filter(~F.col(current_flag))

    joined = cur.join(upd, key, "left")
    differs = functools.reduce(
        lambda a, b: a | b,
        [~F.col(c).eqNullSafe(F.col(f"_new_{c}")) for c in tracked],
    )
    is_change = F.col("_eff").isNotNull() & differs

    passthrough = joined.filter(~is_change).select(*dim.columns)
    closed = joined.filter(is_change).select(
        *[c for c in dim.columns if c not in (valid_to, current_flag)],
        F.col("_eff").alias(valid_to),
        F.lit(False).alias(current_flag),
    ).select(*dim.columns)
    def _opened_col(c: str) -> F.Column:
        # untracked attributes carry forward from the closed current row
        if c in tracked:
            return F.col(f"_new_{c}").alias(c)
        if c == valid_from:
            return F.col("_eff").alias(valid_from)
        if c == valid_to:
            return F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to)
        if c == current_flag:
            return F.lit(True).alias(current_flag)
        return F.col(c)

    opened = joined.filter(is_change).select(*[_opened_col(c) for c in dim.columns])

    return hist.unionByName(passthrough).unionByName(closed).unionByName(opened)


def scd2_stream_fn(
    dim_path: str,
    key: str,
    tracked: list[str],
    effective: str,
    **scd_kwargs,
):
    """``foreachBatch`` SCD2 dimension maintainer: every micro-batch of
    updates merges into the parquet dimension at ``dim_path`` via
    ``scd2_apply`` — the streaming twin of the batch merge (q51), turning a
    CDC/update stream into a continuously-correct history table.

    Folded by ``statestore.fold_fn`` with ``dim_path`` as the state
    table, so foreachBatch's at-least-once delivery cannot double-close a
    version row. The dimension must exist before the first batch (an
    SCD2 merge has no empty seed); a missing one fails loudly. It is read
    fresh per batch — state lives in parquet, not executor memory, so the
    query survives restarts with no state-store coupling.

    Within one batch, at most ONE update row per key may be applied (the
    batch is pre-collapsed to the LATEST update per key by effective date —
    intermediate same-batch versions are not materialized, matching the
    one-close-one-open shape of scd2_apply).
    """
    from universal_aws_data_pipeline_spark.operators import statestore

    def step(updates: DataFrame, batch_id: int, dim: DataFrame | None, meta: dict):
        if dim is None:
            raise FileNotFoundError(f"SCD2 dimension {dim_path} does not exist")
        # latest update per key wins within the micro-batch
        latest = (
            updates.groupBy(key)
            .agg(
                F.max(F.struct(F.col(effective), *[F.col(c) for c in tracked])).alias("_u")
            )
            .select(key, *[F.col(f"_u.{c}").alias(c) for c in [effective, *tracked]])
        )
        return scd2_apply(dim, latest, key, tracked, effective, **scd_kwargs), {}

    return statestore.fold_fn(dim_path, step)


def scd2_asof(dim: DataFrame, asof, valid_from: str = "valid_from", valid_to: str = "valid_to") -> DataFrame:
    """Point-in-time reconstruction from an SCD2 history: the rows that
    were current AS OF ``asof`` — ``valid_from <= asof < valid_to`` (open
    rows have NULL ``valid_to`` and match any later date). The read-side
    payoff of keeping type-2 history: any past state of the dimension is
    one FILTER away, no snapshots stored.

    Map-side predicate only — at 100 TB this composes with partition
    pruning when the history table is partitioned/sorted on the validity
    columns (a min/max zone on valid_from skips closed eras entirely).
    """
    from pyspark.sql import functions as F

    a = F.lit(asof)
    return dim.filter(
        (F.col(valid_from) <= a) & (F.col(valid_to).isNull() | (F.col(valid_to) > a))
    )
