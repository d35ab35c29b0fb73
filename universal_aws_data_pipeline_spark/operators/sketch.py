"""Mergeable frequency sketches: two-pass EXACT heavy hitters.

The classic scale problem: find every token whose corpus frequency exceeds
N/k without shuffling the full token stream. A single groupBy(token) ships
the whole vocabulary through the exchange — fine for word-sized vocabularies,
hostile for n-gram/URL/id streams whose distinct count approaches the corpus
size. The textbook answer (Misra–Gries / SpaceSaving) is a per-partition
summary whose merge is union — exactly Spark's combiner shape.

Two passes, both exact in the end:

1. **Candidate mining (map-only, Arrow-batched).** Each partition counts its
   own tokens locally (pandas ``value_counts`` — vectorized, no Python loop)
   and emits only tokens with local count > local_total/k. By the averaging
   argument, any token with GLOBAL count > N/k must exceed the local
   threshold in at least one partition, so the union of per-partition
   survivors is a guaranteed superset of the true heavy hitters. Output is
   ≤ min(k, |local vocab|) rows per partition — the shuffle carries
   candidates, not the token stream.
2. **Exact recount (semi-join + agg).** The candidate set (tiny) broadcasts;
   the corpus streams once more, counting ONLY candidate tokens; the final
   filter count·k > N uses the exact total from a 1-row observe-style agg.
   False positives from pass 1 die here; false negatives cannot exist.

Result: exact answer, shuffle bytes O(candidates · partitions) instead of
O(distinct tokens). This is the same mine-candidates-then-verify-exactly
shape as the PPJoin dedup path (operators/dedup.py) — cheap guaranteed
superset first, exact pass on the survivors.

Reference parity: the reference has no sketch surface; this extends the
X-family (LLM-pipeline ops) alongside the theta-sketch distinct counts in
plans/catalog.py.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
from universal_aws_data_pipeline_spark.operators import statestore
from universal_aws_data_pipeline_spark.sinks import commit as dircommit

_CAND_SCHEMA = StructType([StructField("tok", StringType(), False)])


def _mine_partition_candidates(k: int):
    """Per-partition local heavy-hitter miner (SpaceSaving guarantee): emit
    tokens with local count · k > local token total. Runs over ALL Arrow
    batches of one partition before emitting, so the threshold is the true
    partition-local one, not per-batch."""

    def mine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: pd.Series | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            # each cell is the token array of one document; flatten the
            # arrays in one vectorized concat, count with value_counts
            flat = pd.Series(np.concatenate(pdf["t"].to_list()), dtype="object")
            vc = flat.value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
        if counts is None or counts.empty:
            return
        total = float(counts.sum())
        local = counts[counts * k > total]
        yield pd.DataFrame({"tok": local.index.astype(str)})

    return mine


def heavy_hitters_exact(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Exact tokens with corpus frequency > N/k via the two-pass
    mine-then-recount plan described in the module docstring.

    Output: (tok, cnt) — exact global counts, only rows with cnt·k > N.
    """
    toks = df.select(tokens_col(F.col(text_col)).alias("t"))
    candidates = toks.mapInPandas(_mine_partition_candidates(k), schema=_CAND_SCHEMA).distinct()

    exploded = df.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
    total = df.select(
        F.sum(F.size(tokens_col(F.col(text_col)))).cast("long").alias("_n")
    )
    counted = (
        exploded.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # 1-row scalar attach (same pattern as the catalog's share-of-total joins)
    return (
        counted.join(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .select("tok", "cnt")
    )


# ---------------------------------------------------------------------------
# Streaming twin: mergeable Misra–Gries summary maintained across micro-batches
# ---------------------------------------------------------------------------

def _legacy_meta(spark, state_path: str) -> dict | None:
    """``err`` and ``last_batch_id`` from the ``meta`` parquet table that
    the first maintainer generation wrote beside ``counters``; None when
    the state dir has no such table."""
    path = os.path.join(state_path, "meta")
    if not os.path.exists(path):
        return None
    row = spark.read.parquet(path).head()
    return {"err": int(row["err"]), "last_batch_id": int(row["last_batch_id"])}


def _adopt_legacy_meta(spark, state_path: str) -> None:
    """Upgrade a state dir from the two-table layout: ``counters`` without
    ``_meta.json`` plus a ``meta`` table. Its ``err`` and replay position
    move into the counters' ``_meta.json`` (an atomic file replace), then
    ``meta`` is removed — in that order, so a crash in between leaves a
    migrated table and a stale ``meta`` the next fold removes. ``meta``
    without ``counters`` describes lost state and is dropped, so the
    rebuilt summary folds every batch (statestore's rule for orphaned
    ``_batch_N`` markers)."""
    legacy = _legacy_meta(spark, state_path)
    if legacy is None:
        return
    counters = os.path.join(state_path, "counters")
    if os.path.exists(counters) and dircommit.read_meta(counters) is None:
        dircommit._write_json(os.path.join(counters, dircommit._META), legacy)
    shutil.rmtree(os.path.join(state_path, "meta"), ignore_errors=True)


def heavy_hitters_stream_fn(
    state_path: str,
    k: int = 50,
    text_col: str = "text",
):
    """``foreachBatch`` maintainer of a mergeable Misra–Gries heavy-hitter
    summary (Agarwal et al., "Mergeable Summaries"): state is ≤ k rows of
    (tok, lower-bound count) plus a scalar decrement total ``err``.

    Per micro-batch: exact batch counts (map-side-combined groupBy — batch
    vocab sized), summed into the ≤ k-row carried state, then MG-compressed
    by subtracting the (k+1)-th largest combined count and keeping the
    positive remainder — at most k survivors, and the subtracted amount
    accumulates into ``err``. Invariants (tested):

    - for every surviving token: lb ≤ true count ≤ lb + err
    - every token with true count > err survives (err ≤ N/(k+1) over the
      whole stream, so nothing genuinely heavy is ever lost)

    Folded by ``statestore.fold_fn`` into ``<state_path>/counters``; ``err``
    rides in the same ``_meta.json`` as the batch id, so summary and
    decrement total commit in one swap and a replay can never re-subtract.
    Only the (k+1)-row decrement probe touches the driver; batch counting
    stays distributed.
    """

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame | None, meta: dict):
        combined = (
            batch_df.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prev is not None:
            combined = (
                combined.unionByName(prev.select("tok", F.col("lb").alias("cnt")))
                .groupBy("tok")
                .agg(F.sum("cnt").alias("cnt"))
            )
        top = combined.orderBy(F.col("cnt").desc(), "tok").limit(k + 1).collect()
        d = int(top[k]["cnt"]) if len(top) > k else 0
        summary = combined.filter(F.col("cnt") > d).select("tok", (F.col("cnt") - d).alias("lb"))
        # one file: the shuffle carries <= k rows, and unlike coalesce(1)
        # it leaves the batch aggregation parallel
        return summary.repartition(1), {"err": meta.get("err", 0) + d}

    fold = statestore.fold_fn(os.path.join(state_path, "counters"), step)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        _adopt_legacy_meta(batch_df.sparkSession, state_path)
        fold(batch_df, batch_id)

    return fn


def heavy_hitters_from_state(spark, state_path: str) -> DataFrame:
    """Read the streaming MG state: (tok, cnt_lb, cnt_ub) where
    cnt_lb ≤ true ≤ cnt_ub = cnt_lb + accumulated decrement."""
    counters = os.path.join(state_path, "counters")
    meta = dircommit.read_meta(counters) or _legacy_meta(spark, state_path) or {}
    err = meta.get("err", 0)
    return (
        spark.read.parquet(counters)
        .select("tok", F.col("lb").alias("cnt_lb"), (F.col("lb") + err).alias("cnt_ub"))
    )


# ---------------------------------------------------------------------------
# Streaming theta-sketch maintainer: the streaming twin of the q97 mergeable
# rollup. θ-sketch state is a SET of kept hashes, and set union is the exact
# merge — which makes it the ideal streaming accumulator: per-day distinct
# state stays bounded at θ·D rows regardless of stream length, and any
# trailing window is answered after the fact by merging stored days.
# ---------------------------------------------------------------------------

THETA_DEFAULT = 1 << 30  # keep hashes below 2^30 of the 2^32 space → θ = 1/4


def _theta_hash(user: F.Column) -> F.Column:
    # portable 32-bit hash (first 8 md5 nibbles) — same estimator as the
    # graded q90/q97 batch queries, so stored state is cross-checkable
    return F.conv(F.substring(F.md5(user.cast("string")), 1, 8), 16, 10).cast("long")


def theta_sketch_stream_fn(
    state_path: str,
    theta: int = THETA_DEFAULT,
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """``foreachBatch`` maintainer of the per-day theta-sketch table:
    state is a parquet of DISTINCT (day, h) kept hashes — the same table
    q97 reduces the whole fact history to, built incrementally instead.

    Per micro-batch: the batch collapses to its own (day, h) kept rows
    (map-side filter prunes 1−θ of the hash space before any shuffle),
    unions with the stored table and distincts — folded into
    ``<state_path>/sketch`` by ``statestore.fold_fn``. The rewrite touches
    θ·D·|days| sketch rows, never the stream history; at 100 TB/day the
    sketch table is megabytes.

    Estimates come from ``theta_estimate_from_state`` — distinct-over-
    union by construction, identical to rerunning q90/q97 over the full
    history (asserted in tests)."""

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame | None, meta: dict):
        day = F.floor(F.unix_timestamp(F.col(ts_col)) / 86400).cast("long")
        batch_sk = (
            batch_df.select(day.alias("day"), _theta_hash(F.col(user_col)).alias("h"))
            .filter(F.col("h") < theta)
            .distinct()
        )
        return (batch_sk if prev is None else prev.unionByName(batch_sk).distinct()), {}

    return statestore.fold_fn(os.path.join(state_path, "sketch"), step)


def theta_estimate_from_state(
    spark,
    state_path: str,
    window_days: int = 1,
    theta: int = THETA_DEFAULT,
) -> DataFrame:
    """(day, est_users) trailing-``window_days`` distinct estimates from the
    stored sketch table — sketch MERGE (set union over the explode of day
    offsets), exactly the q97 kernel, running on the tiny stored state."""
    sk = spark.read.parquet(os.path.join(state_path, "sketch"))
    scale = (1 << 32) // theta
    if window_days == 1:
        return sk.groupBy("day").agg((F.count_distinct("h") * scale).alias("est_users"))
    days = sk.select("day").distinct()
    expanded = sk.select(
        "day", "h", F.explode(F.array(*[F.lit(k) for k in range(window_days)])).alias("_k")
    ).select((F.col("day") + F.col("_k")).alias("day"), "h")
    return (
        expanded.join(days, "day", "left_semi")
        .groupBy("day")
        .agg((F.count_distinct("h") * scale).alias("est_users"))
    )


# ---------------------------------------------------------------------------
# Datasketches HLL: the PRODUCTION mergeable-distinct path (Spark 4 built-in
# hll_sketch_agg / hll_union_agg / hll_sketch_estimate — JVM-side, codegen).
# The hand-rolled theta sketch above stays because it hash-grades against a
# DuckDB replay; HLL is what a user should reach for on a real cluster: the
# sketch is a register array, union is register-wise max, and estimate error
# is ~1.04/sqrt(2^lgConfigK). NOTE estimates are NOT bit-stable across
# layouts: a singly-built sketch uses the stream-order-sensitive HIP
# estimator while unions fall back to the composite estimator, so rollup
# estimates agree with direct estimates only to within sketch error
# (measured: 729 vs 731 on a 731-distinct column) — which is why the graded
# distinct-count queries (q90/q97) use the deterministic theta sketch and
# HLL stays tolerance-gated in pytest.
# ---------------------------------------------------------------------------


def hll_group_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketches + estimates: (group_cols..., hll_sketch binary,
    distinct_est long). Keep the sketch column — it is the mergeable artifact
    every coarser rollup is answered from without rescanning the fact table.

    Scale: one shuffle on the group keys; the sketch is <= 2^lg_config_k
    registers (~4 KB at the default 12) regardless of group cardinality, so
    the aggregation state is bounded and map-side combine absorbs hot keys.
    """
    agg = df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("hll_sketch")
    )
    return agg.select(
        *group_cols,
        "hll_sketch",
        F.hll_sketch_estimate("hll_sketch").cast("long").alias("distinct_est"),
    )


def hll_rollup(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate a sketch table to coarser keys via hll_union_agg.

    The input is the (tiny) output of hll_group_sketches at finer grain;
    the fact table is never touched again. Union at equal lgConfigK is
    register-wise max — the merged estimate matches sketching the coarser
    group directly to within sketch error (not bit-exactly; see module
    note on HIP vs composite estimators).
    """
    agg = sketches.groupBy(*group_cols).agg(
        F.hll_union_agg("hll_sketch").alias("hll_sketch")
    )
    return agg.select(
        *group_cols,
        "hll_sketch",
        F.hll_sketch_estimate("hll_sketch").cast("long").alias("distinct_est"),
    )


def _cms_bucket(value: F.Column, row: int, width: int) -> F.Column:
    """Row-``row`` Count-Min hash bucket: first 8 hex digits of
    md5(value + '#cms' + row) as an integer, mod width. md5 is the one hash
    both Spark and DuckDB evaluate identically, which is what lets a CMS
    estimate be replayed exactly by the SQL oracle (q117)."""
    h = F.conv(
        F.substring(F.md5(F.concat(value, F.lit(f"#cms{row}"))), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width))


def count_min_build(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a Count-Min sketch as a (row, bucket, cell_count) table.

    Each input value increments one cell per hash row; the build is a single
    groupBy over at most depth*width cells, so map-side combine collapses the
    token stream to <= depth*width rows per partition before the shuffle —
    the sketch never grows with the data, only with (depth, width).

    Unlike an opaque binary sketch, the table form is mergeable by plain
    cell-wise SUM (union of streams = sum of sketches), joinable for point
    queries (see cms_estimates), and engine-portable: every cell is exact
    integer arithmetic over md5 buckets, so estimates replay bit-identically
    anywhere. Standard CMS guarantees: est >= true; est <= true + (2/width)*N
    with probability >= 1 - (1/2)^depth.
    """
    buckets = F.array(*[_cms_bucket(F.col(col), r, width) for r in range(depth)])
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))  # row-local, 1 scan
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def cms_estimates(
    sketch: DataFrame, probes: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-frequency estimates for a probe column against a CMS table:
    est(x) = min over hash rows of the addressed cell (0 when absent).

    The probe side re-derives its depth buckets row-locally and equi-joins
    the (tiny, <= depth*width rows) sketch — broadcast join, no shuffle of
    the probe set. Returns probes + ``est_count``.
    """
    buckets = F.array(*[_cms_bucket(F.col(col), r, width) for r in range(depth)])
    rows = probes.select(F.col(col), F.posexplode(buckets).alias("row", "bucket"))
    return (
        rows.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce("cell_count", F.lit(0))).cast("long").alias("est_count"))
    )


def cms_stream_fn(
    state_path: str,
    col: str,
    depth: int = 4,
    width: int = 1024,
):
    """``foreachBatch`` maintainer of a Count-Min cell table: the streaming
    twin of ``count_min_build``, exploiting that CMS merge is cell-wise SUM
    (union of streams = sum of sketches — asserted batch-side in tests).

    Per micro-batch: the batch collapses to its own <= depth*width cell
    table (map-side combine absorbs the token stream) and outer-merges
    with the stored table by summing counts — folded into
    ``<state_path>/cells`` by ``statestore.fold_fn``. Cell-wise SUM is
    not idempotent: a re-folded replay would DOUBLE-COUNT, which is why
    the batch id must commit with the cells. The rewrite touches
    depth*width rows however long the stream has run — frequency state
    that never grows.

    Point estimates at any time: ``cms_estimates(spark.read.parquet(
    <state>/cells), probes, col)`` — identical to building one batch CMS
    over the full history (asserted in tests)."""

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame | None, meta: dict):
        batch_cells = count_min_build(batch_df, col, depth=depth, width=width)
        if prev is None:
            return batch_cells, {}
        merged = (
            prev.unionByName(batch_cells)
            .groupBy("row", "bucket")
            .agg(F.sum("cell_count").alias("cell_count"))
        )
        return merged, {}

    return statestore.fold_fn(os.path.join(state_path, "cells"), step)


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch (engine-portable, mergeable)
# ---------------------------------------------------------------------------
def value_histogram(
    df: DataFrame,
    value_cents: Column,
    lo_cents: int,
    width_cents: int,
    n_bins: int,
) -> DataFrame:
    """Fixed equi-width histogram over an exact-integer value column — the
    engine-portable quantile sketch. Unlike t-digest/KLL (whose estimates
    depend on internal buffer layout and merge order), an equi-width bin
    table is a pure function of the data: build is ONE map-side-combinable
    aggregate to <= n_bins rows, merge across partitions/days is count
    addition, and every estimate derived from it is deterministic integer
    arithmetic both engines replay bit-identically (the same portability
    argument as the md5 theta/CMS sketches in this module).

    Returns (bin, c). Values outside [lo, lo + n_bins*width) clamp into the
    edge bins — the declared-domain contract; the estimate error bound is
    one bin width inside the domain and unbounded outside it, so size the
    domain from schema knowledge, not hope.
    """
    b = F.floor((value_cents - F.lit(lo_cents)) / F.lit(width_cents)).cast("long")
    clamped = F.least(F.greatest(b, F.lit(0).cast("long")), F.lit(n_bins - 1).cast("long"))
    return df.select(clamped.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("c")
    )


def histogram_quantiles(
    hist: DataFrame,
    p_milles: list[int],
    lo_cents: int,
    width_cents: int,
) -> DataFrame:
    """Quantile estimates from a ``value_histogram`` table, in exact integer
    arithmetic: for permille p, target rank r = 1 + (p*(N-1)) DIV 1000
    (1-based), the answer bin is the first whose cumulative count reaches r,
    and the within-bin position interpolates linearly at integer resolution:

        est_cents = bin_lo + (width * (r - below)) DIV c_bin

    Returns (p_mille, est_cents). The cumulative walk is a window over the
    <= n_bins-row sketch — sketch-sized work however large the corpus.
    """
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "bin", "c", F.sum("c").over(w).alias("cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n"))))
    ps = cum.sparkSession.createDataFrame([(p,) for p in p_milles], "p_mille: long")
    j = F.broadcast(ps).crossJoin(cum)
    ranked = j.withColumn("r", 1 + F.expr("(p_mille * (n - 1)) div 1000")).filter(
        F.col("cum") >= F.col("r")
    )
    first_bin = ranked.groupBy("p_mille").agg(
        F.min_by(F.struct("bin", "c", "cum", "r"), "bin").alias("s")
    )
    return first_bin.select(
        "p_mille",
        (
            F.lit(lo_cents)
            + F.col("s.bin") * F.lit(width_cents)
            + F.expr(f"({width_cents} * (s.r - (s.cum - s.c))) div s.c")
        ).cast("long").alias("est_cents"),
    )


def histogram_stream_fn(
    state_path: str,
    value_expr: str,
    lo_cents: int,
    width_cents: int,
    n_bins: int,
):
    """foreachBatch maintainer for the ``value_histogram`` quantile sketch:
    each micro-batch's bin counts fold into the stored <=n_bins-row table
    ``<state_path>/bins`` by count ADDITION through ``statestore.fold_fn``
    (sum-merge is NOT idempotent, so a replayed batch must never re-fold —
    as for ``cms_stream_fn``). Quantile
    estimates at any time: ``histogram_quantiles(spark.read.parquet(
    <state>/bins), ...)`` — identical to one batch histogram over the full
    history (asserted in tests). State is bounded at n_bins rows forever.

    ``value_expr`` is a SQL expression string producing the exact-integer
    value (e.g. ``"cast(round(price * 100, 0) as bigint)"``) — a string so
    the closure stays picklable into the stream runner.
    """

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame | None, meta: dict):
        batch_bins = value_histogram(
            batch_df, F.expr(value_expr), lo_cents, width_cents, n_bins
        )
        if prev is None:
            return batch_bins, {}
        return prev.unionByName(batch_bins).groupBy("bin").agg(F.sum("c").alias("c")), {}

    return statestore.fold_fn(os.path.join(state_path, "bins"), step)


def grouped_value_histogram(
    df: DataFrame,
    group_col: str,
    value: Column,
    lo: int,
    width: int,
    n_bins: int,
) -> DataFrame:
    """Per-group ``value_histogram``: one map-side-combinable aggregate to
    <= |groups| x n_bins rows. Same clamped declared-domain contract."""
    b = F.floor((value - F.lit(lo)) / F.lit(width)).cast("long")
    clamped = F.least(F.greatest(b, F.lit(0).cast("long")), F.lit(n_bins - 1).cast("long"))
    return (
        df.select(F.col(group_col), clamped.alias("bin"))
        .groupBy(group_col, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def grouped_histogram_quantiles(
    hist: DataFrame,
    group_col: str,
    p_milles: list[int],
    lo: int,
    width: int,
) -> DataFrame:
    """Per-group quantile estimates from a ``grouped_value_histogram``
    table — the GROUPED form of q159's engine-portable sketch quantiles:
    identical integer arithmetic (rank r = 1 + (p*(N-1)) div 1000, linear
    within-bin interpolation at integer resolution), with the cumulative
    walk windowed PER GROUP so parallelism is the group count and no
    global sort exists. Returns (group_col, p_mille, est).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = hist.groupBy(group_col).agg(F.sum("c").alias("n"))
    cum = hist.select(group_col, "bin", "c", F.sum("c").over(w).alias("cum")).join(
        F.broadcast(tot), group_col
    )
    ps = cum.sparkSession.createDataFrame([(p,) for p in p_milles], "p_mille: long")
    j = cum.join(F.broadcast(ps))
    ranked = j.withColumn("r", 1 + F.expr("(p_mille * (n - 1)) div 1000")).filter(
        F.col("cum") >= F.col("r")
    )
    first_bin = ranked.groupBy(group_col, "p_mille").agg(
        F.min_by(F.struct("bin", "c", "cum", "r"), "bin").alias("s")
    )
    return first_bin.select(
        group_col,
        "p_mille",
        (
            F.lit(lo)
            + F.col("s.bin") * F.lit(width)
            + F.expr(f"({width} * (s.r - (s.cum - s.c))) div s.c")
        ).cast("long").alias("est"),
    )
