"""Structured Streaming operators — the reference's declared-but-absent
streaming surface (README.md:10-11,57; workflow_definition.json:77-81) made
real.

The reference promises Kinesis/Kafka stream processing but ships no code; the
engine provides the full native surface:

- sources: file-drop (S10 — the "S3 object created" trigger as a file-stream
  over a landing dir), rate (test fixture), kafka (config passthrough — broker
  not present in this container, gated behind config)
- tumbling / sliding windows (``F.window``), session windows
  (``F.session_window``)
- watermarks + late-data drop (``withWatermark``)
- streaming dedup (``dropDuplicatesWithinWatermark``)
- sinks: file/parquet with checkpointing, memory (tests), foreachBatch into
  the warehouse sink (streaming upsert into the staging-swap table loader)

Scale notes: every op here is incremental and state-bounded — watermarks cap
state store size (late rows beyond the watermark are dropped, state for
closed windows is evicted); ``dropDuplicatesWithinWatermark`` keys state by
the dedup columns only within the watermark horizon. Shuffle partitioning for
stateful ops follows ``spark.sql.shuffle.partitions`` — size it to the
key-cardinality, not the data volume.

Batch/stream parity: ``windowed_agg`` on a batch DataFrame produces exactly
the catalog's q24 plan — one code path, two execution modes, which is the
core Structured Streaming design point.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def read_stream_source(
    spark: SparkSession,
    stream: dict[str, Any],
    schema: StructType | str | None = None,
) -> DataFrame:
    """Open a streaming source from config.

    ``stream`` keys: type (file|rate|kafka), plus per-type options:
      file: path, format (json|csv|parquet), max_files_per_trigger
      rate: rows_per_second
      kafka: bootstrap_servers, topic, starting_offsets
    """
    kind = stream.get("type", "file")
    if kind == "file":
        if schema is None:
            raise ValueError("file stream requires an explicit schema (no inference mid-stream)")
        reader = spark.readStream.schema(schema)
        fmt = stream.get("format", "json")
        if fmt == "csv":
            reader = reader.option("header", "true")
        if "max_files_per_trigger" in stream:
            reader = reader.option("maxFilesPerTrigger", int(stream["max_files_per_trigger"]))
        return reader.format(fmt).load(stream["path"])
    if kind == "rate":
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", int(stream.get("rows_per_second", 10)))
            .load()
        )
    if kind == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in kafka_reader_options(stream).items():
            reader = reader.option(k, v)
        return reader.load()
    raise ValueError(f"unknown stream source type {kind!r}")


def kafka_reader_options(stream: dict[str, Any]) -> dict[str, str]:
    """Resolve a kafka stream config into DataStreamReader options.

    Factored out of ``read_stream_source`` so the option contract is testable
    without a broker (none in this environment — ``.load()`` itself needs the
    kafka connector + a reachable cluster; everything up to it is covered).
    Config keys: bootstrap_servers, topic (or topic_pattern), starting_offsets,
    max_offsets_per_trigger, fail_on_data_loss, plus any ``kafka.*``-prefixed
    passthrough (security protocol, SASL, etc.).
    """
    if "bootstrap_servers" not in stream:
        raise ValueError("kafka stream requires bootstrap_servers")
    opts: dict[str, str] = {"kafka.bootstrap.servers": stream["bootstrap_servers"]}
    if "topic_pattern" in stream:
        opts["subscribePattern"] = stream["topic_pattern"]
    elif "topic" in stream:
        opts["subscribe"] = stream["topic"]
    else:
        raise ValueError("kafka stream requires topic or topic_pattern")
    opts["startingOffsets"] = stream.get("starting_offsets", "latest")
    if "max_offsets_per_trigger" in stream:
        opts["maxOffsetsPerTrigger"] = str(int(stream["max_offsets_per_trigger"]))
    if "fail_on_data_loss" in stream:
        opts["failOnDataLoss"] = str(bool(stream["fail_on_data_loss"])).lower()
    for k, v in stream.items():
        if k.startswith("kafka."):
            opts[k] = str(v)
    return opts


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: list[F.Column],
    group_by: list[str] | None = None,
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window aggregation.

    Works identically on batch and streaming DataFrames; on streams pass
    ``watermark`` so state is evicted and late data beyond the horizon drops.
    Output carries window_start/window_end as epoch seconds (tz-free).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    out = df.groupBy(win.alias("w"), *(group_by or [])).agg(*aggs)
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start"),
        F.unix_timestamp(F.col("w.end")).alias("window_end"),
        *(group_by or []),
        *[c for c in out.columns if c not in ("w", *(group_by or []))],
    )


def session_windowed_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: list[F.Column],
    group_by: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: rows within ``gap`` of each other merge into one
    session per group key. Streaming requires a watermark (state eviction)."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(ts_col, gap)
    out = df.groupBy(win.alias("w"), *(group_by or [])).agg(*aggs)
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("session_start"),
        F.unix_timestamp(F.col("w.end")).alias("session_end"),
        *(group_by or []),
        *[c for c in out.columns if c not in ("w", *(group_by or []))],
    )


def dedup_within_watermark(df: DataFrame, keys: list[str], ts_col: str, watermark: str) -> DataFrame:
    """Streaming exact dedup: first event per key wins within the watermark
    horizon (X1's streaming twin). State size = live keys, not stream length."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_stream_sink(
    df: DataFrame,
    sink: dict[str, Any],
) -> StreamingQuery:
    """Start a streaming sink from config.

    ``sink`` keys: type (file|memory|foreach_batch|neardup_dedup|scd2_dim|
    heavy_hitters), checkpoint, output_mode, trigger ({"availableNow": True}
    | {"processingTime": "10 seconds"}), and per-type: path+format (file),
    name (memory), fn (foreach_batch callable).

    The last three are NAMED foreachBatch maintainers — the YAML-reachable
    form of the streaming twins (a config file cannot carry a Python
    callable, so each maintainer gets a declarative spelling). SCD2 and
    heavy hitters fold through ``statestore.fold_fn`` and are exactly-once;
    near-dup dedup is not: a crash between its output append and its index
    append makes the replay append that batch's survivors again:

    - ``{type: neardup_dedup, index_path, out_path, threshold?, column?}``
      — per-batch probe of the persisted LSH band index, survivors written
      AND folded back into the index (operators/dedup.py::neardup_stream_fn)
    - ``{type: scd2_dim, dim_path, key, tracked: [...], effective}``
      — SCD2 dimension maintainer (operators/scd.py::scd2_stream_fn)
    - ``{type: heavy_hitters, state_path, k?, column?}``
      — mergeable Misra–Gries summary (operators/sketch.py)
    """
    writer: DataStreamWriter = df.writeStream
    if "checkpoint" in sink:
        writer = writer.option("checkpointLocation", sink["checkpoint"])
    writer = writer.outputMode(sink.get("output_mode", "append"))
    trigger = sink.get("trigger", {"availableNow": True})
    writer = writer.trigger(**trigger)

    kind = sink.get("type", "file")
    if kind == "file":
        return writer.format(sink.get("format", "parquet")).start(sink["path"])
    if kind == "memory":
        return writer.format("memory").queryName(sink["name"]).start()
    if kind == "foreach_batch":
        return writer.foreachBatch(sink["fn"]).start()
    if kind == "neardup_dedup":
        from universal_aws_data_pipeline_spark.operators.dedup import neardup_stream_fn

        fn = neardup_stream_fn(
            sink["index_path"],
            sink["out_path"],
            threshold=float(sink.get("threshold", 0.6)),
            text_col=sink.get("column", "text"),
        )
        return writer.foreachBatch(fn).start()
    if kind == "scd2_dim":
        from universal_aws_data_pipeline_spark.operators.scd import scd2_stream_fn

        fn = scd2_stream_fn(
            sink["dim_path"], sink["key"], list(sink["tracked"]), sink["effective"]
        )
        return writer.foreachBatch(fn).start()
    if kind == "heavy_hitters":
        from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_stream_fn

        fn = heavy_hitters_stream_fn(
            sink["state_path"], k=int(sink.get("k", 50)), text_col=sink.get("column", "text")
        )
        return writer.foreachBatch(fn).start()
    raise ValueError(f"unknown stream sink type {kind!r}")


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    left_watermark: str,
    right_watermark: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair left rows with right rows sharing
    the equi-keys whose event time falls in
    ``[left_ts - lower, left_ts + upper]``.

    Both sides MUST carry watermarks plus the time-range predicate — that
    combination is what lets Spark bound the join state (each side buffers
    only rows inside watermark + interval, then evicts). An unconstrained
    stream-stream join would buffer both streams forever. Outer variants
    additionally emit unmatched rows once the watermark passes their
    interval, so ``how='leftOuter'`` results are watermark-delayed by
    design.

    Works identically on batch frames (the predicate degrades to a plain
    range condition), which is how the pytest batch-twin oracle grades it.
    """
    l_wm = left.withWatermark(left_ts, left_watermark).alias("l")
    r_wm = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = None
    for k in on:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    lo = F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
    cond = cond & (F.col(f"r.{right_ts}") >= lo) & (F.col(f"r.{right_ts}") <= hi)
    out = l_wm.join(r_wm, cond, how)
    # keep one copy of the equi-keys (the left's) so downstream selects
    # aren't ambiguous
    for k in on:
        out = out.drop(F.col(f"r.{k}"))
    return out


def idempotent_batch_writer(path: str, partition_cols: tuple[str, ...] = ()):
    """Exactly-once-effect parquet sink for ``foreachBatch``.

    Structured Streaming guarantees at-least-once for foreachBatch: after a
    crash between the write and the checkpoint commit, the SAME batch_id is
    re-delivered. Writing each batch into a ``_batch_id=<n>`` partition with
    dynamic partition overwrite makes the replay overwrite its own previous
    (possibly partial) output instead of appending duplicates — idempotent
    per batch, hence exactly-once end to end. This is the standard recipe
    when the sink is a plain file store with no transaction log.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", *partition_cols)
            .parquet(path)
        )

    return _write
