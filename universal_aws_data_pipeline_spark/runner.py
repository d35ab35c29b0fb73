"""In-process pipeline runner — the Step Functions state machine collapsed to
one driver program.

Parity with ``src/config/pipelines/workflow_definition.json``:

- source-type routing (Choice state, ``workflow_definition.json:15-40``) →
  dispatch on ``cfg.type``; unknown type fails the run (``:41-45``)
- per-stage retry with exponential backoff (ASL Retry blocks, ``:50-57,
  101-108, 169-176, 207-214``) → ``_with_retry``
- catch → failure notification (``:82-93`` etc.) → ``notify`` callbacks with a
  structured envelope (⇔ the SNS JSON envelopes, ``api_ingestion/handler.py:
  367-378``, ``redshift_loader/handler.py:220-233``)
- crawler schema discovery (``:94-142``) → the runner infers the schema
  from the feed on every run; ``config/registry.py::SchemaRegistry`` is the
  catalog a caller can register it in and enforce on later reads
- Glue transform job (``:155-185``) → ``transform_chain``
- Redshift load (``:198-223``) → ``write_warehouse_table`` (staging swap)

Observability: input/output record counts come from ``df.observe`` metrics in
the same job as the write — the reference recomputes the plan per count and
reads both counts after the write, so they're always equal and 3× the work
(``transform_data.py:234-238``, SURVEY §1.4). ``RunResult.stage_ms`` holds
the wall ms of each batch stage, also sent in the success notification.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from universal_aws_data_pipeline_spark.config.model import MetricThreshold, RetryPolicy, SourceConfig
from universal_aws_data_pipeline_spark.operators.quality import (
    QualityCheckError,
    check_metric_thresholds,
    enforce_quality_checks,
)
from universal_aws_data_pipeline_spark.operators.transform import transform_chain
from universal_aws_data_pipeline_spark.sinks.tables import write_partitioned, write_warehouse_table
from universal_aws_data_pipeline_spark.sources.files import read_source
from universal_aws_data_pipeline_spark.sources.rest import rest_api_source

NotifyFn = Callable[[dict[str, Any]], None]


@dataclass
class RunResult:
    source_name: str
    status: str  # success | failed
    stages: list[str] = field(default_factory=list)
    record_count: int = -1
    error_count: int = 0
    error: str | None = None
    quality: list[dict[str, Any]] = field(default_factory=list)
    stage_ms: dict[str, float] = field(default_factory=dict)  # batch runs: wall ms per finished stage


class PipelineError(RuntimeError):
    def __init__(self, stage: str, cause: Exception):
        super().__init__(f"stage {stage!r} failed: {cause}")
        self.stage = stage
        self.cause = cause


def _with_retry(stage: str, fn: Callable[[], Any], retry: RetryPolicy, sleep: Callable[[float], None] = time.sleep) -> Any:
    """ASL-style Retry block: attempts × exponential backoff, then raise."""
    delay = retry.interval_seconds
    last: Exception | None = None
    for attempt in range(max(1, retry.attempts)):
        try:
            return fn()
        except (QualityCheckError, ValueError):
            raise  # data/config errors: retrying re-runs the same failure
        except Exception as e:  # noqa: BLE001
            last = e
            if attempt + 1 < retry.attempts:
                sleep(delay)
                delay *= retry.backoff
    raise PipelineError(stage, last)  # type: ignore[arg-type]


def _check_thresholds(thresholds: list[MetricThreshold], metrics: dict[str, float]) -> None:
    """Metric alarms, CloudWatch semantics (sample_source.yaml:98-107): the
    comparison IS the alarm condition — ``error_count gt 0`` trips when errors
    exist, so a clean run passes. Shares ``check_metric_thresholds`` so runner
    and quality engine can never diverge; missing metrics do not alarm."""
    alarmed = [r for r in check_metric_thresholds(metrics, thresholds) if not r.passed]
    if alarmed:
        raise ValueError("metric alarms tripped: " + ", ".join(r.check for r in alarmed))


@contextlib.contextmanager
def _stage(result: RunResult, name: str):
    """Time one stage with ``perf_counter``; a stage that raises is neither
    timed nor listed."""
    t = time.perf_counter()
    yield
    result.stage_ms[name] = (time.perf_counter() - t) * 1000.0
    result.stages.append(name)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of ``df``, a ``localCheckpoint`` result: its plan is
    the ``LogicalRDD`` over the checkpointed RDD."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class PipelineRunner:
    """run(cfg) = ingest → transform → quality → write, with per-stage retry
    and notification hooks. A file batch run launches these Spark jobs:

    - ingest: schema inference over the feed (``read_source``);
    - transform: with quality checks AND a destination, one job parses and
      transforms the feed into a ``localCheckpoint`` that the gate and the
      load both read, released when the run ends; otherwise nothing runs;
    - quality: one aggregation job for all checks;
    - write: the load, with record/error counts observed in the same job
      (``transformed.count()`` when there is no destination).
    """

    def __init__(
        self,
        spark: SparkSession,
        notify: NotifyFn | None = None,
        http: Any = None,  # injectable HTTP transport for rest_api sources
        clock: Callable[[], dt.datetime] | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.spark = spark
        self.notify = notify or (lambda evt: None)
        self.http = http
        self.clock = clock
        self.sleep = sleep

    # -- stages ------------------------------------------------------------
    def _ingest(self, cfg: SourceConfig) -> DataFrame:
        if cfg.type == "rest_api":
            return rest_api_source(self.spark, cfg.api, http=self.http, retry=cfg.retry,
                                   land_dir=cfg.api.get("land_dir"))
        if cfg.type == "file":
            if not cfg.input_path:
                raise ValueError(f"file source {cfg.name!r} requires input_path")
            return read_source(self.spark, cfg.input_path, cfg.data_format,
                               tolerant=cfg.destination is not None and cfg.destination.max_errors > 0)
        if cfg.type == "email":
            from universal_aws_data_pipeline_spark.sources.email import EmailSourceConfig, email_dir_source

            e = cfg.email
            return email_dir_source(
                self.spark,
                e["message_dir"],
                EmailSourceConfig(
                    name=cfg.name,
                    allowed_senders=list(e.get("allowed_senders", [])),
                    allowed_extensions=list(e.get("allowed_extensions", [])),
                ),
            )
        if cfg.type == "stream":
            from universal_aws_data_pipeline_spark.streaming.ops import read_stream_source

            return read_stream_source(self.spark, cfg.stream, cfg.stream.get("schema"))
        raise ValueError(f"unknown source type {cfg.type!r}")  # Choice-state Fail (:41-45)

    # -- streaming run -----------------------------------------------------
    def run_stream(self, cfg: SourceConfig, batch_counts: list[int] | None = None):
        """``type: stream`` execution: ingest → transform → per-micro-batch
        quality gate + append write via ``foreachBatch``.

        Returns the started ``StreamingQuery``. Batch-only actions (quality
        collect, count, df.write) run on each micro-batch DataFrame inside
        ``foreachBatch`` — never on the streaming plan itself, which would
        raise AnalysisException. ``cfg.stream`` may carry sink-side keys:
        ``checkpoint`` (default ``<dest.path>__checkpoint__``) and ``trigger``
        (default ``{"availableNow": True}``, which drains and terminates).
        """
        from universal_aws_data_pipeline_spark.streaming.ops import write_stream_sink

        if cfg.destination is None:
            raise ValueError(f"stream source {cfg.name!r} requires a destination")
        dest = cfg.destination
        now = self.clock() if self.clock else None
        df = self._ingest(cfg)
        transformed = transform_chain(df, cfg, processed_at=now, fallback_date=now.date() if now else None)
        if cfg.post_transforms:
            from universal_aws_data_pipeline_spark.operators.post import apply_post_transforms

            transformed = apply_post_transforms(transformed, cfg.post_transforms)

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if cfg.quality_checks:
                enforce_quality_checks(batch_df, cfg.quality_checks)
            obs = Observation(f"stream_{cfg.name}_{batch_id}")
            observed = batch_df.observe(obs, F.count(F.lit(1)).alias("record_count"))
            write_partitioned(observed, dest.path, dest.format, dest.partition_by, mode="append")
            if batch_counts is not None:
                batch_counts.append(int(obs.get.get("record_count", 0)))

        return write_stream_sink(
            transformed,
            {
                "type": "foreach_batch",
                "fn": _sink,
                "checkpoint": cfg.stream.get("checkpoint", f"{dest.path.rstrip('/')}__checkpoint__"),
                "output_mode": "append",
                "trigger": cfg.stream.get("trigger", {"availableNow": True}),
            },
        )

    def _run_stream_to_completion(self, cfg: SourceConfig) -> RunResult:
        """run() semantics for a stream source: drain with availableNow, block
        until terminated, aggregate batch counts into a RunResult."""
        result = RunResult(source_name=cfg.name, status="failed")
        counts: list[int] = []
        try:
            trigger = cfg.stream.get("trigger", {"availableNow": True})
            if "availableNow" not in trigger and "once" not in trigger:
                raise ValueError(
                    f"stream source {cfg.name!r}: run() only supports draining triggers "
                    "(availableNow/once); for continuous triggers call run_stream() directly"
                )
            query = _with_retry("ingest", lambda: self.run_stream(cfg, batch_counts=counts), cfg.retry, self.sleep)
            result.stages.append("ingest")
            query.awaitTermination()
            result.stages.extend(["transform", "write"])
            result.record_count = sum(counts)
            _check_thresholds(cfg.metric_thresholds,
                              {"record_count": result.record_count, "error_count": result.error_count})
            result.status = "success"
            self.notify({"status": "success", "source": cfg.name, "stages": result.stages,
                         "record_count": result.record_count})
            return result
        except Exception as e:  # noqa: BLE001 — catch → notify (workflow :82-93)
            result.error = str(e)
            self.notify({"status": "failed", "source": cfg.name,
                         "stage": getattr(e, "stage", result.stages[-1] if result.stages else "init"),
                         "error": str(e)})
            return result

    # -- run ---------------------------------------------------------------
    def run(self, cfg: SourceConfig) -> RunResult:
        if cfg.type == "stream":
            return self._run_stream_to_completion(cfg)
        result = RunResult(source_name=cfg.name, status="failed")
        now = self.clock() if self.clock else None
        staged: DataFrame | None = None
        try:
            with _stage(result, "ingest"):
                df = _with_retry("ingest", lambda: self._ingest(cfg), cfg.retry, self.sleep)

            with _stage(result, "transform"):
                transformed = transform_chain(
                    df, cfg, processed_at=now,
                    fallback_date=now.date() if now else None,
                )
                if cfg.post_transforms:
                    from universal_aws_data_pipeline_spark.operators.post import apply_post_transforms

                    transformed = apply_post_transforms(transformed, cfg.post_transforms)
                ready = transformed
                if cfg.quality_checks and cfg.destination is not None:
                    # the gate and the load would each parse and transform the feed
                    staged = ready = transformed.localCheckpoint(eager=True)

            if cfg.quality_checks:
                with _stage(result, "quality"):
                    checked = enforce_quality_checks(ready, cfg.quality_checks)
                    result.quality = [{"check": r.check, "passed": r.passed, "violations": r.violations}
                                      for r in checked]

            if cfg.destination is not None:
                dest = cfg.destination
                # Only the first attempt reads the checkpoint, so a lost
                # checkpoint block cannot fail every retry.
                attempts = itertools.chain([ready], itertools.repeat(transformed))
                with _stage(result, "write"):
                    if dest.jdbc_url or dest.dist_key or dest.sort_keys or dest.max_errors:
                        counts: dict[str, int] = {}
                        _with_retry("load", lambda: write_warehouse_table(next(attempts), dest, counts),
                                    cfg.retry, self.sleep)
                        result.record_count = counts.get("record_count", -1)
                        result.error_count = counts.get("error_count", 0)
                    else:
                        def write_once() -> int:
                            obs = Observation(f"run_{cfg.name}")
                            observed = next(attempts).observe(obs, F.count(F.lit(1)).alias("record_count"))
                            write_partitioned(observed, dest.path, dest.format, dest.partition_by, dest.mode)
                            return int(obs.get.get("record_count", -1))

                        result.record_count = _with_retry("write", write_once, cfg.retry, self.sleep)
            else:
                result.record_count = transformed.count()

            _check_thresholds(cfg.metric_thresholds,
                              {"record_count": result.record_count, "error_count": result.error_count})
            result.status = "success"
            self.notify({"status": "success", "source": cfg.name, "stages": result.stages,
                         "record_count": result.record_count, "stage_ms": result.stage_ms})
            return result
        except Exception as e:  # noqa: BLE001 — catch → notify (workflow :82-93)
            result.error = str(e)
            self.notify({"status": "failed", "source": cfg.name,
                         "stage": getattr(e, "stage", result.stages[-1] if result.stages else "init"),
                         "error": str(e)})
            return result
        finally:
            if staged is not None:
                _release_checkpoint(staged)
