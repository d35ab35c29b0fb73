"""Catalog table reads (``plans/_shared.py::_read_parquet``): a table's
schema is inferred once per session and reused while its files, the session
and the schema-relevant reader confs are unchanged; any change re-infers."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import _artifact, _t


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    before = _last_job(spark)
    out = fn()
    return out, _last_job(spark) - before


def _write(df, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(path)


def test_second_read_of_an_unchanged_table_starts_no_job(spark, tmp_path):
    _write(spark.range(5).select("id", (F.col("id") * 2).alias("v")), str(tmp_path / "t.parquet"))
    first, jobs = _jobs_during(spark, lambda: _t(spark, str(tmp_path), "t"))
    assert jobs >= 1  # the footer scan that infers the schema
    second, jobs = _jobs_during(spark, lambda: _t(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    base = spark.range(3).select(F.col("id").cast("int").alias("id"))
    _write(base, path)
    assert _t(spark, str(tmp_path), "t").columns == ["id"]

    _write(base.withColumn("extra", F.lit("x")), path)
    added = _t(spark, str(tmp_path), "t")
    assert added.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in added.collect()) == [(0, "x"), (1, "x"), (2, "x")]

    _write(base.select((F.col("id") + 0.5).alias("id"), F.lit("y").alias("extra")), path)
    retyped = _t(spark, str(tmp_path), "t")
    assert dict(retyped.dtypes) == {"id": "double", "extra": "string"}
    assert sorted(r["id"] for r in retyped.collect()) == [0.5, 1.5, 2.5]


def test_events_ts_is_ntz_whichever_way_nanos_as_long_is_set(spark, tmp_path):
    """``nanosAsLong`` is part of the key: flipping it re-infers, and the
    ``ts`` normalization sees the schema the current conf gives. The table
    is TIMESTAMP(MICROS), like the test datasets' ``events``: a NANOS column
    is rejected outright when the conf is off, so no file reads under both
    settings with different types."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(seconds=61 * i, microseconds=7 * i)) for i in range(6)]
    _write(spark.createDataFrame(rows, "event_id long, ts timestamp_ntz"), str(tmp_path / "events.parquet"))
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    orig = spark.conf.get(conf)

    def read():
        df, jobs = _jobs_during(spark, lambda: _t(spark, str(tmp_path), "events"))
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        return sorted(df.select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect()), jobs

    try:
        spark.conf.set(conf, "true")
        on, _ = read()
        spark.conf.set(conf, "false")
        off, jobs = read()
    finally:
        spark.conf.set(conf, orig)
    assert jobs >= 1  # the flip re-inferred the schema
    assert off == on and len(on) == len(rows)


def test_artifact_read_back_shows_the_rebuilt_schema(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_text("v1")
    one = _artifact(spark, "k", str(sf), "n", lambda: spark.range(2))
    assert one.columns == ["id"]

    (sf / "documents.parquet").write_text("v2, a different size")
    two = _artifact(spark, "k", str(sf), "n", lambda: spark.range(2).withColumn("w", F.col("id") + 1))
    assert two.columns == ["id", "w"]
    assert sorted(tuple(r) for r in two.collect()) == [(0, 1), (1, 2)]
