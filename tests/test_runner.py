"""PipelineRunner end-to-end tests: routing, retry, quality gate, threshold
alarms, warehouse write, notifications."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from universal_aws_data_pipeline_spark.config.model import SourceConfig
from universal_aws_data_pipeline_spark.runner import PipelineRunner


@pytest.fixture()
def customer_json(tmp_path):
    path = tmp_path / "raw"
    path.mkdir()
    rows = [
        {"id": 1, "profile": {"name": "  alice  ", "city": "Berlin"}, "balance": "10.5", "created": "2024-03-01"},
        {"id": 2, "profile": {"name": "bob", "city": "Paris"}, "balance": "7.25", "created": "2024-03-02"},
        {"id": None, "profile": {"name": "ghost", "city": "X"}, "balance": "0", "created": "2024-03-03"},
    ]
    with open(path / "part-0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(path)


def _cfg(customer_json, tmp_path, **extra):
    base = {
        "name": "customers",
        "type": "file",
        "data_format": "json",
        "input_path": customer_json,
        "schema": {
            "mapping": {
                "customer_id": "id",
                "name": "profile.name",
                "address": {"city": "profile.city"},  # nested TARGET (fixed §1.4)
                "balance": "balance",
                "created_at": "created",
            },
            "required": ["customer_id"],
            "transformations": [
                {"field": "name", "type": "trim"},
                {"field": "balance", "type": "double"},
                {"field": "created_at", "type": "datetime", "format": "yyyy-MM-dd"},
            ],
        },
        "partition_source_column": "created_at",
        "retry": {"attempts": 2, "interval_seconds": 0.0},
    }
    base.update(extra)
    return SourceConfig.from_dict(base)


def test_file_pipeline_end_to_end(spark, customer_json, tmp_path):
    events = []
    cfg = _cfg(
        customer_json,
        tmp_path,
        destination={"path": str(tmp_path / "out"), "partition_by": ["year", "month"]},
        quality_checks=[{"type": "unique", "columns": ["customer_id"]}],
    )
    runner = PipelineRunner(spark, notify=events.append, clock=lambda: dt.datetime(2026, 1, 1))
    result = runner.run(cfg)
    assert result.status == "success", result.error
    assert result.stages == ["ingest", "transform", "quality", "write"]
    assert result.record_count == 2  # null-id row dropped by required filter

    back = spark.read.parquet(str(tmp_path / "out"))
    rows = {r["customer_id"]: r.asDict() for r in back.collect()}
    assert rows[1]["name"] == "alice"  # trimmed
    assert rows[1]["address"]["city"] == "Berlin"  # nested struct target
    assert rows[1]["year"] == 2024 and rows[1]["month"] == 3  # derived partitions
    assert events[-1]["status"] == "success"


def test_quality_gate_fails_run(spark, customer_json, tmp_path):
    events = []
    cfg = _cfg(
        customer_json,
        tmp_path,
        quality_checks=[{"type": "regex", "columns": ["name"], "pattern": "^[A-Z]"}],  # lowercase names fail
    )
    result = PipelineRunner(spark, notify=events.append).run(cfg)
    assert result.status == "failed"
    assert "quality checks failed" in result.error
    assert events[-1]["status"] == "failed"


def test_metric_threshold_alarm(spark, customer_json, tmp_path):
    # Alarm-when-true (CloudWatch) semantics: record_count gt 1 TRIPS on a
    # 2-row run; the reference's own "error_count GreaterThan 0" passes clean.
    cfg = _cfg(
        customer_json,
        tmp_path,
        metric_thresholds=[
            {"metric": "record_count", "threshold": 1, "comparison": "gt"},
            {"metric": "error_count", "threshold": 0, "comparison": "GreaterThan"},  # CloudWatch alias
        ],
    )
    result = PipelineRunner(spark).run(cfg)
    assert result.status == "failed" and "record_count gt 1" in result.error
    assert "error_count" not in result.error  # clean run: error alarm not tripped


def test_metric_threshold_clean_run_passes(spark, customer_json, tmp_path):
    # The exact ported reference config (sample_source.yaml:104-106): alert on
    # any error; a clean run must succeed.
    cfg = _cfg(
        customer_json, tmp_path,
        metric_thresholds=[{"metric": "error_count", "threshold": 0, "comparison": "GreaterThan"}],
    )
    result = PipelineRunner(spark).run(cfg)
    assert result.status == "success", result.error


def test_corrupt_record_survives_mapping_maxerror(spark, tmp_path):
    # MAXERROR accounting with schema.mapping set: corrupt rows must reach the
    # warehouse sink's error accounting, not become silently-dropped null rows.
    raw = tmp_path / "raw_corrupt"
    raw.mkdir()
    with open(raw / "part-0.json", "w") as f:
        f.write(json.dumps({"id": 1, "profile": {"name": "a", "city": "B"}, "balance": "1", "created": "2024-03-01"}) + "\n")
        f.write('{"id": 2, "profile": {broken json!!\n')
        f.write('this is not json at all\n')
    cfg = _cfg(str(raw), tmp_path, destination={"path": str(tmp_path / "whc"), "max_errors": 10})
    result = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    assert result.record_count == 1
    assert result.error_count == 2  # both corrupt lines counted, then dropped
    back = spark.read.parquet(str(tmp_path / "whc"))
    assert back.count() == 1 and "_corrupt_record" not in back.columns

    # and the cap is enforced: max_errors=1 < 2 corrupt rows -> failed run
    cfg2 = _cfg(str(raw), tmp_path, destination={"path": str(tmp_path / "whc2"), "max_errors": 1}, name="customers2")
    result2 = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg2)
    assert result2.status == "failed"
    assert "max_errors" in result2.error


def test_run_stream_source(spark, tmp_path):
    # type: stream through run(): micro-batches drain via availableNow,
    # quality gate + append write happen per-batch in foreachBatch.
    src = tmp_path / "stream_in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(json.dumps({"id": 1, "profile": {"name": "a", "city": "B"}, "balance": "1", "created": "2024-03-01"}) + "\n")
        f.write(json.dumps({"id": 2, "profile": {"name": "b", "city": "P"}, "balance": "2", "created": "2024-03-02"}) + "\n")
    cfg = _cfg(
        None, tmp_path,
        type="stream",
        input_path=None,
        stream={
            "type": "file", "path": str(src), "format": "json",
            "schema": "id long, profile struct<name:string, city:string>, balance string, created string",
            "checkpoint": str(tmp_path / "ckpt"),
        },
        destination={"path": str(tmp_path / "stream_out")},
        quality_checks=[{"type": "not_null", "columns": ["name"]}],
    )
    result = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    assert result.record_count == 2
    back = spark.read.parquet(str(tmp_path / "stream_out"))
    assert back.count() == 2
    assert {r["name"] for r in back.select("name").collect()} == {"a", "b"}


def test_warehouse_destination_distkey_sortkey(spark, customer_json, tmp_path):
    cfg = _cfg(
        customer_json,
        tmp_path,
        destination={"path": str(tmp_path / "wh"), "distkey": "customer_id", "sortkeys": ["created_at"]},
    )
    result = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    assert result.record_count == 2
    assert spark.read.parquet(str(tmp_path / "wh")).count() == 2


def test_ingest_retry_then_success(spark, customer_json, tmp_path):
    calls = {"n": 0}

    def flaky_http(url, method, headers, body, timeout):
        calls["n"] += 1
        if calls["n"] == 1:
            return 503, "boom"
        return 200, json.dumps({"items": [{"id": 7, "profile": {"name": "x", "city": "Y"},
                                           "balance": "1", "created": "2024-01-05"}]})

    cfg = _cfg(customer_json, tmp_path)
    cfg.type = "rest_api"
    cfg.api = {"endpoint": "http://fake/api", "data_path": "items"}
    result = PipelineRunner(spark, http=flaky_http, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    assert calls["n"] == 2  # one retry
    assert result.record_count == 1


def test_unknown_source_type_fails():
    with pytest.raises(ValueError, match="unknown source type"):
        SourceConfig.from_dict({"name": "bad", "type": "carrier_pigeon"})


def test_stream_source_routing(spark):
    cfg = SourceConfig.from_dict({"name": "s", "type": "stream", "stream": {"type": "rate", "rows_per_second": 1}})
    df = PipelineRunner(spark)._ingest(cfg)
    assert df.isStreaming


def test_yaml_config_file_end_to_end(spark, customer_json, tmp_path, monkeypatch):
    """Full path through load_source_config: YAML-subset file + ${ENV:}
    template -> runner -> partitioned output (the reference's config contract,
    sample_source.yaml shape)."""
    from universal_aws_data_pipeline_spark.config.model import load_source_config

    monkeypatch.setenv("OUT_ROOT", str(tmp_path))
    yaml_text = f"""
name: customers_yaml
type: file
data_format: json
input_path: {customer_json}
partition_source_column: created_at
schema:
  mapping:
    customer_id: id
    name: profile.name
    created_at: created
  required:
    - customer_id
  transformations:
    - field: name
      type: trim
    - field: created_at
      type: datetime
      format: yyyy-MM-dd
destination:
  path: ${{ENV:OUT_ROOT}}/yaml_out
  partition_by:
    - year
quality_checks:
  - type: not_null
    columns:
      - name
"""
    cfg_path = tmp_path / "source.yaml"
    cfg_path.write_text(yaml_text)
    cfg = load_source_config(str(cfg_path))
    assert cfg.destination.path == f"{tmp_path}/yaml_out"  # template resolved
    result = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    back = spark.read.parquet(cfg.destination.path)
    assert back.count() == 2
    assert {r["year"] for r in back.select("year").collect()} == {2024}


def test_reference_workflow_definition_parity():
    """Structural parity against the reference's REAL state machine
    (src/config/pipelines/workflow_definition.json): every Choice route is a
    source type the runner ingests, the default route is a Fail state (the
    runner raises on unknown types), and the Task Retry blocks adapt into
    RetryPolicy with the exact ASL parameters."""
    import json
    import os

    import pytest as _pytest

    from universal_aws_data_pipeline_spark.config.model import retry_policy_from_asl

    path = "/root/reference/src/config/pipelines/workflow_definition.json"
    if not os.path.exists(path):
        _pytest.skip("reference checkout not present")
    wf = json.load(open(path))
    states = wf["States"]

    choice = states["DetermineSourceType"]
    routed = {c["StringEquals"] for c in choice["Choices"]}
    # "api" is the reference's name for the rest_api connector
    assert routed == {"api", "email", "file", "stream"}
    supported = {"rest_api", "email", "file", "stream"}
    assert {"rest_api" if r == "api" else r for r in routed} == supported
    assert states[choice["Default"]]["Type"] == "Fail"  # runner: ValueError

    # every Task state's Retry block is representable — and the reference's
    # actual numbers ride through
    for name, st in states.items():
        if st.get("Type") == "Task" and "Retry" in st:
            rp = retry_policy_from_asl(st["Retry"])
            assert rp.attempts >= 1 and rp.backoff >= 1.0, name
    api_rp = retry_policy_from_asl(states["APIIngestion"]["Retry"])
    assert (api_rp.attempts, api_rp.interval_seconds, api_rp.backoff) == (3, 3.0, 2.0)

    # every Catch lands on a notification task then a Fail/end — mirrored by
    # the runner's catch → notification envelope
    for name, st in states.items():
        for c in st.get("Catch", []):
            assert "Notification" in c["Next"], name


def test_reference_config_drives_full_pipeline_e2e(spark, tmp_path):
    """Flagship migration e2e: the reference's REAL sample_source.yaml —
    loaded unchanged off /root/reference — drives ingest (offset-paginated
    REST through the injectable transport) → the declared mapping incl. the
    nested customerAddress struct → repaired datetime transforms → quality
    checks → partitioned parquet write, under this engine's runner."""
    import json as _json
    import os

    import pytest as _pytest

    from universal_aws_data_pipeline_spark.config.model import load_reference_config

    path = "/root/reference/src/config/sources/sample_source.yaml"
    if not os.path.exists(path):
        _pytest.skip("reference checkout not present")

    customers = [
        {
            "id": i,
            "name": f"  Customer {i}  ",
            "email": f"c{i}@example.com",
            "address": {"street": f"{i} Main St", "city": "Springfield",
                        "state": "OR", "zipcode": f"9{i:04d}"},
            "created_at": f"2025-03-0{1 + i % 9} 10:00:00",
            "updated_at": f"2025-03-0{1 + i % 9} 11:30:00",
        }
        for i in range(8)  # <= 10: the config's record_count alarm must stay quiet
    ]

    class Http:
        def __init__(self):
            self.calls = []

        def __call__(self, url, method, headers, body, timeout):
            self.calls.append((url, method, headers.get("Authorization")))
            from urllib.parse import parse_qs, urlparse

            q = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
            off, lim = int(q.get("offset", 0)), int(q.get("limit", 1000))
            return 200, _json.dumps(customers[off : off + lim])

    http = Http()
    cfg = load_reference_config(
        path,
        extra_vars={"customer_api_key": "sekrit", "raw": str(tmp_path / "raw"),
                    "processed": str(tmp_path)},
    )
    assert cfg.destination.path == f"{tmp_path}/customers/processed"
    result = PipelineRunner(spark, http=http).run(cfg)
    assert result.status == "success", result.error
    assert result.record_count == 8

    # the config's auth header (template-resolved) reached the wire
    assert http.calls and http.calls[0][2] == "sekrit"
    # pagination honored the config's limit param (1000 -> one full page)
    assert "limit=1000" in http.calls[0][0]

    out = spark.read.parquet(cfg.destination.path)
    assert out.count() == 8
    # declared mapping applied, incl. the nested struct the reference drops
    assert out.select("customerAddress.city").distinct().collect()[0][0] == "Springfield"
    # the config declares NO trim for customerName — values pass through
    # verbatim (only the two datetime transforms are declared)
    assert {r["customerName"] for r in out.select("customerName").collect()} == {
        f"  Customer {i}  " for i in range(8)
    }
    # repaired datetime transform produced real timestamps
    assert dict(out.dtypes)["createdDate"].startswith("timestamp")
    # redshift sortkey -> file layout; partition dirs from the date heuristic
    years = {d for d in os.listdir(cfg.destination.path) if d.startswith("year=")}
    assert years == {"year=2025"}


def test_stage_ms_times_each_stage_and_rides_the_notification(spark, customer_json, tmp_path):
    events = []
    cfg = _cfg(
        customer_json, tmp_path,
        destination={"path": str(tmp_path / "out")},
        quality_checks=[{"type": "not_null", "columns": ["customer_id"]}],
    )
    result = PipelineRunner(spark, notify=events.append, clock=lambda: dt.datetime(2026, 1, 1)).run(cfg)
    assert result.status == "success", result.error
    assert list(result.stage_ms) == result.stages == ["ingest", "transform", "quality", "write"]
    assert all(ms > 0 for ms in result.stage_ms.values())
    assert events[-1]["stage_ms"] == result.stage_ms


def _new_persistent_rdds(spark, before):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before


def test_gated_load_checkpoint_released_on_every_outcome(spark, tmp_path):
    """A run that both gates and loads reads the feed once, into a
    localCheckpoint; success, a quality failure and a MAXERROR failure all
    release it, and the failed gate leaves the committed table as it was."""
    raw = tmp_path / "raw"
    raw.mkdir()
    with open(raw / "part-0.json", "w") as f:
        for i, name in ((1, "Ann"), (2, "Bob")):
            f.write(json.dumps({"id": i, "profile": {"name": name, "city": "B"}, "balance": "1",
                                "created": "2024-03-01"}) + "\n")
        f.write("not json\n{broken\n")
    dest = str(tmp_path / "wh")
    runner = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1))
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    ok = runner.run(_cfg(str(raw), tmp_path, destination={"path": dest, "max_errors": 5},
                         quality_checks=[{"type": "unique", "columns": ["customer_id"]}]))
    assert ok.status == "success", ok.error
    assert (ok.record_count, ok.error_count) == (2, 2)
    assert not _new_persistent_rdds(spark, before)
    committed = sorted(r["customer_id"] for r in spark.read.parquet(dest).collect())
    listing = sorted(os.listdir(dest))

    gated = runner.run(_cfg(str(raw), tmp_path, destination={"path": dest, "max_errors": 5},
                            quality_checks=[{"type": "regex", "columns": ["name"], "pattern": "^A"}]))
    assert gated.status == "failed" and "quality checks failed" in gated.error
    assert (gated.record_count, gated.error_count) == (-1, 0)
    assert "write" not in gated.stages
    assert not _new_persistent_rdds(spark, before)
    assert sorted(os.listdir(dest)) == listing
    assert sorted(r["customer_id"] for r in spark.read.parquet(dest).collect()) == committed

    capped = runner.run(_cfg(str(raw), tmp_path, destination={"path": dest, "max_errors": 1},
                             quality_checks=[{"type": "unique", "columns": ["customer_id"]}]))
    assert capped.status == "failed" and "max_errors" in capped.error
    assert not _new_persistent_rdds(spark, before)
    assert sorted(os.listdir(dest)) == listing


def test_write_retry_reads_the_lazy_plan(spark, customer_json, tmp_path, monkeypatch):
    """The first write attempt reads the checkpoint; a retry reads the lazy
    frame, so a lost checkpoint block cannot fail every attempt."""
    import universal_aws_data_pipeline_spark.runner as runner_mod

    seen = []
    real = runner_mod.write_partitioned

    def flaky(df, *args, **kwargs):
        seen.append(df._jdf.queryExecution().analyzed().toString())
        if len(seen) == 1:
            raise OSError("transient")
        return real(df, *args, **kwargs)

    monkeypatch.setattr(runner_mod, "write_partitioned", flaky)
    cfg = _cfg(customer_json, tmp_path, destination={"path": str(tmp_path / "out")},
               quality_checks=[{"type": "not_null", "columns": ["customer_id"]}])
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    result = PipelineRunner(spark, clock=lambda: dt.datetime(2026, 1, 1), sleep=lambda s: None).run(cfg)
    assert result.status == "success", result.error
    assert result.record_count == 2
    assert "LogicalRDD" in seen[0] and "LogicalRDD" not in seen[1]
    assert not _new_persistent_rdds(spark, before)
