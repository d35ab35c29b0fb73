"""Config model: template grammar, validation, YAML-subset parsing."""

from __future__ import annotations

import pytest

from universal_aws_data_pipeline_spark.config.model import (
    SourceConfig,
    TransformationSpec,
    _parse_simple_yaml,
    register_template_provider,
    resolve_templates,
)


def test_template_env_and_default(monkeypatch):
    monkeypatch.setenv("MY_HOST", "db.example.com")
    assert resolve_templates("${ENV:MY_HOST}/x") == "db.example.com/x"
    assert resolve_templates("${ENV:NOPE_MISSING:fallback}") == "fallback"


def test_template_secret_bucket_grammar(monkeypatch):
    # the reference only resolves ${SECRET:}/${ENV:} though configs use
    # ${BUCKET:} (sample_source.yaml:61,65) — full grammar here
    monkeypatch.setenv("SECRET_api_key", "s3cr3t")
    monkeypatch.setenv("BUCKET_data_lake", "my-bucket")
    assert resolve_templates("key=${SECRET:api_key}") == "key=s3cr3t"
    assert resolve_templates("s3://${BUCKET:data_lake}/raw") == "s3://my-bucket/raw"


def test_template_unresolved_raises():
    with pytest.raises(KeyError, match="unresolved template"):
        resolve_templates("${ENV:DEFINITELY_NOT_SET_12345}")


def test_template_custom_provider_and_recursion():
    register_template_provider("VAR", lambda name: {"region": "eu-west-1"}.get(name))
    tree = {"a": ["${VAR:region}"], "b": {"c": "${VAR:region}-x"}}
    out = resolve_templates(tree)
    assert out == {"a": ["eu-west-1"], "b": {"c": "eu-west-1-x"}}


def test_invalid_datetime_pattern_rejected():
    # the reference ships 'YYYY-MM-DD' (week-year/day-of-year) — invalid
    with pytest.raises(ValueError, match="invalid datetime pattern"):
        TransformationSpec(field="d", type="datetime", format="YYYY-MM-DD HH:mm:ss")
    TransformationSpec(field="d", type="datetime", format="yyyy-MM-dd HH:mm:ss")  # ok


def test_unknown_transform_type_rejected():
    with pytest.raises(ValueError, match="unknown transformation type"):
        TransformationSpec(field="x", type="frobnicate")


def test_yaml_subset_parses_reference_shape():
    text = """
# comment
name: sample_api
type: rest_api
api:
  endpoint: https://api.example.com/v1/data
  timeout: 30
schema:
  mapping:
    customer_id: id
    name: profile.name
  required:
    - customer_id
  transformations:
    - field: name
      type: trim
quality_checks:
  - type: not_null
    columns:
      - customer_id
"""
    raw = _parse_simple_yaml(text)
    assert raw["name"] == "sample_api"
    assert raw["api"]["timeout"] == 30
    assert raw["schema"]["mapping"]["name"] == "profile.name"
    assert raw["schema"]["required"] == ["customer_id"]
    assert raw["schema"]["transformations"][0]["field"] == "name"
    cfg = SourceConfig.from_dict(raw)
    assert cfg.type == "rest_api"
    assert cfg.quality_checks[0].columns == ["customer_id"]


def test_source_config_full_roundtrip():
    cfg = SourceConfig.from_dict(
        {
            "name": "s",
            "type": "file",
            "input_path": "/data",
            "destination": {"path": "/out", "distkey": "id", "sortkeys": ["ts"], "max_errors": 10},
            "metric_thresholds": [{"metric": "record_count", "threshold": 10, "comparison": "gt"}],
            "retry": {"attempts": 5, "interval_seconds": 0.5, "backoff": 3},
        }
    )
    assert cfg.destination.dist_key == "id"
    assert cfg.destination.sort_keys == ["ts"]
    assert cfg.destination.max_errors == 10
    assert cfg.retry.attempts == 5 and cfg.retry.backoff == 3.0
    assert cfg.metric_thresholds[0].comparison == "gt"


@pytest.mark.parametrize("commit", ["rename", "manifest"])
def test_destination_commit_is_read(commit):
    cfg = SourceConfig.from_dict(
        {"name": "s", "input_path": "/data", "destination": {"path": "/out", "commit": commit}}
    )
    assert cfg.destination.commit == commit


def test_destination_commit_unknown_rejected():
    with pytest.raises(ValueError, match="destination.commit"):
        SourceConfig.from_dict(
            {"name": "s", "input_path": "/data", "destination": {"path": "/out", "commit": "copy"}}
        )


def test_reference_sample_source_yaml_loads_unchanged():
    """THE migration claim, tested against the reference's real on-disk file:
    /root/reference/src/config/sources/sample_source.yaml loads into a full
    SourceConfig with zero edits — wrapper unwrapped, connector block wired,
    COPY-time layout mapped to write-time layout, CloudWatch comparisons
    aliased, and the reference's moment.js datetime bug silently repaired."""
    import os

    from universal_aws_data_pipeline_spark.config.model import load_reference_config

    path = "/root/reference/src/config/sources/sample_source.yaml"
    if not os.path.exists(path):
        import pytest as _pytest

        _pytest.skip("reference checkout not present")
    cfg = load_reference_config(
        path,
        extra_vars={
            "customer_api_key": "k",
            "raw": "/tmp/raw",
            "processed": "/tmp/processed",
        },
    )
    assert cfg.name == "customer_data_api" and cfg.type == "rest_api"
    assert cfg.api["endpoint"] == "https://api.example.com/customers"
    assert cfg.api["pagination"]["max_pages"] == 10
    assert cfg.api["timeout"] == 30  # inline comment stripped, int restored
    assert cfg.api["headers"]["Authorization"] == "k"  # ${SECRET:} resolved
    # nested struct mapping survives (the reference declares it but its own
    # transform drops it — P3)
    assert cfg.schema.mapping["customerAddress"]["city"] == "address.city"
    assert cfg.schema.required == ["customerId", "customerName", "customerEmail"]
    # moment.js format repaired into a Java pattern Spark accepts
    assert cfg.schema.transformations[0].format == "yyyy-MM-dd HH:mm:ss"
    # processed destination + redshift layout
    assert cfg.destination.path == "/tmp/processed/customers/processed"
    assert cfg.destination.format == "parquet"
    assert cfg.destination.partition_by == ["year", "month", "day"]
    assert cfg.destination.dist_key == "customerId"
    assert cfg.destination.sort_keys == ["customerName", "lastUpdated"]
    # quality checks incl. the singular-`column` regex shape
    kinds = [c.type for c in cfg.quality_checks]
    assert kinds == ["not_null", "unique", "regex"]
    assert cfg.quality_checks[2].columns == ["customerEmail"]
    assert cfg.quality_checks[2].pattern.startswith("^[a-zA-Z0-9._%+-]+@")
    # CloudWatch comparison names alias to the canonical set
    assert [(m.metric, m.comparison) for m in cfg.metric_thresholds] == [
        ("record_count", "gt"),
        ("error_count", "gt"),
    ]
    assert cfg.retry.attempts == 3 and cfg.retry.backoff == 2.0
