"""Schema registry (crawler stand-in): discovery, versioning, evolution."""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from universal_aws_data_pipeline_spark.config.registry import SchemaRegistry, merge_schemas
from universal_aws_data_pipeline_spark.sources.files import read_source


def _write_json(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / "part-0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_crawl_register_load_enforce(spark, tmp_path):
    data = tmp_path / "ds"
    _write_json(data, [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}])
    reg = SchemaRegistry(str(tmp_path / "registry"))
    schema = reg.crawl(spark, "ds", str(data))
    assert reg.versions("ds") == 1
    assert set(schema.fieldNames()) == {"id", "name"}

    # enforced read: no inference pass, stable schema
    df = read_source(spark, str(data), "json", schema=reg.load("ds"))
    assert df.schema == schema
    assert df.count() == 2

    # re-crawl same data: same version (no-op registration)
    reg.crawl(spark, "ds", str(data))
    assert reg.versions("ds") == 1


def test_crawl_evolution_new_field_and_widening(spark, tmp_path):
    data1 = tmp_path / "v1"
    _write_json(data1, [{"id": 1, "amount": 5}])
    reg = SchemaRegistry(str(tmp_path / "registry"))
    reg.crawl(spark, "ds", str(data1))

    data2 = tmp_path / "v2"
    _write_json(data2, [{"id": 2, "amount": 5.5, "tag": "x"}])  # amount widens, tag appears
    merged = reg.crawl(spark, "ds", str(data2))
    assert reg.versions("ds") == 2
    assert isinstance(merged["amount"].dataType, DoubleType)
    assert "tag" in merged.fieldNames()
    # v1 schema still retrievable
    assert isinstance(reg.load("ds", version=1)["amount"].dataType, LongType)


def test_merge_schemas_rules():
    base = StructType(
        [
            StructField("id", IntegerType()),
            StructField("v", IntegerType()),
            StructField("old_only", StringType()),
            StructField("tags", ArrayType(IntegerType())),
        ]
    )
    new = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("tags", ArrayType(DoubleType())),
            StructField("fresh", DoubleType()),
        ]
    )
    m = merge_schemas(base, new)
    assert isinstance(m["id"].dataType, LongType)  # int → bigint
    assert isinstance(m["v"].dataType, StringType)  # conflict widens to string
    assert "old_only" in m.fieldNames()  # base-only kept
    assert isinstance(m["tags"].dataType.elementType, DoubleType)  # array widen
    assert m.fieldNames()[-1] == "fresh"  # appended
    assert all(f.nullable for f in m.fields)


def test_merge_rescue_mode_keeps_base_type_and_adds_rescue_col(spark):
    """Irreconcilable conflict (struct vs atomic): error mode raises, rescue
    mode keeps the registered type and appends _rescued_data."""
    import pytest

    from universal_aws_data_pipeline_spark.config.registry import (
        RESCUE_COL,
        SchemaConflictError,
        merge_schemas,
    )

    base = StructType([StructField("id", LongType()), StructField("meta", LongType())])
    new = StructType(
        [StructField("id", LongType()),
         StructField("meta", StructType([StructField("x", StringType())]))]
    )
    with pytest.raises(SchemaConflictError):
        merge_schemas(base, new)
    merged = merge_schemas(base, new, mode="rescue")
    by_name = {f.name: f.dataType for f in merged.fields}
    assert by_name["meta"] == LongType()  # registered readers stay valid
    assert RESCUE_COL in by_name


def test_read_with_rescue_captures_nonconforming_values(spark, tmp_path):
    """Rows whose values don't cast to the registered type keep the raw value
    in _rescued_data instead of silently nulling."""
    import json as _json

    from universal_aws_data_pipeline_spark.config.registry import RESCUE_COL, read_with_rescue

    p = tmp_path / "in"
    p.mkdir()
    with open(p / "a.json", "w") as f:
        f.write(_json.dumps({"id": 1, "amount": "12.5"}) + "\n")
        f.write(_json.dumps({"id": 2, "amount": "not-a-number"}) + "\n")
        f.write(_json.dumps({"id": 3}) + "\n")
    schema = StructType([StructField("id", LongType()), StructField("amount", DoubleType())])
    out = read_with_rescue(spark, str(p), "json", schema)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["amount"] == 12.5 and rows[1][RESCUE_COL] is None
    assert rows[2]["amount"] is None and rows[2][RESCUE_COL] == {"amount": "not-a-number"}
    assert rows[3]["amount"] is None and rows[3][RESCUE_COL] is None  # absent ≠ non-conforming
