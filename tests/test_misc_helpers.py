"""Coverage for remaining helpers: metric threshold evaluation,
corrupt-record column handling."""

from __future__ import annotations

from universal_aws_data_pipeline_spark.config.model import MetricThreshold
from universal_aws_data_pipeline_spark.operators.quality import check_metric_thresholds


def test_check_metric_thresholds_alarm_when_true():
    # CloudWatch semantics: comparison IS the alarm condition.
    thresholds = [
        MetricThreshold(metric="record_count", threshold=10, comparison="gt"),
        MetricThreshold(metric="error_count", threshold=0, comparison="GreaterThan"),  # alias normalizes
        MetricThreshold(metric="missing_metric", threshold=1, comparison="ge"),
    ]
    results = check_metric_thresholds({"record_count": 42, "error_count": 0}, thresholds)
    by_check = {r.check: r.passed for r in results}
    assert by_check["record_count gt 10"] is False  # 42 > 10 -> alarm trips
    assert by_check["error_count gt 0"] is True  # clean run: no alarm
    assert by_check["missing_metric ge 1"] is True  # missing data: not breaching

    # errors present -> the reference's error_count alarm trips
    results2 = check_metric_thresholds({"error_count": 3}, thresholds[1:2])
    assert results2[0].passed is False and results2[0].violations == 1


def test_quality_checks_empty_input_passes(spark):
    """F.sum over zero rows is NULL; coalesce keeps empty inputs a clean pass."""
    from universal_aws_data_pipeline_spark.config.model import QualityCheck
    from universal_aws_data_pipeline_spark.operators.quality import run_quality_checks

    df = spark.createDataFrame([], "a string, b long")
    results = run_quality_checks(
        df,
        [QualityCheck(type="not_null", columns=["a"]),
         QualityCheck(type="regex", columns=["a"], pattern="^x"),
         QualityCheck(type="unique", columns=["b"])],
    )
    assert all(r.passed and r.violations == 0 for r in results)


def test_quality_checks_duplicate_names_disambiguated(spark):
    """Two not_null checks on the same column must not collide in stack()."""
    from universal_aws_data_pipeline_spark.config.model import QualityCheck
    from universal_aws_data_pipeline_spark.operators.quality import run_quality_checks

    df = spark.createDataFrame([("x",), (None,)], "a string")
    results = run_quality_checks(
        df, [QualityCheck(type="not_null", columns=["a"]), QualityCheck(type="not_null", columns=["a"])]
    )
    assert [r.check for r in results] == ["not_null(a)", "not_null(a)#2"]
    assert all(r.violations == 1 for r in results)


def test_ivf_index_build_probe(spark, sf_dir, tmp_path):
    """Persisted IVF index: probe results equal the in-memory ivf_topk (same
    seed/params), cells are hive-partitioned, and the probe scan carries a
    _cell partition filter (only nprobe cell dirs are read)."""
    import os

    from universal_aws_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        load_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in e.filter("vec_id = 0").select("embedding").head()[0]]

    path = str(tmp_path / "ivf")
    build_ivf_index(e, path, n_clusters=8, seed=42)
    idx = load_ivf_index(spark, path)
    assert idx.n_clusters == 8 and len(idx.centroids) == 8

    got = [(r["vec_id"], r["cos_sim"]) for r in ivf_topk_indexed(idx, qvec, k=5, nprobe=3).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in ivf_topk(e, qvec, k=5, nprobe=3, n_clusters=8, seed=42).collect()]
    assert got == want

    cell_dirs = [d for d in os.listdir(f"{path}/cells") if d.startswith("_cell=")]
    assert len(cell_dirs) == 8

    plan = ivf_topk_indexed(idx, qvec, k=5, nprobe=3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ann_recall_vs_exact_ground_truth(spark, sf_dir):
    """ANN tiers must APPROXIMATE, not just run: recall@10 against exact
    cosine top-k at fixed seed. Thresholds are deliberately conservative —
    the gate catches 'bucketing broke and returns arbitrary vectors', not
    parameter-tuning noise."""
    from universal_aws_data_pipeline_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query_ids = [0, 7, 23]
    recalls_ivf, recalls_lsh = [], []
    for qid in query_ids:
        qvec = [float(x) for x in e.filter(f"vec_id = {qid}").select("embedding").head()[0]]
        truth = {r["vec_id"] for r in cosine_topk(e, qvec, k=10).collect()}
        got_ivf = {r["vec_id"] for r in ivf_topk(e, qvec, k=10, nprobe=4, n_clusters=8, seed=42).collect()}
        got_lsh = {r["vec_id"] for r in lsh_topk(e, qvec, k=10, seed=42).collect()}
        recalls_ivf.append(len(truth & got_ivf) / 10.0)
        recalls_lsh.append(len(truth & got_lsh) / 10.0)
    mean_ivf = sum(recalls_ivf) / len(recalls_ivf)
    mean_lsh = sum(recalls_lsh) / len(recalls_lsh)
    assert mean_ivf >= 0.7, f"IVF recall@10 collapsed: {recalls_ivf}"
    assert mean_lsh >= 0.7, f"LSH recall@10 collapsed: {recalls_lsh}"


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The 100 TB swap-in for q48's exact percentile: t-digest sketch
    (mergeable map-side) must track the exact interpolated quantile within
    the fixture's value range."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.expr("percentile(l_quantity, 0.5)").alias("exact"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("approx"),
    ).head()
    assert abs(row["approx"] - row["exact"]) <= 1.0


def test_hll_sketch_estimate_error_bound(spark, sf_dir):
    """HLL sketch distinct-count (the q50 profile's scale path: mergeable,
    constant memory) stays within ~3% of the exact count."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    row = o.agg(
        F.count_distinct("o_custkey").alias("exact"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias("approx"),
    ).head()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.03


def test_accepted_values_and_range_checks(spark):
    from universal_aws_data_pipeline_spark.config.model import QualityCheck
    from universal_aws_data_pipeline_spark.operators.quality import run_quality_checks

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 50.0), ("zz", None), (None, -1.0)],
        "status: string, score: double",
    )
    results = {
        r.check: r
        for r in run_quality_checks(
            df,
            [
                QualityCheck(type="accepted_values", columns=["status"], values=["a", "b"]),
                QualityCheck(type="range", columns=["score"], min_value=0, max_value=10),
            ],
        )
    }
    # 'zz' violates the enum; NULL status does not (not_null's job)
    assert results["accepted_values(status)"].violations == 1
    # 50.0 above max and -1.0 below min violate; NULL score does not
    assert results["range(score)"].violations == 2


def test_range_check_single_bound_and_config_parse(spark):
    from universal_aws_data_pipeline_spark.config.model import SourceConfig
    from universal_aws_data_pipeline_spark.operators.quality import run_quality_checks

    cfg = SourceConfig.from_dict(
        {
            "name": "x",
            "type": "file",
            "input_path": "/dev/null",
            "quality_checks": [
                {"type": "range", "column": "v", "min_value": 0},
                {"type": "accepted_values", "column": "s", "values": ["ok"]},
            ],
        }
    )
    assert cfg.quality_checks[0].min_value == 0 and cfg.quality_checks[0].max_value is None
    df = spark.createDataFrame([(1.0, "ok"), (-2.0, "ok")], "v: double, s: string")
    res = {r.check: r for r in run_quality_checks(df, cfg.quality_checks)}
    assert res["range(v)"].violations == 1
    assert res["accepted_values(s)"].violations == 0


def test_quality_check_config_validation():
    import pytest

    from universal_aws_data_pipeline_spark.config.model import QualityCheck

    with pytest.raises(ValueError, match="requires 'values'"):
        QualityCheck(type="accepted_values", columns=["c"])
    with pytest.raises(ValueError, match="min_value and/or max_value"):
        QualityCheck(type="range", columns=["c"])


def test_ivf_index_append_probe_finds_new_vectors(spark, sf_dir, tmp_path):
    """Incremental IVF append: new vectors join existing cell partitions
    (no rebuild, no new cell dirs), and a probe for an appended vector
    finds it at cos_sim ~ 1 — its assigned cell (argmin centroid) is by
    construction the probe's first choice."""
    import os

    from pyspark.sql import functions as F

    from universal_aws_data_pipeline_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter("vec_id < 400")
    batch = e.filter("vec_id >= 400").withColumn("vec_id", F.col("vec_id") + 1000000)

    path = str(tmp_path / "ivf_app")
    build_ivf_index(base, path, n_clusters=8, seed=42)
    n_dirs_before = len([d for d in os.listdir(f"{path}/cells") if d.startswith("_cell=")])

    append_to_ivf_index(batch, path)
    idx = load_ivf_index(spark, path)

    # no new cell dirs, total rows = base + batch
    n_dirs_after = len([d for d in os.listdir(f"{path}/cells") if d.startswith("_cell=")])
    assert n_dirs_after == n_dirs_before
    assert idx.cells.count() == base.count() + batch.count()

    # probe with an appended vector as the query: it must be its own top hit
    probe_row = batch.orderBy("vec_id").select("vec_id", "embedding").head()
    qvec = [float(x) for x in probe_row["embedding"]]
    top = ivf_topk_indexed(idx, qvec, k=3, nprobe=1).collect()
    assert top[0]["vec_id"] == probe_row["vec_id"]
    assert top[0]["cos_sim"] >= 0.9999


def test_provenance_column_names_source_files(spark, tmp_path):
    """Lineage column carries the actual file path per row; re-ingest blast
    radius of a bad row is a file list."""
    from pyspark.sql import functions as F

    from universal_aws_data_pipeline_spark.operators.transform import add_provenance_column

    spark.range(5).write.parquet(str(tmp_path / "a"))
    spark.range(5, 8).write.parquet(str(tmp_path / "b"))
    df = add_provenance_column(spark.read.parquet(str(tmp_path / "a"), str(tmp_path / "b")))
    rows = df.select("id", "_input_file").collect()
    assert all(r["_input_file"].endswith(".parquet") for r in rows)
    by_file = {r["id"]: ("/a/" in r["_input_file"]) for r in rows}
    assert by_file[0] is True and by_file[7] is False
    # the file set for a predicate IS the re-ingest list
    bad_files = {r["_input_file"] for r in df.filter(F.col("id") >= 5).collect()}
    assert len(bad_files) >= 1 and all("/b/" in f for f in bad_files)


def test_bench_compare_catalog_count_matches_registry():
    """The close gate's ast parse of _EXPECTED_ORDER must equal the live
    registry (catalog.py's own assembly guard makes them equal — this
    test catches the parse breaking on a refactor, e.g. the annotated-
    assignment form)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_compare", os.path.join(repo, "scripts", "bench_compare.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

    assert mod._catalog_count() == len(QUERIES)
