"""Catalog chunk: q232–q236 (round 13).

- **q232/q233/q234** are the trained model-based quality classifier
  (VERDICT r12 item 1 — the CCNet/fastText shape): a linear discriminator
  over md5-hashed bag-of-words features, trained IN-ENGINE by fixed-round
  exact-integer gradient descent on a label proxy (``lang = 'en'`` — the
  curated-slice discriminator, exactly the model CCNet runs first), then
  applied as a pure columnar scorer. Train (q232), apply/audit (q233),
  convergence curve (q234) — the same train/apply/curve family shape as
  BPE (q218/q226/q222) and unigram (q229/q230/q231).
- **q235** is viral-span excision (VERDICT r12 item 2 — the Lee et al.
  exact-substring-dedup variant that targets memorization): spans
  duplicated across >= _VIRAL_MIN_DOCS DISTINCT documents are excised from
  every document except one canonical carrier. q114 excises at
  occurrence-level k=2; this is the frequency-thresholded generalization
  that removes only true boilerplate.
- **q236** is the classifier's operating curve — the choose-the-keep-cutoff
  step: precision/recall vs the proxy label at a literal threshold grid,
  one map-only conditional aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    _NORM_SQL,
    _artifact,
    _hex_int_sql,
    _t,
    register,
)

# --------------------------------------------------------------------------
# q232 — quality-classifier training (X6 family). Features: md5-hashed word
# buckets (the q113 DSIR hash), per-doc bucket frequency quantized to exact
# integer micro-units, MEAN-CENTERED (the centering is the model's
# intercept and the conditioning fix — see operators/classifier.py).
# Training: _LP_ROUNDS full-batch gradient steps on the least-squares
# objective with BIGINT micro-unit weights — every sum is order-independent
# and every division a truncating div (Spark `div` == DuckDB `//`, both
# truncate toward zero), so the model hash-grades bit-exactly. The centered
# algebra runs SPARSELY on both engines: s = (Σ_sparse w·f − Σ w·m) div 1e6
# and g = lr·(G − m·R) div (n·1e6) are exact identities with the dense
# centered sums. The model is the dataset's trained-once parquet artifact
# (the q226/q229 amortization convention).
# Operators: one corpus tokenize (the feature table, localCheckpoint()ed and
# reused across rounds); per round, one hash-agg by doc + one by bucket over
# the sparse (docs x touched-buckets) table + broadcast joins of the 64-row
# model table. No UDFs, no driver collect — the model stays distributed.
# Oracle: the gradient recursion replayed as chained CTEs (the q229 recipe):
# lp_m (bucket means), lp_w0 = zeros, per round lp_wm{r} (bias scalar),
# lp_s{r} (scores under the pre-round model), lp_g{r} (centered bucket
# gradients), lp_w{r} (the update).
# --------------------------------------------------------------------------

_LP_BUCKETS = 64
_LP_ROUNDS = 5
_LP_LR = 256  # integer lr multiplier — see operators/classifier.py stability note
_LP_TARGET_SQL = "lang = 'en'"


def _lp_ctes(rounds: int) -> list[str]:
    """The training replay: corpus -> hashed token stream -> per-doc sparse
    micro-frequency features -> bucket means -> ``rounds`` x (bias, score,
    centered gradient, update)."""
    ctes = [
        f"lp_tok AS MATERIALIZED (SELECT doc_id, {_LP_TARGET_SQL} AS tgt,"
        f" {_hex_int_sql('w', 4)} % {_LP_BUCKETS} AS bucket"
        f" FROM (SELECT doc_id, lang, unnest(string_split({_NORM_SQL}, ' ')) AS w"
        f" FROM documents) z WHERE w <> '')",
        "lp_doc AS MATERIALIZED (SELECT doc_id,"
        " CASE WHEN tgt THEN 1000000 ELSE -1000000 END AS y,"
        " CAST(count(*) AS BIGINT) AS n FROM lp_tok GROUP BY doc_id, tgt)",
        "lp_feat AS MATERIALIZED (SELECT c.doc_id, c.bucket,"
        " CAST((1000000 * c.c) // d.n AS BIGINT) AS f, d.y, d.n"
        " FROM (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c"
        " FROM lp_tok GROUP BY doc_id, bucket) c JOIN lp_doc d USING (doc_id))",
        "lp_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM lp_doc)",
        "lp_m AS MATERIALIZED (SELECT bucket,"
        " CAST(sum(f) // (SELECT n_docs FROM lp_n) AS BIGINT) AS m"
        " FROM lp_feat GROUP BY bucket)",
        f"lp_w0 AS (SELECT CAST(unnest(range(0, {_LP_BUCKETS})) AS BIGINT) AS bucket,"
        f" CAST(0 AS BIGINT) AS w)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"lp_wm{r} AS (SELECT CAST(coalesce(sum(w.w * m.m), 0) AS BIGINT) AS wm"
            f" FROM lp_w{r - 1} w JOIN lp_m m USING (bucket))"
        )
        ctes.append(
            f"lp_s{r} AS MATERIALIZED (SELECT f.doc_id, max(f.y) AS y,"
            f" CAST((sum(w.w * f.f) - (SELECT wm FROM lp_wm{r})) // 1000000"
            f" AS BIGINT) AS s"
            f" FROM lp_feat f JOIN lp_w{r - 1} w USING (bucket) GROUP BY f.doc_id)"
        )
        ctes.append(
            f"lp_g{r} AS (SELECT q.bucket,"
            f" CAST(({_LP_LR} * (q.G - coalesce(m.m, 0) *"
            f" (SELECT CAST(sum(s - y) AS BIGINT) FROM lp_s{r}))) //"
            f" ((SELECT n_docs FROM lp_n) * 1000000) AS BIGINT) AS g"
            f" FROM (SELECT f.bucket, CAST(sum((s.s - s.y) * f.f) AS BIGINT) AS G"
            f" FROM lp_feat f JOIN lp_s{r} s USING (doc_id) GROUP BY f.bucket) q"
            f" LEFT JOIN lp_m m USING (bucket))"
        )
        ctes.append(
            f"lp_w{r} AS MATERIALIZED (SELECT w.bucket,"
            f" CAST(w.w - coalesce(g.g, 0) AS BIGINT) AS w"
            f" FROM lp_w{r - 1} w LEFT JOIN lp_g{r} g USING (bucket))"
        )
    return ctes


def _lp_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset's trained-once classifier model (bucket, w_micro) — the
    q226 `_learned_merges` convention, an ``_artifact``. The model is a
    64-row DataFrame its consumers broadcast-join, never a driver list."""
    from universal_aws_data_pipeline_spark.operators.classifier import (
        linear_probe_train,
    )

    return _artifact(
        spark,
        "quality_classifier",
        sf_dir,
        f"r{_LP_ROUNDS}b{_LP_BUCKETS}lr{_LP_LR}",
        lambda: linear_probe_train(
            _t(spark, sf_dir, "documents"),
            F.col("lang") == "en",
            rounds=_LP_ROUNDS,
            buckets=_LP_BUCKETS,
            lr=_LP_LR,
        ),
    )


_Q232_ORACLE = (
    "WITH "
    + ",\n".join(_lp_ctes(_LP_ROUNDS))
    + f"""
    SELECT w.bucket, w.w AS w_micro, coalesce(m.m, 0) AS m_micro
    FROM lp_w{_LP_ROUNDS} w LEFT JOIN lp_m m USING (bucket)
    ORDER BY w.bucket
    """
)


@register(
    "q232_quality_classifier_train",
    _Q232_ORACLE,
    f"trained quality classifier, training leg (CCNet/fastText shape): {_LP_ROUNDS} full-batch gradient rounds of a linear discriminator over {_LP_BUCKETS} md5-hashed bag-of-words buckets, label proxy = curated-language slice; exact BIGINT micro-unit weights so every round hash-grades (X6 family)",
)
def q232(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does a trained corpus-quality discriminator learn here? Five
    exact-integer gradient rounds over mean-centered hashed bag-of-words
    features against the curated-slice label proxy; output is the 64-row
    model (weights + the bucket means that center the scorer). One corpus
    tokenize, vocabulary-independent model, no driver collect.
    operators/classifier.py::linear_probe_train."""
    return (
        _lp_model(spark, sf_dir)
        .select("bucket", "w_micro", "m_micro")
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# q233 — classifier scoring/audit (X6): apply the trained model to EVERY
# document — the production filter pass (CCNet keeps documents by this
# score). Per doc: token count, integer micro-unit score, the sign
# prediction, and the proxy label — the per-doc confusion surface.
# Operators: map-only at any scale — the 64-row model broadcast-joins the
# hashed token stream; one exact integer sum per doc.
# Oracle: the shared training chain + one scoring pass under lp_w{R}.
# --------------------------------------------------------------------------

_Q233_ORACLE = (
    "WITH "
    + ",\n".join(
        _lp_ctes(_LP_ROUNDS)
        + [
            f"lp_wm_final AS (SELECT CAST(coalesce(sum(w.w * m.m), 0) AS BIGINT)"
            f" AS wm FROM lp_w{_LP_ROUNDS} w JOIN lp_m m USING (bucket))"
        ]
    )
    + f"""
    SELECT doc_id, n_tokens, s_micro, s_micro >= 0 AS pred_target,
           y > 0 AS is_target
    FROM (
      SELECT f.doc_id, max(f.n) AS n_tokens, max(f.y) AS y,
             CAST((sum(w.w * f.f) - (SELECT wm FROM lp_wm_final)) // 1000000
                  AS BIGINT) AS s_micro
      FROM lp_feat f JOIN lp_w{_LP_ROUNDS} w USING (bucket)
      GROUP BY f.doc_id
    )
    """
)


@register(
    "q233_quality_classifier_score",
    _Q233_ORACLE,
    "trained quality classifier, scoring leg: every document scored under the trained model as a pure columnar dot product (64-row model broadcast onto the hashed token stream, one exact BIGINT sum per doc) with sign prediction vs the proxy label - the per-doc filter/confusion surface a CCNet-style pipeline thresholds (X6 family)",
)
def q233(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which documents does the trained filter keep? Every doc scored under
    the trained-once model — integer micro-unit score, sign prediction,
    proxy label. Map-only: broadcast model join + per-doc integer sum;
    scales to the full corpus while training ran on the bounded sample.
    operators/classifier.py::linear_probe_score."""
    from universal_aws_data_pipeline_spark.operators.classifier import (
        linear_probe_score,
    )

    d = _t(spark, sf_dir, "documents")
    return linear_probe_score(
        d, _lp_model(spark, sf_dir), F.col("lang") == "en"
    )


# --------------------------------------------------------------------------
# q234 — classifier convergence curve (X6; the q222/q231 analogue): per
# gradient round, the objective under the PRE-round model (mean |residual|
# in exact micro-units), the count of sign-correct documents, and the
# post-update model's L1 mass. The how-many-rounds decision data, computed
# live by the q218/q222 convention (the curve IS the training trajectory;
# both legs consume operators/classifier.py's ONE shared generator, so the
# curve cannot drift from the model q232/q233 use).
# --------------------------------------------------------------------------

_Q234_ROUND_SELECTS = "\nUNION ALL ".join(
    f"SELECT CAST({r} AS INTEGER) AS round,"
    f" (SELECT CAST(sum(abs(s - y)) // count(*) AS BIGINT) FROM lp_s{r})"
    f"   AS mean_abs_resid_micro,"
    f" (SELECT CAST(count(*) FILTER (WHERE (s >= 0) = (y > 0)) AS BIGINT)"
    f"   FROM lp_s{r}) AS n_correct,"
    f" (SELECT CAST(sum(abs(w)) AS BIGINT) FROM lp_w{r}) AS w_l1_micro"
    for r in range(1, _LP_ROUNDS + 1)
)

_Q234_ORACLE = "WITH " + ",\n".join(_lp_ctes(_LP_ROUNDS)) + "\n" + _Q234_ROUND_SELECTS


@register(
    "q234_classifier_convergence",
    _Q234_ORACLE,
    f"quality-classifier convergence curve: per gradient round, mean |residual| under the pre-round model (exact integer micro-units), sign-accuracy count, and post-update weight L1 mass - the how-many-rounds decision data, the q222/q231 analogue for the classifier family ({_LP_ROUNDS} rounds; X6)",
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is another gradient round still buying anything? Per round: the
    objective under the pre-round model, how many documents the sign
    already classifies correctly, and the updated model's L1 mass. Same
    loop as q232 with two extra 1-row aggregates per round; no driver
    collect. operators/classifier.py::linear_probe_curve."""
    from universal_aws_data_pipeline_spark.operators.classifier import (
        linear_probe_curve,
    )

    d = _t(spark, sf_dir, "documents")
    return linear_probe_curve(
        d, F.col("lang") == "en", rounds=_LP_ROUNDS, buckets=_LP_BUCKETS, lr=_LP_LR
    )


# --------------------------------------------------------------------------
# q235 — viral-span excision (X2; VERDICT r12 item 2, the Lee et al.
# memorization-reduction variant): spans duplicated across >= 3 DISTINCT
# documents are true boilerplate (navigation chrome, license blocks,
# syndicated headers); excise every occurrence except one canonical
# carrier (min doc_id), token-precisely. q114 is the occurrence-level k=2
# surgery; the distinct-doc threshold leaves one-off quotations alone.
# Operators: exact per-span distinct-doc counts via (dig, doc) pair dedupe
# + rollup (a corpus-hot span CANNOT ride q114's no-sort window — its
# distinct set is unbounded window state, exactly the span this operator
# targets); occurrences join back to the per-span stats on the 8-byte
# digest; the excision is a row-local higher-order filter.
# Oracle: replays RAW span strings (a digest collision would surface as a
# hash mismatch, not hide) with the same threshold and carrier rule.
# --------------------------------------------------------------------------

_VIRAL_MIN_DOCS = 3
_VIRAL_SPAN_N = 8


@register(
    "q235_viral_span_excision",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
    ), sp AS (
      SELECT doc_id, pos,
             concat_ws(' ', tk[pos+1], tk[pos+2], tk[pos+3], tk[pos+4],
                            tk[pos+5], tk[pos+6], tk[pos+7], tk[pos+8]) AS span
      FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - {_VIRAL_SPAN_N - 1})) AS pos
            FROM t WHERE len(tk) >= {_VIRAL_SPAN_N})
    ), st AS (
      SELECT span, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
      FROM sp GROUP BY span
    ), covered AS (
      SELECT DISTINCT d.doc_id, d.pos + r.range AS j
      FROM (SELECT s.doc_id, s.pos FROM sp s JOIN st USING (span)
            WHERE st.nd >= {_VIRAL_MIN_DOCS} AND s.doc_id <> st.owner) d,
           range({_VIRAL_SPAN_N}) r
    ), toks AS (
      SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS j FROM t
    ), kept AS (
      SELECT tk.doc_id, tk.tok, tk.j
      FROM toks tk LEFT JOIN covered c ON tk.doc_id = c.doc_id AND tk.j = c.j
      WHERE c.j IS NULL
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - count(k.j) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.j), '') AS cleaned_text
    FROM t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, len(t.tk)
    """,
    f"viral-span excision (Lee et al. exact-substring dedup, memorization-reduction variant): {_VIRAL_SPAN_N}-token spans occurring in >= {_VIRAL_MIN_DOCS} DISTINCT documents are excised token-precisely from every doc except the canonical carrier (min doc_id); per-doc cleaned text hash-graded (X2)",
)
def q235(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove the spans language models memorize: any 8-token span present
    in >= 3 distinct documents is boilerplate — keep one canonical copy
    (the earliest doc), excise every other occurrence token-precisely,
    keep each document's novel remainder. The frequency-thresholded
    generalization of q114's span surgery.
    operators/dedup.py::excise_viral_spans."""
    from universal_aws_data_pipeline_spark.operators.dedup import (
        excise_viral_spans,
        parallelize_text_scan,
    )

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return excise_viral_spans(
        d, span_n=_VIRAL_SPAN_N, min_docs=_VIRAL_MIN_DOCS
    )


# --------------------------------------------------------------------------
# q236 — classifier operating curve (X6): the "choose the keep cutoff" step
# a CCNet-style pipeline runs after training — for each candidate score
# threshold, the kept volume and its precision/recall vs the proxy label.
# Operators: ONE conditional aggregation over the scored table (2|T|+1
# map-side-combinable sums — map-only at corpus scale, no per-threshold
# re-scan, no sort), then a |T|-row row-local unpivot. The grid is a
# literal decision surface, scale-independent.
# Oracle: the shared training chain + scoring CTE + |T| FILTER-aggregate
# rows (the q234 UNION ALL convention).
# --------------------------------------------------------------------------

_LP_THRESHOLDS = [
    -400_000, -200_000, -100_000, -50_000, -25_000, 0,
    25_000, 50_000, 100_000, 200_000, 400_000,
]

_Q236_THRESH_SELECTS = "\nUNION ALL ".join(
    f"SELECT CAST({t} AS BIGINT) AS threshold_micro,"
    f" (SELECT CAST(count(*) FILTER (WHERE s_micro >= {t}) AS BIGINT)"
    f"   FROM lp_scored) AS n_kept,"
    f" (SELECT CAST(count(*) FILTER (WHERE s_micro >= {t} AND y > 0) AS BIGINT)"
    f"   FROM lp_scored) AS n_target_kept"
    for t in _LP_THRESHOLDS
)

_Q236_ORACLE = (
    "WITH "
    + ",\n".join(
        _lp_ctes(_LP_ROUNDS)
        + [
            f"lp_wm_final AS (SELECT CAST(coalesce(sum(w.w * m.m), 0) AS BIGINT)"
            f" AS wm FROM lp_w{_LP_ROUNDS} w JOIN lp_m m USING (bucket))",
            f"lp_scored AS MATERIALIZED (SELECT f.doc_id, max(f.y) AS y,"
            f" CAST((sum(w.w * f.f) - (SELECT wm FROM lp_wm_final)) // 1000000"
            f" AS BIGINT) AS s_micro"
            f" FROM lp_feat f JOIN lp_w{_LP_ROUNDS} w USING (bucket)"
            f" GROUP BY f.doc_id)",
            "lp_tot AS (SELECT CAST(count(*) FILTER (WHERE y > 0) AS BIGINT)"
            " AS tot FROM lp_scored)",
        ]
    )
    + f"""
    SELECT threshold_micro, n_kept, n_target_kept,
           CASE WHEN n_kept > 0
                THEN CAST((1000000 * n_target_kept) // n_kept AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS precision_micro,
           CASE WHEN (SELECT tot FROM lp_tot) > 0
                THEN CAST((1000000 * n_target_kept) //
                          (SELECT tot FROM lp_tot) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_micro
    FROM ({_Q236_THRESH_SELECTS})
    """
)


@register(
    "q236_classifier_operating_curve",
    _Q236_ORACLE,
    f"quality-classifier operating curve: kept volume + precision/recall vs the proxy label at {len(_LP_THRESHOLDS)} literal score thresholds under the trained model - the choose-the-keep-cutoff decision data a CCNet-style filter thresholds on; one map-only conditional aggregation, exact truncated micro-unit ratios (X6 family)",
)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where should the trained filter cut? For each candidate threshold:
    how much of the corpus survives and how precise/complete the kept
    slice is against the proxy label. One conditional-aggregation pass
    over the scored table — map-only at any corpus size.
    operators/classifier.py::selection_curve."""
    from universal_aws_data_pipeline_spark.operators.classifier import (
        linear_probe_score,
        selection_curve,
    )

    d = _t(spark, sf_dir, "documents")
    scored = linear_probe_score(
        d, _lp_model(spark, sf_dir), F.col("lang") == "en"
    )
    return selection_curve(scored, _LP_THRESHOLDS)
