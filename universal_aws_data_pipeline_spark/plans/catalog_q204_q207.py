"""Catalog chunk: q204–q207 (round-8 batch 2).

q204 gives the mixture/sampling family its statistical-honesty metric
(effective sample size of a quality-weighted corpus slice), q205 turns
the q15 pair mine into the similarity-mass histogram that picks the
dedup threshold, q206 is the (lang, source) token-cost ledger a training
run budgets against, and q207 is the dow×hour operational load matrix
(the streaming family's capacity-planning twin of q155's dow index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    _NORM_SQL,
    _Q15_ORACLE,
    _neardup_pairs,
    _t,
    register,
)

# --------------------------------------------------------------------------
# q204 — effective sample size per source (sampling/mixture family). A
# quality-WEIGHTED corpus slice behaves like ESS = (Σw)²/Σw² unweighted
# documents (Kish): a source whose weights are concentrated on a few docs
# contributes far less signal than its row count suggests — the honesty
# metric next to q129's mixture plan and q113's DSIR weights. Integer
# milli-weights (quality is round(4), ×1000 floor): exact while
# (Σw)² < 2^63 — Σw ≤ 3×10⁹ milli ≈ 3M docs/source at weight 1.0
# (documented magnitude contract, the gini_micro pattern).
# Scale: one map-side-combinable grouped agg; |sources|-row output.
# --------------------------------------------------------------------------
@register(
    "q204_effective_sample_size",
    r"""
    WITH base AS (
      SELECT source, text,
             CAST(length(text) AS DOUBLE) AS n,
             len(string_split_regex(trim(text), '\s+')) AS ntok
      FROM documents
    ), cls AS (
      SELECT source, ntok,
        (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
        (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
        (n - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))) / n AS punct_ratio,
        CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
      FROM base
    ), w AS (
      SELECT source,
        CAST(round(1000 * round((least(1.0, ntok / 100.0) + alpha_ratio
          + (1.0 - least(1.0, digit_ratio + punct_ratio))
          + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
          4)) AS BIGINT) AS w
      FROM cls
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS sum_w_milli,
           CAST((sum(w) * sum(w)) // sum(w * w) AS BIGINT) AS ess_docs
    FROM w GROUP BY source
    """,
    "effective sample size (Kish) per source from quality milli-weights: how many unweighted documents a weighted slice is actually worth — the honesty metric for mixture planning (sampling family)",
)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much signal does each source really contribute once quality
    weighting concentrates it? ESS = (Σw)²/Σw² in exact integers."""
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.round(quality_score(F.col("text")) * 1000).cast("long").alias("w"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("sum_w_milli"),
        F.expr("(sum(w) * sum(w)) div sum(w * w)").alias("ess_docs"),
    )


# --------------------------------------------------------------------------
# q205 — near-dup similarity histogram (dedup family). The q15 pair mine
# binned by estimated Jaccard (0.5–1.0 in 10 bins of 0.05): the
# similarity-MASS picture that justifies a dedup threshold — a spike at
# 0.95+ is boilerplate/clone mass (delete), a flat shelf near 0.5 is
# topical similarity (keep). Binning runs on the INTEGER ten-thousandths
# of the already-round(4) jaccard, so bin edges are exact in both engines.
# Scale: composes the stressed q15 pair artifact + one |bins|-row rollup.
# --------------------------------------------------------------------------
@register(
    "q205_similarity_histogram",
    f"""
    WITH pairs AS ({_Q15_ORACLE}),
    b AS (
      SELECT least(9, (CAST(round(jaccard * 10000) AS BIGINT) - 5000) // 500) AS bin
      FROM pairs
    )
    SELECT bin,
           CAST(5000 + bin * 500 AS BIGINT) AS lo_x10000,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM b GROUP BY bin
    """,
    "near-dup pair-similarity histogram: q15's mined pairs binned by exact integer ten-thousandths of Jaccard — the similarity-mass evidence behind a dedup threshold choice (dedup family)",
)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does the near-duplicate similarity mass sit?
    q15 pair artifact → 10-bin integer histogram."""
    pairs = _neardup_pairs(spark, sf_dir)
    return (
        pairs.select(F.round(F.col("jaccard") * 10000).cast("long").alias("jm"))
        .select(
            F.least(F.lit(9).cast("long"), F.expr("(jm - 5000) div 500")).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "bin",
            (F.lit(5000) + F.col("bin") * 500).cast("long").alias("lo_x10000"),
            "n_pairs",
        )
    )


# --------------------------------------------------------------------------
# q206 — token-cost ledger per (lang, source) (text family). The table a
# training run budgets against: whitespace tokens (corpus accounting),
# BPE-proxy tokens (what the tokenizer will actually emit), bytes, and
# bytes-per-BPE-token in exact micro-units (compression honesty — low
# bytes/token means the slice fragments into short subwords).
# Scale: one map-only expression battery + one grouped rollup to
# |langs × sources| rows.
# --------------------------------------------------------------------------
@register(
    "q206_token_cost_ledger",
    r"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(len(text)) AS BIGINT) AS n_bytes,
           CAST((1000000 * sum(len(text)))
                // sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
             AS bytes_per_bpe_micro
    FROM documents
    GROUP BY lang, source
    """,
    "token-cost ledger per (lang, source): whitespace tokens, BPE-proxy tokens, bytes, and exact micro bytes-per-token — the budget table a training run plans against (text family)",
)
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each corpus slice cost in tokens, and how well does it
    compress into subwords? One rollup, exact integers."""
    from universal_aws_data_pipeline_spark.operators.text import (
        bpe_token_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(bpe_token_count(F.col("text"))).cast("long").alias("bpe_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_bytes"),
        F.expr(
            "(1000000 * sum(length(text))) div "
            "sum(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)))"
        ).alias("bytes_per_bpe_micro"),
    )


# --------------------------------------------------------------------------
# q207 — dow × hour load matrix (ops/monitoring family). Event count and
# exact value-cents per (ISO weekday, UTC hour) cell — the capacity-
# planning twin of q155's dow revenue index, at the grain alerting
# schedules are written against. Day/hour derive from integer epoch
# arithmetic ((day+3) % 7 + 1 is ISO dow: epoch day 0 = Thursday = 4),
# identical in both engines.
# Scale: one map-side-combined rollup to ≤ 168 cells.
# --------------------------------------------------------------------------
@register(
    "q207_dow_hour_load",
    """
    SELECT ((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 3) % 7) + 1 AS iso_dow,
           CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
    "dow x hour operational load matrix: event count and exact cents per (ISO weekday, UTC hour) cell — the capacity-planning grain for alert schedules (monitoring family)",
)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    """When does the platform actually get hit? 168-cell load matrix in
    exact integers."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    return (
        ev.select(
            (((day + 3) % 7) + 1).alias("iso_dow"),
            (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("long").alias("hr"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("iso_dow", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
    )
