"""Catalog chunk: q224–q227 (round 11).

Closing the loops the round-10 families opened:

- **q224** composes the shipped DP releases into the ε-budget LEDGER —
  the accounting a privacy review demands once several mechanisms run
  against the same table (`operators/privacy.py::epsilon_ledger`; r10
  verdict item 3). The ledger replays each release's ACTUAL released
  cell count, so the artifact is an audit, not a spreadsheet.
- **q225** grades the streaming DP maintainer's NULL-category path as a
  batch twin: the shared `coalesce_group_keys` pre-coalesce (the exact
  spelling `dp_release_stream_fn` runs per micro-batch) followed by the
  count release — the one branch of the round-10 family no oracle
  covered (r10 verdict item 4).
- **q226** applies a LEARNED merge table to the corpus
  (`operators/tokenizer.py::apply_merges`) — the tokenize-with-vocab
  step every downstream token count implies; q218 trains, this applies,
  and the oracle reuses the SAME CTE chain so the two sides cannot
  drift (r10 verdict item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    _MAX_DRIVER_QUERIES,
    _NORM_SQL,
    _artifact,
    _hex_int_sql,
    _t,
    register,
)
from universal_aws_data_pipeline_spark.plans.catalog_q213_q216 import (
    _DP_CAP,
    _DP_EPS,
    _DP_SALT,
    _Q213_ORACLE,
    q213,
)
from universal_aws_data_pipeline_spark.plans.catalog_q217_q219 import (
    _DPM_EPS,
    _DPM_SALT,
    _Q219_ORACLE,
    _bpe_seg_ctes,
    q219,
)
from universal_aws_data_pipeline_spark.plans.catalog_q223 import (
    _DPS_CLIP,
    _DPS_EPS,
    _DPS_SALT,
    _Q223_ORACLE,
    q223,
)

# --------------------------------------------------------------------------
# q224 — ε-budget composition ledger (privacy family). The repo ships three
# DP mechanisms against `events` (q213 counts, q223 sums, q219 median),
# each ε-DP in isolation — but an adversary sees ALL of them, and under
# basic sequential composition the budgets ADD per privacy unit. The
# ledger row per release carries its shipped parameters (imported from
# the release chunks' own constants — the ledger and the releases CANNOT
# disagree), the count of cells it actually released, and the composed
# per-unit total. Seed-namespace collisions raise at build time (the
# deterministic noise device makes seed reuse a genuine leak; see
# tests/test_round11_ops.py).
# Operators: the |releases|-row literal ledger + three 1-row count
# reductions over the release plans themselves (each release's corpus
# pass is its own one hash agg), broadcast-joined. The composed total is
# a window over the 3-row literal table.
# Oracle: each release's oracle replayed VERBATIM as a counted subquery
# (the module constants), ledger literals from the same Python constants.
# --------------------------------------------------------------------------

_LEDGER_ROWS = [
    # (release, mechanism, unit, epsilon, sensitivity, seed_prefix)
    ("value_median", "median", "events/row", _DPM_EPS, 1.0, f"dpq:{_DPM_SALT}:"),
    ("weekly_counts", "count", "events/user", _DP_EPS, float(_DP_CAP), f"dp:{_DP_SALT}:"),
    ("weekly_sums", "sum", "events/user", _DPS_EPS, float(_DPS_CLIP), f"dps:{_DPS_SALT}:"),
]

_LEDGER_VALUES = ", ".join(
    f"('{n}', '{m}', '{u}', CAST({e} AS DOUBLE), CAST({s} AS DOUBLE))"
    for n, m, u, e, s, _ in _LEDGER_ROWS
)


@register(
    "q224_dp_budget_ledger",
    f"""
    WITH rel_counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM ({_Q213_ORACLE}) t
    ), rel_sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM ({_Q223_ORACLE}) t
    ), rel_median AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM ({_Q219_ORACLE}) t
    ), led AS (
      SELECT * FROM (VALUES {_LEDGER_VALUES})
        AS t(release, mechanism, unit, epsilon, sensitivity)
    )
    SELECT led.release, led.mechanism, led.unit, led.epsilon, led.sensitivity,
           CASE led.release WHEN 'weekly_counts' THEN rc.n
                            WHEN 'weekly_sums' THEN rs.n
                            ELSE rm.n END AS n_cells,
           round(sum(led.epsilon) OVER (PARTITION BY led.unit), 4)
             AS eps_unit_total
    FROM led CROSS JOIN rel_counts rc CROSS JOIN rel_sums rs
             CROSS JOIN rel_median rm
    """,
    "epsilon-budget composition ledger over the three shipped DP releases on events (counts, sums, median): per-release mechanism parameters + ACTUAL released-cell count + the per-privacy-unit composed budget under basic sequential composition; seed-namespace collisions rejected at build (privacy family)",
)
def q224(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What total ε does the events table actually spend? One ledger row
    per shipped release (parameters imported from the release plans
    themselves), its released-cell count, and the composed per-unit
    budget — the accounting that makes 'each release is ε-DP' an honest
    statement about the whole pipeline.
    operators/privacy.py::epsilon_ledger."""
    from universal_aws_data_pipeline_spark.operators.privacy import (
        DpRelease,
        epsilon_ledger,
    )

    led = epsilon_ledger(
        spark, [DpRelease(*row) for row in _LEDGER_ROWS]
    )
    cells = (
        q213(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
        .withColumn("release", F.lit("weekly_counts"))
        .unionByName(
            q223(spark, sf_dir)
            .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
            .withColumn("release", F.lit("weekly_sums"))
        )
        .unionByName(
            q219(spark, sf_dir)
            .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
            .withColumn("release", F.lit("value_median"))
        )
    )
    return led.join(F.broadcast(cells), "release").select(
        "release", "mechanism", "unit", "epsilon", "sensitivity",
        "n_cells", "eps_unit_total",
    )


# --------------------------------------------------------------------------
# q225 — DP count release over a NULL-bearing group column (privacy
# family): the batch twin of the streaming maintainer's NULL path. The
# group key NULLIF(event_type, 'purchase') carries genuine NULLs;
# coalesce_group_keys (the SAME function dp_release_stream_fn calls per
# micro-batch) folds them into the explicit "(null)" category, which then
# gets its own independent noise draw like any other group. Without the
# coalesce the release RAISES (q213's seed guard) — this entry proves the
# documented escape hatch end-to-end against the oracle.
# Operators: one (user, group) hash agg + |groups| noise expressions —
# the q213 posture. Salt r11null (disjoint from every shipped namespace).
# Oracle: identical coalesce, identical seed.
# --------------------------------------------------------------------------

_DPN_CAP = 3
_DPN_EPS = 1.0
_DPN_SALT = "r11null"
_DPN_B = float(_DPN_CAP) / _DPN_EPS
_DPN_KEY_SQL = f"'dp:{_DPN_SALT}:' || g"
_DPN_U_SQL = f"(({_hex_int_sql(_DPN_KEY_SQL, 8)}) + 0.5) / 4294967296.0"


@register(
    "q225_dp_null_category_release",
    f"""
    WITH keyed AS (
      SELECT coalesce(CAST(nullif(event_type, 'purchase') AS VARCHAR), '(null)')
               AS g,
             user_id
      FROM events
    ), bounded AS (
      SELECT g, least(count(*), {_DPN_CAP}) AS b FROM keyed GROUP BY g, user_id
    ), counts AS (
      SELECT g, CAST(sum(b) AS BIGINT) AS c FROM bounded GROUP BY g
    ), noised AS (
      SELECT g,
             round(c + (-{_DPN_B} * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))), 4)
               AS noisy_count
      FROM (SELECT *, {_DPN_U_SQL} AS u FROM counts)
    )
    SELECT g, noisy_count FROM noised WHERE noisy_count >= 0
    """,
    "epsilon-DP count release over a NULL-bearing group key: NULLs pre-coalesced to the explicit '(null)' category (the exact spelling the streaming DP maintainer runs per micro-batch) which then draws its own independent seeded noise - the batch twin that grades the maintainer's NULL path (privacy family)",
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release counts when the group key can be NULL: the shared
    coalesce_group_keys pre-coalesce turns NULL into a first-class
    "(null)" category with its own noise draw — the documented escape
    hatch from the release operators' NULL-key raise, graded end-to-end.
    operators/privacy.py::coalesce_group_keys + dp_group_counts."""
    from universal_aws_data_pipeline_spark.operators.privacy import (
        coalesce_group_keys,
        dp_group_counts,
    )

    e = _t(spark, sf_dir, "events").select(
        F.expr("nullif(event_type, 'purchase')").alias("g"), "user_id"
    )
    return dp_group_counts(
        coalesce_group_keys(e, ["g"]),
        group_cols=["g"],
        user_col="user_id",
        epsilon=_DPN_EPS,
        cap=_DPN_CAP,
        salt=_DPN_SALT,
        release_threshold=0.0,
    )


# --------------------------------------------------------------------------
# q226 — apply a LEARNED BPE merge table (tokenizer family): q218 trains
# three merges; this entry applies them to the corpus with
# apply_merges (the fixed-pass contract SHARED with training) and
# reports the resulting symbol-frequency table — what the corpus looks
# like under the learned tokenizer, the substrate of every downstream
# token count. Top-40 by corpus occurrences with the symbol as tiebreak.
# Operators: one corpus scan → |vocab| word-frequency rollup; the learned
# merges come from the dataset's trained-once merge artifact (the
# amortized-index convention — `_learned_merges`: training is the build,
# applying is the probe; a 3-row bounded collect reads the model back);
# the merge application is a pure column expression
# (3 merges × 3 passes of replace(), whole-stage codegen); then a
# vocabulary-bounded symbol explode + rollup + TakeOrderedAndProject.
# Oracle: the q218 CTE chain's seg3 table (ONE text, imported), unnested.
# --------------------------------------------------------------------------

_APPLY_ROUNDS = 3


def _learned_merges(spark: SparkSession, sf_dir: str) -> list[str]:
    """The q218-trained merge list for a dataset, trained ONCE and cached
    as an ``_artifact``. The merge table IS the tokenizer model —
    training it is a build step, applying it is the per-query work, and
    both q226 and q227 consume the same model, so re-running the 3-round
    driver-synchronized training loop inside every query would measure
    the build, not the probe (the amortized-index convention
    `_artifact_dir` documents). Training is deterministic in the data, and
    the artifact is rebuilt whenever a file under the dataset dir
    changes."""
    from universal_aws_data_pipeline_spark.operators.tokenizer import (
        bpe_learn_merges,
    )

    model = _artifact(
        spark,
        "bpe_merges",
        sf_dir,
        f"r{_APPLY_ROUNDS}",
        lambda: bpe_learn_merges(_t(spark, sf_dir, "documents"), rounds=_APPLY_ROUNDS, text_col="text"),
    )
    return [
        r["pair"]
        for r in model
        .orderBy("round")
        .limit(_MAX_DRIVER_QUERIES)
        .collect()
    ]


_Q226_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_seg_ctes(_APPLY_ROUNDS))
    + f"""
    SELECT sym AS symbol,
           CAST(sum(c) AS BIGINT) AS corpus_count,
           CAST(count(DISTINCT seg) AS BIGINT) AS n_types
    FROM (SELECT unnest(string_split(seg, ' ')) AS sym, seg, c
          FROM seg{_APPLY_ROUNDS})
    GROUP BY sym
    ORDER BY corpus_count DESC, symbol
    LIMIT 40
    """
)


@register(
    "q226_bpe_apply_merges",
    _Q226_ORACLE,
    "apply a LEARNED BPE merge table to the corpus: the q218-trained merges re-segment the vocabulary via the shared fixed-pass contract, yielding the symbol-frequency table under the learned tokenizer (top-40, corpus-count desc) - the tokenize-with-vocab step downstream token accounting implies (tokenizer family)",
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does the corpus look like under the learned tokenizer? Apply
    the q218-trained merges (the dataset's trained-once model artifact)
    with the SAME fixed-pass replacement as training (train/apply cannot
    disagree), and roll up the symbol frequencies — segmentation factors
    through the |vocab| table, so the corpus is scanned once and
    everything after is vocabulary-sized.
    operators/tokenizer.py::apply_merges."""
    from universal_aws_data_pipeline_spark.operators.tokenizer import apply_merges

    d = _t(spark, sf_dir, "documents")
    seg_tbl = apply_merges(d, _learned_merges(spark, sf_dir), text_col="text")
    return (
        seg_tbl.select(F.explode(F.split("seg", " ")).alias("symbol"), "seg", "c")
        .groupBy("symbol")
        .agg(
            F.sum("c").cast("long").alias("corpus_count"),
            F.countDistinct("seg").cast("long").alias("n_types"),
        )
        .orderBy(F.col("corpus_count").desc(), "symbol")
        .limit(40)
    )


# --------------------------------------------------------------------------
# q227 — tokenizer fertility audit by language (tokenizer family): under
# the LEARNED merges, how many symbols does each language pay per word
# and per character? BPE trained on a skewed language mix systematically
# inflates token costs for the under-represented languages (the
# multilingual-fairness failure every production tokenizer review
# checks); this is that audit, computed from the learned tokenizer, not
# a proxy. fertility = symbols/word; compression = symbols/char (1.0 =
# no merge ever fires for that language's words).
# Operators: the (lang, word) rollup is the ONLY corpus-volume pass
# (map-side combinable, keyed by a language-bounded domain); symbol
# costs come from apply_merges' |vocab| segmentation table joined on the
# word (vocab-keyed equi-join — Catalyst broadcasts the smaller side),
# then a |langs|-row rollup. The merges come from the shared trained-once
# artifact (`_learned_merges`, the q226 model — one build per dataset).
# Oracle: the shared q218 CTE chain's seg3 table; the word is recovered
# from its segmentation by deleting spaces (segmentation preserves
# characters — the apply_merges invariant, property-tested), then the
# identical (lang, word) rollup and join.
# --------------------------------------------------------------------------

_Q227_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_seg_ctes(_APPLY_ROUNDS))
    + f""",
    sizes AS (
      SELECT replace(seg, ' ', '') AS w,
             CAST(len(string_split(seg, ' ')) AS BIGINT) AS nsym,
             CAST(len(replace(seg, ' ', '')) AS BIGINT) AS nchr
      FROM seg{_APPLY_ROUNDS}
    ), lw AS (
      SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents
    ), lwc AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM lw WHERE w <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS ws_tokens,
           CAST(sum(c * nsym) AS BIGINT) AS bpe_symbols,
           round(sum(c * nsym) / CAST(sum(c) AS DOUBLE), 4) AS fertility,
           round(sum(c * nsym) / CAST(sum(c * nchr) AS DOUBLE), 4) AS compression
    FROM lwc JOIN sizes USING (w)
    GROUP BY lang
    """
)


@register(
    "q227_tokenizer_fertility",
    _Q227_ORACLE,
    "tokenizer fertility audit by language: symbols per word and per character that each language pays under the LEARNED BPE merges - the multilingual token-cost fairness check (a tokenizer trained on a skewed mix inflates costs for under-represented languages); (lang, word) rollup + vocab-keyed segmentation join (tokenizer family)",
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which languages pay more tokens under the learned tokenizer? Per
    language: whitespace tokens, BPE symbols under the q218-learned
    merges, fertility (symbols/word) and compression (symbols/char).
    The (lang, word) rollup is the only corpus-volume pass; symbol costs
    ride apply_merges' vocabulary-bounded segmentation table.
    operators/tokenizer.py::apply_merges."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
    from universal_aws_data_pipeline_spark.operators.tokenizer import apply_merges

    d = _t(spark, sf_dir, "documents")
    sizes = apply_merges(d, _learned_merges(spark, sf_dir), text_col="text").select(
        "w",
        F.size(F.split("seg", " ")).cast("long").alias("nsym"),
        F.length("w").cast("long").alias("nchr"),
    )
    lang_words = (
        d.select("lang", F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        lang_words.join(sizes, "w")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("ws_tokens"),
            F.sum(F.col("c") * F.col("nsym")).cast("long").alias("bpe_symbols"),
            F.round(
                F.sum(F.col("c") * F.col("nsym"))
                / F.sum("c").cast("double"),
                4,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("c") * F.col("nsym"))
                / F.sum(F.col("c") * F.col("nchr")).cast("double"),
                4,
            ).alias("compression"),
        )
    )
