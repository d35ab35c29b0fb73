"""Catalog chunk: q51–q100 (SCD, joins sweep, sketches, sampling, text).

Mechanically split from the former single-file catalog (round 7); the
assembler in ``plans/catalog.py`` imports every chunk and enforces the
pinned registration order, so query placement here never changes the
driver's graded window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    QUERIES,
    register,
    _t,
    _artifact,
    _artifact_dir,
    _q15_corpus,
    _ntz,
    _NORM_SQL,
    _Q15_ORACLE,
    _cos_sql,
    _BUCKET_SQL,
    _Q51_ORACLE,
    _hex_int_sql,
    _Q90_THETA,
)

@register(
    "q51_scd2_merge",
    _Q51_ORACLE,
    "SCD type-2 dimension merge: close changed current rows, insert new versions, keep history (warehouse parity)",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scd2_apply on a dimension seeded from customer: keys ending 0-2 get
    an acctbal change (closed row + new open row), keys ending 3 arrive as
    no-op updates (null-safe column compare filters them out), the rest
    pass through. One equi-join total — the updates side is the small one,
    AQE broadcasts it; history rows are never rewritten."""
    from universal_aws_data_pipeline_spark.operators.scd import scd2_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(dt.date(2020, 1, 1)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_custkey") % 10 <= 3).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 < 3, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.col("c_mktsegment"),
        F.lit(dt.date(2024, 6, 1)).alias("eff"),
    )
    return scd2_apply(
        dim, updates, key="c_custkey", tracked=["c_acctbal", "c_mktsegment"], effective="eff"
    )


@register(
    "q52_repetition_profile",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, t,
             list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1])) AS bg
      FROM toks
    )
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS dup_word_frac,
           CASE WHEN len(bg) > 0
                THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
                ELSE 0.0 END AS dup_bigram_frac,
           (1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) >= 0.8 AS is_repetitive
    FROM grams
    """,
    "Gopher-style repetition filter signals: duplicate word/bigram fractions per document (X4)",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher/MassiveText rules):
    fraction of duplicate words and duplicate bigrams per document, plus the
    filter flag. Pure row-local array expressions — tokens, bigrams,
    distincts all inside whole-stage codegen; no explode, runs at scan
    speed over any corpus size.

    Two-stage select on purpose: the token/bigram arrays are projected into
    named columns FIRST, so each is computed once per row — inlined into
    every referencing expression, the normalize+split pass ran 4x per row
    (measured 8 s → ~1 s at sf0.1). parallelize_text_scan spreads the
    CPU-bound map off the compressed single-file scan split."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col, word_shingles
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    staged = d.select(
        "doc_id",
        tokens_col(F.col("text")).alias("_t"),
        word_shingles(F.col("text"), n=2).alias("_bg"),
    )
    t = F.col("_t")
    bg_total = F.size(t) - 1
    dup_word = F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t)
    dup_bigram = F.when(
        bg_total > 0,
        F.round(F.lit(1.0) - F.size(F.col("_bg")).cast("double") / bg_total, 4),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        F.round(dup_word, 4).alias("dup_word_frac"),
        dup_bigram.alias("dup_bigram_frac"),
        (dup_word >= 0.8).alias("is_repetitive"),
    )


@register(
    "q53_rich_inactive_customers",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    "TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS anti-join + aggregate",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated by hand into the plan Catalyst would also produce: the
    scalar average is a 1-row aggregate cross-joined in (broadcast — zero
    cost), the NOT EXISTS is a left_anti join on the customer key. No
    per-row subquery execution at any scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


@register(
    "q54_mixture_report",
    r"""
    WITH t AS (
      SELECT source, lang,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_tokens,
           round(100.0 * total_tokens / sum(total_tokens) OVER (), 4) AS token_share_pct
    FROM t
    """,
    "training-mixture report: per (source, lang) token budgets and global shares (X4)",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture accounting for a pretraining corpus: token totals per
    (source, language) cell and each cell's share of the global budget. The
    unpartitioned window runs over the AGGREGATED result (|sources|×|langs|
    rows), not the corpus — post-agg single-task windows are free; the heavy
    lifting is the partial-aggregated groupBy."""
    from universal_aws_data_pipeline_spark.operators.text import token_count
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    agg = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
    )
    share = F.lit(100.0) * F.col("total_tokens") / F.sum("total_tokens").over(
        Window.partitionBy()
    )
    return agg.select(
        "source", "lang", "n_docs", "total_tokens", F.round(share, 4).alias("token_share_pct")
    )


@register(
    "q55_event_funnel",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS view_epoch,
             min(CASE WHEN event_type = 'click' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS click_epoch,
             min(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS purchase_epoch
      FROM events GROUP BY user_id
    )
    SELECT user_id, view_epoch, click_epoch, purchase_epoch
    FROM f
    WHERE view_epoch < click_epoch AND click_epoch < purchase_epoch
    """,
    "funnel analysis: users whose first view precedes first click precedes first purchase",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion via conditional aggregation — one groupBy carrying
    three partial mins (combine map-side), then a row-local ordering filter.
    Not a self-join per step (the naive spelling: one join per funnel stage,
    each a shuffle) and not a window sort over per-user event sequences."""
    e = _t(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", es)).alias("view_epoch"),
        F.min(F.when(F.col("event_type") == "click", es)).alias("click_epoch"),
        F.min(F.when(F.col("event_type") == "purchase", es)).alias("purchase_epoch"),
    )
    return f.filter(
        (F.col("view_epoch") < F.col("click_epoch"))
        & (F.col("click_epoch") < F.col("purchase_epoch"))
    )


_Q56_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.3
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT id AS vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       id = cluster_id AS is_canonical
FROM comp
"""


@register(
    "q56_semantic_dedup",
    _Q56_ORACLE,
    "SemDeDup shape: embedding-cosine pair graph -> connected components -> canonical per semantic cluster (X3b/X2g)",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication over the embedding space (the SemDeDup
    pipeline shape): blocked cosine pairs become edges, connected components
    merge transitively-similar documents into one semantic cluster, the
    min-id member survives. Same clustering engine as q43, different pair
    miner — text LSH and embedding cosine share the closure stage. Pairs are
    checkpointed to a parquet artifact (mined once per dataset; every
    re-cluster probes the stored table), mirroring q43.

    Round 14 (VERDICT r13 item 2, adjudicated GRANT — the q43 boundary
    move applied to the semantic graph): the CC LABEL table is a parquet
    artifact layered on the pair artifact. This graph is the catalog's
    diameter case (1,449 edges forming cosine-0.3 transitive CHAINS —
    ~7 pointer-jumping materializations ≈ the whole 5 s warm cost, r13
    profile): the closure now runs at build, the warm plan scans
    (id, component) and rolls up sizes. Cold pays mining + closure +
    write."""
    from universal_aws_data_pipeline_spark.operators.similarity import cosine_pairs_blocked
    from universal_aws_data_pipeline_spark.plans._shared import _cc_label_artifact

    def _edges() -> DataFrame:
        return _artifact(
            spark,
            "semantic_pairs",
            sf_dir,
            "q56",
            lambda: cosine_pairs_blocked(
                _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3, id_col="vec_id"
            ),
        )

    comp = _cc_label_artifact(spark, "semantic_clusters", sf_dir, _edges)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


_Q57_ORACLE = f"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
), train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
), bt AS (
  SELECT string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM bench
), bsh AS (
  SELECT DISTINCT unnest(CASE WHEN len(t) >= 3
    THEN list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
    ELSE [norm] END) AS s
  FROM bt
), tt AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM train
), tsh AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
    THEN list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
    ELSE [norm] END) AS s
  FROM tt
), cont AS (
  SELECT DISTINCT tsh.doc_id FROM tsh JOIN bsh USING (s)
)
SELECT t.doc_id, c.doc_id IS NOT NULL AS is_contaminated
FROM train t LEFT JOIN cont c USING (doc_id)
"""


@register(
    "q57_benchmark_decontamination",
    _Q57_ORACLE,
    "eval-set decontamination: flag training docs sharing any n-gram shingle with the benchmark set (X2/X4)",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the n-gram overlap sweep every serious
    pretraining pipeline runs): docs sharing any 3-gram shingle with the
    held-out set (doc_id % 97 == 0 stands in for the benchmark) are flagged.
    Scale shape: the benchmark's distinct shingles are small — exploded and
    BROADCAST — so the corpus side is explode + broadcast-hash-join + distinct,
    one shuffle total (the distinct), never corpus×corpus. The corpus scan is
    spread to the core count first (CPU-bound shingling off a compressed
    single-file split: measured 13 s → ~1.5 s at sf0.1)."""
    from universal_aws_data_pipeline_spark.functions.texthash import word_shingles
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    bsh = (
        bench.select(F.explode(word_shingles(F.col("text"), n=3)).alias("s")).distinct()
    )
    tsh = train.select("doc_id", F.explode(word_shingles(F.col("text"), n=3)).alias("s"))
    cont = tsh.join(F.broadcast(bsh), "s").select("doc_id").distinct()
    return (
        train.join(cont.withColumn("_hit", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce("_hit", F.lit(False)).alias("is_contaminated"))
    )


@register(
    "q58_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS best_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT l_partkey, l_suppkey, best_price,
             row_number() OVER (PARTITION BY l_partkey ORDER BY best_price, l_suppkey) AS rn
      FROM cost
    )
    SELECT r.l_partkey AS partkey, p.p_brand, r.l_suppkey AS suppkey, r.best_price
    FROM ranked r JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.rn = 1 AND p.p_brand = 'Brand#1'
    """,
    "TPC-H Q2 shape: cheapest supplier per part — struct-min argmin aggregation, not a per-group window sort",
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin WITHOUT a window: min(struct(price, suppkey)) per part is a
    hash aggregate — partial mins combine map-side, the shuffle carries one
    candidate per (part, partition) — where the window spelling sorts every
    partition's rows per key. The struct's lexicographic order (price, then
    suppkey) is exactly the oracle's ORDER BY tiebreak. Brand filter pushes
    into the part scan and prunes before the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(F.min("l_extendedprice").alias("best_price"))
    best = (
        per_supp.groupBy("l_partkey")
        .agg(F.min(F.struct("best_price", "l_suppkey")).alias("_b"))
        .select(F.col("l_partkey"), F.col("_b.l_suppkey").alias("l_suppkey"), F.col("_b.best_price").alias("best_price"))
    )
    return best.join(p, best["l_partkey"] == p["p_partkey"]).select(
        F.col("l_partkey").alias("partkey"), "p_brand", F.col("l_suppkey").alias("suppkey"), "best_price"
    )


@register(
    "q59_supplier_share",
    """
    WITH rev AS (
      SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey AS suppkey, round(revenue, 2) AS revenue,
           round(100.0 * revenue / (SELECT sum(revenue) FROM rev), 4) AS share_pct
    FROM rev
    WHERE revenue > 0.011 * (SELECT sum(revenue) FROM rev)
    """,
    "TPC-H Q11 shape: per-supplier revenue share filtered against a fraction of the global total",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total with a scalar threshold. The global total comes from
    an unpartitioned window over the ALREADY-AGGREGATED per-supplier table:
    one task streams |suppliers| tiny rows — vs the scalar-subquery
    spelling, which (without runtime exchange reuse) re-aggregates the fact
    table a second time. One scan of lineitem, guaranteed by the plan, is
    worth a single-task pass over the aggregate at any realistic scale."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    total = F.sum("revenue").over(Window.partitionBy())
    return (
        rev.withColumn("_total", total)
        .filter(F.col("revenue") > 0.011 * F.col("_total"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.round("revenue", 2).alias("revenue"),
            F.round(F.lit(100.0) * F.col("revenue") / F.col("_total"), 4).alias("share_pct"),
        )
    )


@register(
    "q60_salted_skew_join",
    """
    WITH ev AS (
      SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN 1 ELSE user_id END AS hot_user,
             value
      FROM events
    )
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(ev.value), 2) AS total_value
    FROM ev JOIN customer c ON c.c_custkey = ev.hot_user
    GROUP BY c.c_mktsegment
    """,
    "skew-salted fact-dimension join: hot key spread over salt buckets, dimension replicated S× (100 TB skew lever)",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deliberately pathological key (a third of all events collapse onto
    user 1) joined through ``salted_join``: the hot key's rows spread over 8
    salt buckets — 8 tasks instead of one straggler — and the dimension side
    is replicated 8× (cheap: it's the small side). The oracle states the
    plain join; salting must be invisible in the result."""
    from universal_aws_data_pipeline_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 3 == 0, F.lit(1)).otherwise(F.col("user_id")).alias("hot_user"),
        "value",
    ).withColumnRenamed("hot_user", "c_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, on="c_custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )


@register(
    "q61_weekly_retention",
    """
    WITH wk AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT a.week, CAST(count(*) AS BIGINT) AS retained_users
    FROM wk a JOIN wk b ON a.user_id = b.user_id AND b.week = a.week + 7
    GROUP BY a.week
    """,
    "cohort retention: users active in week w who return in week w+1 (self-join on the deduped activity table)",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention. The self-join runs on the DEDUPED
    (user, week) activity table — |users|×|weeks| rows, not raw events² —
    and joins on (user_id, week+7) as a pure equi-key. distinct is the one
    full shuffle; everything after operates on the reduced table.

    Dates derive from the UTC epoch day (unix_timestamp // 86400), not a
    session-tz cast — the stored timestamps are naive wall clocks, and a
    non-UTC driver session would shift boundary events to the wrong week."""
    e = _t(spark, sf_dir, "events")
    utc_day = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("int"),
    )
    wk = e.select(
        "user_id", F.date_trunc("week", utc_day).cast("date").alias("week")
    ).distinct()
    nxt = wk.select("user_id", F.date_sub(F.col("week"), 7).alias("week"))
    return (
        wk.join(nxt, ["user_id", "week"])
        .groupBy("week")
        .agg(F.count("*").alias("retained_users"))
    )


@register(
    "q62_rolling_daily_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
      FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT d, CAST(n_events AS BIGINT) AS n_events,
           CAST(sum(n_events) OVER (
             ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_7d
    FROM daily
    """,
    "rolling 7-day totals via a RANGE (value-based) window frame over the daily aggregate",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, handles calendar gaps — a ROWS frame would
    silently span missing days). Spark's rangeBetween needs a numeric sort
    key, so the date becomes an epoch-day int; the frame [-6, 0] is then
    exactly the oracle's INTERVAL 6 DAY PRECEDING. The window runs over the
    |days| daily-aggregate rows, not the event stream. The day derives from
    the UTC epoch (tz-free) like q61, not a session-tz date cast."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    utc_day = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("int"),
    )
    daily = e.groupBy(utc_day.alias("d")).agg(F.count("*").alias("n_events"))
    w = (
        Window.orderBy(F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "d", "n_events", F.sum("n_events").over(w).alias("n_7d")
    )


@register(
    "q63_gdpr_cascade_delete",
    """
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0),
    del_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del))
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)) AS BIGINT) AS rows_kept,
           CAST((SELECT count(*) FROM customer WHERE c_custkey IN (SELECT c_custkey FROM del)) AS BIGINT) AS rows_deleted
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del)) AS BIGINT),
           CAST((SELECT count(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)) AS BIGINT)
    """,
    "right-to-be-forgotten cascade: deletion keys swept through the fact chain via broadcast anti-join accounting",
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-request propagation (customer → orders → lineitem): each
    table takes ONE pass — a broadcast left join against the (small)
    deletion key set with conditional counts — rather than separate
    kept/deleted scans. The deleted-orders key set cascades to lineitem the
    same way. At 100 TB the deletion list is always broadcast-size; the
    facts are never shuffled."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    del_keys = c.filter(F.col("c_custkey") % 50 == 0).select("c_custkey").withColumn("_d", F.lit(1))

    def _sweep(df: DataFrame, name: str, key: str, dead: DataFrame, dead_key: str) -> DataFrame:
        joined = df.join(
            F.broadcast(dead.withColumnRenamed(dead_key, key)), key, "left"
        )
        return joined.agg(
            F.lit(name).alias("table_name"),
            F.coalesce(F.sum((F.col("_d").isNull()).cast("long")), F.lit(0)).alias("rows_kept"),
            F.coalesce(F.sum((F.col("_d").isNotNull()).cast("long")), F.lit(0)).alias("rows_deleted"),
        )

    dead_orders = (
        o.join(F.broadcast(del_keys.withColumnRenamed("c_custkey", "o_custkey")), "o_custkey")
        .select("o_orderkey")
        .withColumn("_d", F.lit(1))
    )
    return (
        _sweep(c, "customer", "c_custkey", del_keys, "c_custkey")
        .unionByName(_sweep(o, "orders", "o_custkey", del_keys, "c_custkey"))
        .unionByName(_sweep(li, "lineitem", "l_orderkey", dead_orders, "o_orderkey"))
    )


@register(
    "q64_snapshot_diff_cdc",
    """
    WITH old AS (SELECT doc_id, text FROM documents),
    new AS (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 31 <> 0
      UNION ALL
      SELECT doc_id + 500000, text FROM documents WHERE doc_id < 20
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text
    """,
    "CDC derivation by snapshot diff: full outer join emits insert/delete/update change set between table versions",
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture without a log: diff two table snapshots with one
    full outer join on the key (null side ⇒ insert/delete, value compare ⇒
    update; unchanged rows drop out). The synthetic 'new' snapshot deletes
    doc_id%31, rewrites doc_id%7, inserts 20 fresh ids — all three change
    types exercised. One shuffle on the key; row-local comparisons."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 31 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(d.filter(F.col("doc_id") < 20).select((F.col("doc_id") + 500000).alias("doc_id"), "text"))
    )
    o = d.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (
        F.when(F.col("o.doc_id").isNull(), F.lit("insert"))
        .when(F.col("n.doc_id").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        joined.filter(
            F.col("o.doc_id").isNull()
            | F.col("n.doc_id").isNull()
            | (F.col("o.text") != F.col("n.text"))
        )
        .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"), change.alias("change_type"))
    )


@register(
    "q65_doc_chunking",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    )
    SELECT doc_id,
           CAST(s / 40 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, s + 1, s + 50)) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(t, s + 1, s + 50), ' ')) AS chunk_md5
    FROM toks, unnest(range(0, greatest(len(t), 1), 40)) u(s)
    """,
    "context-window chunking: fixed 50-token chunks, 10-token overlap, per-chunk fingerprints (X4)",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into model-context-sized chunks (50 tokens, stride
    40 ⇒ 10-token overlap) — the step between a cleaned corpus and a
    tokenized training set. Row-local throughout: tokens → explode of the
    stride sequence → slice per chunk; no shuffle, output is one row per
    chunk. The chunk md5 doubles as the join key for chunk-level dedup
    downstream."""
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    staged = d.select("doc_id", t.alias("_t")).select(
        "doc_id",
        "_t",
        F.explode(F.sequence(F.lit(0), F.greatest(F.size("_t") - 1, F.lit(0)), F.lit(40))).alias("s"),
    )
    chunk = F.slice(F.col("_t"), F.col("s") + 1, 50)
    return staged.select(
        "doc_id",
        (F.col("s") / 40).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@register(
    "q66_sliding_window_counts",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS n
      FROM events GROUP BY 1
    ), starts AS (
      SELECT h AS s FROM hourly UNION SELECT h - 1 FROM hourly
    )
    SELECT s.s * 3600 AS window_start_epoch,
           (s.s + 2) * 3600 AS window_end_epoch,
           CAST(coalesce(a.n, 0) + coalesce(b.n, 0) AS BIGINT) AS n_events
    FROM starts s
    LEFT JOIN hourly a ON a.h = s.s
    LEFT JOIN hourly b ON b.h = s.s + 1
    WHERE coalesce(a.n, 0) + coalesce(b.n, 0) > 0
    """,
    "sliding windows (2h size, 1h slide) on a batch frame — same F.window code path as the stream",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows via ``F.window(ts, '2 hours', '1 hour')``
    — each event lands in size/slide = 2 windows (a row-local expansion),
    then one aggregation; the IDENTICAL expression runs on the streaming
    path (test_sliding_window), which is the batch/stream-parity design
    point. The oracle reconstructs the same windows from hourly counts:
    every hour adjacent to data opens a window; empty windows don't emit."""
    e = _t(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    out = e.groupBy(win.alias("w")).agg(F.count("*").alias("n_events"))
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        F.unix_timestamp(F.col("w.end")).alias("window_end_epoch"),
        "n_events",
    )


@register(
    "q67_train_val_test_split",
    f"""
    WITH b AS (
      SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents
    )
    SELECT CASE WHEN bucket < 52428 THEN 'train'
                WHEN bucket < 58982 THEN 'val'
                ELSE 'test' END AS split,
           lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM b GROUP BY 1, 2
    """,
    "deterministic train/val/test split (80/10/10 by content hash) with per-language counts (X6)",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset splitting for training: hash-range assignment (80/10/10 of
    the md5 bucket space) — membership is a pure function of the document
    id, so the split never leaks rows across sets when the corpus grows or
    repartitions (df.randomSplit does). Map-side label + one aggregation;
    the per-language counts are the split-balance audit."""
    from universal_aws_data_pipeline_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < int(0.8 * 65536), F.lit("train"))
        .when(bucket < int(0.9 * 65536), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select(split.alias("split"), "lang").groupBy("split", "lang").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "q68_video_frame_sampling",
    """
    WITH b AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           CAST(length(substring(text, i * greatest(n // 4, 1) + 1, 256)) AS BIGINT) AS frame_len,
           md5(substring(text, i * greatest(n // 4, 1) + 1, 256)) AS frame_md5
    FROM b, unnest(range(0, 4)) u(i)
    """,
    "video frame sampling: 1 payload row -> N frame rows via generator mapInPandas (X5, hash-graded stub)",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video path of the multimodal surface, graded end to end: binary
    payloads flow through the Arrow generator UDF (mapInPandas yielding
    more rows than it consumes — the UDTF shape), 4 evenly-spaced frames
    per payload. The decoder is the documented deterministic byte-slice
    stub (no ffmpeg in this container), which makes the frame bytes —
    ASCII text slices — oracle-checkable via substring+md5. The Spark-side
    plumbing (schemas, Arrow batching, 1→N row expansion) is the real
    deliverable; swap the slicing for keyframe extraction in production."""
    from universal_aws_data_pipeline_spark.operators.multimodal import attach_binary_payload, sample_frames

    d = _t(spark, sf_dir, "documents")
    frames = sample_frames(attach_binary_payload(d), n_frames=4, frame_bytes=256)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


# --------------------------------------------------------------------------
# q69 — nation-pair shipping volume (TPC-H Q7 shape): 5-way join, pair
# predicate, year rollup. Scale: both nation joins are broadcast (fixed 25
# rows); the pair filter is applied via the PRE-FILTERED nation dims so
# supplier/customer shrink ~2/25 before touching the fact shuffle.
# --------------------------------------------------------------------------
@register(
    "q69_nation_pair_volume",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON o_orderkey  = l_orderkey
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN customer ON c_custkey   = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year",
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-of-pairs predicate references BOTH sides of the join, so
    Catalyst cannot push it into either scan on its own. The manual (and
    standard Q7) rewrite: pre-filter each nation dim to the two nations of
    interest — that DOES push down — broadcast-join them into supplier and
    customer (each shrinks to ~2/25 of its rows *before* the fact joins),
    and keep the exact pair condition as a cheap post-join residual over
    the already-tiny cross of 2×2 nation names. The lineitem date range
    pushes into the parquet scan. Reference parity: the reference has no
    join surface at all (SURVEY §2.3); this is the native-engine extension."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < _ntz(dt.datetime(1998, 1, 1)))
    )
    pair = ["NATION_1", "NATION_2"]
    n1 = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier").join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
    c = _t(spark, sf_dir, "customer").join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# q70 — product-line profit by supplier nation and order year (TPC-H Q9
# shape, minus partsupp which the test schema omits). Scale: the p_name
# LIKE filter prunes part BEFORE its join; nation is broadcast; the two
# fact-fact joins (lineitem⋈orders, ⋈part) are AQE's call.
# --------------------------------------------------------------------------
@register(
    "q70_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 2) AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM lineitem
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN part     ON p_partkey  = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
    "TPC-H Q9 shape: profit on a product line by supplier nation and order year",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join order matters at scale: part is filtered by the LIKE (pushes to
    its scan as a StringContains), and joining lineitem⋈part FIRST shrinks
    the fact stream before the orders join — the selective reduction
    happens as early as possible. Only nation gets a broadcast hint;
    part/supplier/orders all scale with SF, so AQE picks their strategies
    from runtime sizes. 'gear' matches ~1/8 of part names in the fixture —
    enough rows that every (nation, year) cell is populated."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit"))
    )


# --------------------------------------------------------------------------
# q71 — disjunctive bracket revenue (TPC-H Q19 shape): OR-of-ANDs spanning
# both join sides. Scale: the implied per-side envelopes are hoisted
# manually (Catalyst doesn't factor ORs across sides), so both scans prune
# before the join instead of shipping every row to the filter.
# --------------------------------------------------------------------------
@register(
    "q71_bracket_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#8' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape: OR-of-ANDs bracket predicate across both join sides",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook Q19 lesson: the disjunction references columns from
    BOTH tables, so no optimizer can push it into either scan as written.
    But each side has a derivable envelope — part: brand IN the 3 brands
    AND size ≤ 35; lineitem: quantity in [1, 30] — and applying those
    envelopes BEFORE the join is semantics-preserving (every OR branch
    implies them). Part shrinks ~3/25, lineitem ~60%, and both prune at
    the parquet scan (PushedFilters: In(p_brand), LessThanOrEqual). The
    exact OR stays as the post-join residual. AQE then sees a few-thousand
    -row part side and broadcasts it on its own — no hint needed."""
    li = _t(spark, sf_dir, "lineitem").filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#2", "Brand#5", "Brand#8") & (F.col("p_size") <= 35)
    )
    bracket = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#8") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q72 — large-volume orders (TPC-H Q18 shape): HAVING-filtered aggregate
# joined back to its parents, top-k. Scale: the groupBy(orderkey) HAVING
# keeps ~0.1% of orders, so the joins run on the tiny survivor set; the
# final ordering is TakeOrderedAndProject, never a full sort.
# --------------------------------------------------------------------------
@register(
    "q72_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice, round(qty, 2) AS sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    "TPC-H Q18 shape: customers behind the largest-quantity orders (HAVING + join-back + top-k)",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join, never join-then-aggregate: summing lineitem
    per order FIRST (partial agg, map-side combine) and HAVING-filtering
    to >300 leaves a survivor set ~3 orders in 1000 — the orders and
    customer joins then touch only those. AQE broadcasts the survivor
    side at any SF (it shrinks with the same 0.1% selectivity as data
    grows). orderBy().limit(20) compiles to TakeOrderedAndProject: each
    task keeps a 20-row heap, the driver merges — no global sort."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            F.round("qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q73 — nation market share within a region (TPC-H Q8 shape): conditional
# aggregation sum(CASE WHEN)/sum over a 6-way star. Scale: region+nation
# broadcast; the share is computed in the SAME aggregate pass as the total
# (one shuffle), never as two aggregations joined back.
# --------------------------------------------------------------------------
@register(
    "q73_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'REGION_1'
    ) all_sales
    GROUP BY o_year
    """,
    "TPC-H Q8 shape: one nation's share of a region's purchase volume per year",
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerator and denominator in ONE aggregate: the CASE-WHEN guard
    makes the nation-specific sum a conditional aggregate alongside the
    total — one shuffle over |years| groups. The two-query spelling (agg,
    agg, join) would scan and shuffle twice. The region filter pushes into
    the 5-row region scan and prunes customers via the broadcast chain
    region→nation→customer before the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "REGION_1")
    cust_in_region = (
        c.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust_in_region, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("_n2_key") == F.col("s_nationkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))) / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# q74 — order-priority check (TPC-H Q4 shape): correlated EXISTS through
# the SQL door. Scale: Catalyst decorrelates the subquery into a LeftSemi
# join — one pass over each table, no per-row subquery execution.
# --------------------------------------------------------------------------
@register(
    "q74_priority_exists",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: correlated EXISTS subquery, decorrelated to a semi-join",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submitted as SQL text (the engine's second door, like q34) to grade
    Catalyst's subquery decorrelation: the correlated EXISTS with a
    non-equi correlate (l_shipdate > o_orderdate) must become a LeftSemi
    join on orderkey carrying the date comparison as the join residual —
    plan-asserted in test_plans.py. A row-at-a-time EXISTS probe would be
    O(orders × lineitem-lookup); the semi-join is one shuffle of each
    side, and the 3-month orders filter pushes to the scan first."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_v
        WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem_v
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# q75 — exact near-dup pairs via prefix filtering (AllPairs/PPJoin family):
# guaranteed-recall alternative to q15's MinHash-LSH. Scale: candidates from
# an equi-join on each doc's RAREST shingles (high-df boilerplate shingles
# fall out of every prefix, bounding bucket sizes); df-agg + per-doc window
# are the extra cost vs LSH. Oracle is BRUTE-FORCE all-pairs Jaccard — the
# hash match proves the recall guarantee, not just plausibility.
# --------------------------------------------------------------------------
_Q75_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, regexp_replace(text, '\\s+\\S+$', '') FROM documents
), toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM corpus
), shing AS (
  SELECT doc_id, CASE WHEN len(t) >= 3
    THEN list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
    ELSE [norm] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
FROM shing a JOIN shing b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5
"""


@register(
    "q75_jaccard_prefix_filter",
    _Q75_ORACLE,
    "exact near-dup pairs: prefix-filtered n-gram Jaccard self-join graded against brute-force ground truth (X2)",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same corpus (and same checkpointed shingle index artifact) as q15,
    different algorithm family: prefix filtering gives EXACT results, so
    the oracle is brute-force all-pairs Jaccard — a hash match here means
    the pruning provably lost nothing. The engine never runs the N^2 join
    the oracle runs; it equi-joins on rarest-prefix shingles
    (operators/dedup.py::jaccard_pairs_prefix_filter)."""
    from universal_aws_data_pipeline_spark.operators.dedup import jaccard_pairs_prefix_filter

    corpus, shingled = _q15_corpus(spark, sf_dir)
    return jaccard_pairs_prefix_filter(corpus, threshold=0.5, shingle_n=3, shingled=shingled)


# --------------------------------------------------------------------------
# q76 — quality-weighted canonical selection per near-dup cluster: the step
# a real training-data pipeline runs AFTER clustering — keep the BEST
# member (not the min-id one) of every duplicate group. Composition query:
# q43's connected-components clusters × q14's quality scorer. Scale: the
# cluster table is tiny relative to the corpus; the quality join is one
# shuffle on doc_id and the argmax is a hash aggregate (max-struct, no
# window sort).
# --------------------------------------------------------------------------
_Q76_ORACLE = f"""
WITH RECURSIVE pairs AS ({_Q15_ORACLE}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, regexp_replace(text, '\\s+\\S+$', '') FROM documents
),
qbase AS (
  SELECT doc_id, text,
         CAST(length(text) AS DOUBLE) AS n,
         len(string_split_regex(trim(text), '\\s+')) AS ntok
  FROM corpus
),
qcls AS (
  SELECT doc_id, n, ntok,
    (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
    (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
    (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
  FROM qbase
),
qual AS (
  SELECT doc_id,
    round((least(1.0, ntok / 100.0) + alpha_ratio
           + (1.0 - least(1.0, digit_ratio + punct_ratio))
           + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
          4) AS quality
  FROM qcls
)
SELECT c.cluster_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       (list(c.doc_id ORDER BY q.quality DESC, c.doc_id))[1] AS best_doc_id,
       round(max(q.quality), 4) AS best_quality
FROM comp c JOIN qual q USING (doc_id)
GROUP BY c.cluster_id
"""


@register(
    "q76_keep_best_per_cluster",
    _Q76_ORACLE,
    "quality-weighted canonical per near-dup cluster: clusters (q43) joined with quality scores (q14), argmax survivor (X2/X4 composition)",
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-id canonicals (q43) are arbitrary; production keeps the HIGHEST-
    QUALITY member of each duplicate group. The argmax is
    max(struct(quality, -doc_id)) — a plain hash aggregate with map-side
    combine and a deterministic min-id tiebreak — never a per-cluster
    window sort. Reuses the checkpointed pair artifact through q43's
    clustering engine, so the marginal cost is one quality map over the
    corpus plus a join against the (tiny) cluster table."""
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    clusters = QUERIES["q43_dup_clusters"].fn(spark, sf_dir).select("doc_id", "cluster_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    qual = d.unionByName(mutated).select("doc_id", quality_score(F.col("text")).alias("quality"))
    joined = clusters.join(qual, "doc_id")
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("_neg"))).alias("_b"),
        )
        .select(
            "cluster_id",
            "cluster_size",
            (-F.col("_b._neg")).alias("best_doc_id"),
            F.round(F.col("_b.quality"), 4).alias("best_quality"),
        )
    )


# --------------------------------------------------------------------------
# q77 — asymmetric GROUPING SETS: (segment, nation), (segment), (nation) —
# a margin combination neither ROLLUP (q23) nor CUBE (q47) can express
# (no grand total, both one-dim margins). Scale: one Expand pass over ONE
# scan — each input row fans out to its 3 grouping-set rows map-side, then
# a single hash aggregate; the naive spelling is 3 scans + a union.
# --------------------------------------------------------------------------
@register(
    "q77_grouping_sets",
    """
    SELECT c_mktsegment AS segment, n_name AS nation,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON c_custkey  = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), (n_name))
    """,
    "asymmetric GROUPING SETS margins (one Expand pass) — completes the rollup (q23) / cube (q47) family",
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Through the SQL door (GROUPING SETS has no DataFrame-API spelling).
    Compiles to Expand(3 projections) + one hash aggregate over one scan —
    plan-asserted in test_plans.py. Nation broadcast comes from AQE size
    stats; NULL-vs-grouped-out ambiguity doesn't arise in the fixture
    (both grouping columns are non-null), matching the oracle bitwise."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
        SELECT c_mktsegment AS segment, n_name AS nation,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders_v
        JOIN customer_v ON c_custkey  = o_custkey
        JOIN nation_v   ON n_nationkey = c_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), (n_name))
        """
    )


# --------------------------------------------------------------------------
# q78 — BM25 relevance top-k (retrieval X10): score the corpus against a
# fixed term query. Scale: NO explode/inverted index for a fixed query —
# per-doc tf is a row-local array expression, corpus stats (N, avgdl, df)
# reduce to ONE row broadcast back over the scoring pass, top-k is
# TakeOrderedAndProject. Two map passes + a 1-row aggregate, period.
# --------------------------------------------------------------------------
_Q78_TERMS = ("hash", "join", "vector")
_Q78_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
), d AS (
  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
         CAST(len(list_filter(t, x -> x = 'hash'))   AS DOUBLE) AS tf0,
         CAST(len(list_filter(t, x -> x = 'join'))   AS DOUBLE) AS tf1,
         CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf2
  FROM base
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM d
)
SELECT doc_id,
       round(  ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
FROM d, s
WHERE tf0 + tf1 + tf2 > 0
ORDER BY bm25 DESC, doc_id
LIMIT 15
"""


@register(
    "q78_bm25_topk",
    _Q78_ORACLE,
    "BM25 top-k retrieval: row-local tf, 1-row corpus stats broadcast, TakeOrdered — no explode, no inverted index for a fixed query",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf) over documents for the fixed
    query {hash, join, vector}. Ordering uses the ROUNDED score + doc_id in
    both engines so the top-k cut is deterministic cross-engine."""
    from universal_aws_data_pipeline_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), list(_Q78_TERMS), id_col="doc_id", text_col="text", k=15
    )


# --------------------------------------------------------------------------
# q79 — blocked fuzzy entity resolution (linkage X11): a corrupted ingest
# batch matched back to the clean master by Levenshtein distance inside
# blocks. Scale: equi-join on the blocking key (the corruption-stable name
# suffix) — never all-pairs; the edit-distance DP runs only within blocks.
# --------------------------------------------------------------------------
_Q79_ORACLE = """
WITH clean AS (
  SELECT c_custkey AS id, lower(trim(c_name)) AS nm FROM customer
), dirty AS (
  SELECT id + 1000000 AS did,
         substr(nm, 1, (id % 5) + 2) || substr(nm, (id % 5) + 4) AS nm
  FROM clean
)
SELECT c.id AS clean_id, d.did AS dirty_id,
       CAST(levenshtein(c.nm, d.nm) AS INTEGER) AS distance
FROM clean c JOIN dirty d ON right(c.nm, 4) = right(d.nm, 4)
WHERE levenshtein(c.nm, d.nm) <= 1
"""


@register(
    "q79_fuzzy_entity_match",
    _Q79_ORACLE,
    "blocked edit-distance record linkage: dirty batch equi-joined to master on a corruption-stable block key, levenshtein <= 1 inside blocks",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dirty batch drops one character from each master name at a
    key-dependent position inside the alphabetic prefix, so the digit
    suffix survives as the blocking key (right(nm, 4)). Every dirty row
    is provably 1 edit from its source and >= 2 edits from every other
    block member, so distance <= 1 recovers the exact linkage."""
    from universal_aws_data_pipeline_spark.operators.linkage import blocked_edit_distance_match

    clean = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.lower(F.trim(F.col("c_name"))).alias("nm")
    )
    dirty = clean.select(
        (F.col("id") + 1000000).alias("id"),
        F.expr("concat(substr(nm, 1, (id % 5) + 2), substr(nm, (id % 5) + 4))").alias("nm"),
    )
    return blocked_edit_distance_match(
        clean, dirty, block_fn=lambda c: F.substring(c, -4, 4),
        id_col="id", name_col="nm", max_distance=1,
    )


# --------------------------------------------------------------------------
# q80 — bigram language-model counts (text X4f): token-transition counts and
# conditional probabilities over the corpus. Scale: bigrams are a row-local
# slice-zip (no per-token shuffle until the count aggregate); the
# conditional-probability window runs over the AGGREGATED bigram table,
# never the corpus.
# --------------------------------------------------------------------------
_Q80_ORACLE = f"""
WITH base AS (
  SELECT string_split({_NORM_SQL}, ' ') AS t FROM documents
), bg AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
  FROM base WHERE len(t) >= 2
), cnt AS (
  SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
)
SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
       CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (PARTITION BY string_split(bigram, ' ')[1]), 4) AS p_next
FROM cnt
ORDER BY n DESC, w1, w2
LIMIT 20
"""


@register(
    "q80_bigram_lm",
    _Q80_ORACLE,
    "bigram LM: row-local slice-zip bigrams -> count aggregate -> conditional probability window over the aggregated table",
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(w2 | w1) = count(w1 w2) / count(w1 ·), top-20 bigrams by count.
    The explode happens AFTER the row-local bigram build, and the
    normalizing window partitions the aggregated (vocabulary-sized) table
    by w1 — corpus-size shuffles carry only (bigram, partial count)."""
    from pyspark.sql import Window

    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan

    # let-bind the token array through the one-element outer transform (the
    # word_shingles round-8 fix): capturing tokens_col(text) directly in the
    # per-index lambda re-tokenized the whole document twice per bigram —
    # O(tokens x doc_length) per row, found by the longdocs stress
    def _bigrams(tk):
        return F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    bigrams = F.element_at(
        F.transform(F.array(tokens_col(F.col("text"))), _bigrams), 1
    )
    cnt = (
        parallelize_text_scan(_t(spark, sf_dir, "documents").select("text"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    return (
        cnt.select(
            w1.alias("w1"), w2.alias("w2"), F.col("n"),
            F.round(F.col("n") / F.sum("n").over(Window.partitionBy(w1)), 4).alias("p_next"),
        )
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q81 — key-skew profiler (ops X12): the diagnosis tool behind the q60
# salting decision — per-key counts, heavy-hitter top-k, and each hot key's
# multiple of the mean. Scale: one hash aggregate on the key (map-side
# partial), a 1-row stats aggregate over the AGGREGATED key table broadcast
# back, TakeOrdered for the top-k. The corpus is scanned once.
# --------------------------------------------------------------------------
_Q81_ORACLE = """
WITH per_key AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(sum(n_events) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS n_keys
  FROM per_key
)
SELECT user_id, n_events,
       n_events / total           AS share,
       n_events * n_keys / total  AS x_mean
FROM per_key, s
ORDER BY n_events DESC, user_id
LIMIT 10
"""


@register(
    "q81_key_skew_profile",
    _Q81_ORACLE,
    "heavy-hitter key-skew profiler: per-key hash agg -> 1-row stats broadcast -> TakeOrdered top-k; feeds the q60 salting decision",
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest join/agg keys with their share of all rows and
    multiple of the mean key load — the numbers that decide between a
    plain shuffle join, AQE skew handling, and explicit salting (q60)."""
    per_key = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # integer-derived stats, deterministic op order, and NO rounding: the
    # operands are exact-integer-valued doubles, so both engines compute
    # bit-identical quotients — whereas round() semantics diverge exactly
    # on decimal ties (85*150/10000 = 1.275: Spark's shortest-string
    # HALF_UP says 1.28, DuckDB's binary-value round says 1.27).
    stats = per_key.agg(
        F.sum("n_events").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "user_id", "n_events",
            (F.col("n_events") / F.col("_total")).alias("share"),
            (F.col("n_events") * F.col("_keys") / F.col("_total")).alias("x_mean"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q82 — event transition matrix (behavioral X13): P(next event type | current)
# from per-user event sequences — the Markov-chain view of the event log.
# Scale: the lag window partitions by user_id (bounded state per user, the
# natural key distribution), and the probability window runs over the
# AGGREGATED |types|^2 transition table.
# --------------------------------------------------------------------------
_Q82_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n,
       round(count(*) / sum(count(*)) OVER (PARTITION BY prev_type), 4) AS p
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@register(
    "q82_event_transitions",
    _Q82_ORACLE,
    "Markov transition matrix over per-user event sequences: user-partitioned lag window -> count agg -> probability window on the aggregated table",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition counts and conditional probabilities between event types.
    (ts, event_id) ordering makes the lag deterministic under timestamp
    ties; ts itself never reaches the output, so the query is session-tz
    safe."""
    from pyspark.sql import Window

    seq = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    win = Window.partitionBy("prev_type")
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "prev_type", "next_type", "n",
            F.round(F.col("n") / F.sum("n").over(win), 4).alias("p"),
        )
    )


# --------------------------------------------------------------------------
# q83–q89 — the remaining classic TPC-H join shapes (Q10, Q12, Q13, Q15,
# Q16, Q20, Q21), adapted to the test schema (no partsupp/comment/shipmode/
# commitdate columns). Together with q01/q03/q04/q25/q31/q34/q35/q53/q58/
# q59/q69–q74 this completes the 22-query TPC-H shape sweep. Reference
# parity: the reference has no join surface at all (SURVEY §2.3); these are
# native-engine extensions graded as first-class catalog queries.
# --------------------------------------------------------------------------
@register(
    "q83_returned_item_report",
    """
    SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: top-20 customers by returned-item revenue (fact-fact join + broadcast dims + TakeOrdered)",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both fact filters (order date-range, returnflag='R') push into their
    parquet scans BEFORE the fact-fact join; nation is broadcast; the final
    top-20 is TakeOrderedAndProject (never a full sort). Ties at the limit
    boundary are broken by c_custkey so the result is deterministic in both
    engines."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(dt.datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < _ntz(dt.datetime(1997, 7, 1)))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q84_priority_class_matrix",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q12 shape: join + conditional aggregation (sum-of-CASE) over priority classes",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The date filter pushes into the lineitem scan; orders is projected to
    two columns before the join so the shuffle carries (o_orderkey, priority)
    only; the CASE flags collapse map-side via partial aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(dt.datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < _ntz(dt.datetime(1998, 1, 1)))
    ).select("l_orderkey", "l_returnflag", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q85_order_count_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    "TPC-H Q13 shape: left-outer join with residual predicate + two-level count distribution",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-equi residual (priority <> '1-URGENT') stays a join predicate
    of the outer hash join — NOT a post-filter, which would turn absent
    matches into dropped customers and break outer semantics. count(o_orderkey)
    counts non-null matches only, so customers with zero qualifying orders
    land in the c_count=0 bucket. Two aggregations, each one shuffle; the
    second operates on |customers| rows already reduced to one per key."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_orderpriority") != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q86_top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "TPC-H Q15 shape: per-supplier quarterly revenue, scalar-max subquery selects the top supplier(s)",
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar max is a 1-row aggregate broadcast-cross-joined into the
    per-supplier revenue table — never a global window over a single
    partition (the single-task shape that dies at scale). Revenue is rounded
    to cents BEFORE the max comparison so double summation-order noise
    cannot make the two engines pick different winners."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ntz(dt.datetime(1997, 1, 1)))
            & (F.col("l_shipdate") < _ntz(dt.datetime(1997, 4, 1)))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q87_part_supplier_stats",
    """
    SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape: distinct part-supplier pairs + anti-join exclusion + count-distinct rollup",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem stands in for partsupp (the test schema omits it): distinct
    (partkey, suppkey) pairs reduce the fact before any join. The excluded-
    supplier set (negative balance, Q16's 'complaints' analogue) is a
    broadcast anti-join; part filters push into its scan. countDistinct
    plans as two-phase partial/final — no single-point bottleneck."""
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(list(range(1, 9)))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q88_bulk_shippers",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'hot%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 40
    )
    """,
    "TPC-H Q20 shape: nested semi-join chain — per-(supplier,part) HAVING feeds an IN-subquery",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The p_name prefix filter prunes part before its join (plan-asserted
    pattern, cf. q69); the HAVING runs on the grouped fact — the IN collapses
    to a LeftSemi join on s_suppkey, so the supplier table is never
    multiplied. nation is broadcast."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("hot%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(dt.datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < _ntz(dt.datetime(1998, 1, 1)))
    )
    heavy = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q89_sole_returning_supplier",
    """
    WITH per AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey
    ), ostats AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp, CAST(sum(ret) AS BIGINT) AS n_ret
      FROM per GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per
    JOIN ostats USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE per.ret = 1 AND ostats.n_supp > 1 AND ostats.n_ret = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape: correlated EXISTS/NOT-EXISTS over co-suppliers, decorrelated to per-order aggregates",
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's 'exists another supplier / not exists another late supplier'
    pair (l_returnflag='R' stands in for the missing receipt-vs-commit
    lateness) is decorrelated by hand into per-order aggregates: one
    grouped pass computes each order's supplier count and returning-supplier
    count, and the exists/not-exists becomes (n_supp > 1 AND n_ret = 1) —
    two shuffles on the same l_orderkey key instead of two correlated
    subquery joins that each re-scan lineitem. The finished-orders filter
    pushes into the orders scan before its join."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    per = (
        _t(spark, sf_dir, "lineitem")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret"))
    )
    ostats = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("ret").alias("n_ret")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        per.filter(F.col("ret") == 1)
        .join(ostats.filter((F.col("n_supp") > 1) & (F.col("n_ret") == 1)), "l_orderkey", "left_semi")
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q90–q93 — training-data-pipeline extensions round 3: a deterministic
# distinct-count sketch, an exact-size stratified sample, a z-order
# clustering key (multi-dimensional data-skipping layout), and TF-IDF
# top-terms. All hash-oracle-able: every stochastic-looking step is a pure
# function of row keys via the portable md5 scheme (functions/texthash.py),
# so DuckDB replays the exact computation.
# --------------------------------------------------------------------------

@register(
    "q90_theta_distinct_sketch",
    f"""
    SELECT event_type,
           CAST(count(DISTINCT h) * 4 AS BIGINT) AS est_distinct_users,
           CAST(count(DISTINCT h) AS BIGINT) AS sampled_distinct
    FROM (
      SELECT event_type, {_hex_int_sql("CAST(user_id AS VARCHAR)", 8)} AS h
      FROM events
    )
    WHERE h < {_Q90_THETA}
    GROUP BY event_type
    """,
    "theta-sketch distinct count: fixed-threshold KMV over a portable hash — map-side filter prunes 3/4 of the key space before the shuffle",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate per event type via a θ=1/4 threshold sketch:
    hash every user to 32 bits, keep only hashes below θ·2^32 (a map-side
    filter — at 100 TB this prunes the shuffle to a quarter of the distinct
    keys before any exchange), count the survivors exactly, scale by 1/θ.
    Unlike approx_count_distinct (whose HLL registers are engine-internal
    and not reproducible in an oracle), the sketch is a pure function of the
    data via the portable md5 hash — DuckDB computes the identical estimate,
    collisions and all. Two-phase: distinct (type, h) partials combine
    map-side, the final count is exact over the θ-sample."""
    e = _t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
    return (
        e.select("event_type", h.alias("h"))
        .filter(F.col("h") < _Q90_THETA)
        .groupBy("event_type")
        .agg(F.count_distinct(F.col("h")).alias("sampled_distinct"))
        .select(
            "event_type",
            (F.col("sampled_distinct") * 4).alias("est_distinct_users"),
            "sampled_distinct",
        )
    )


@register(
    "q91_stratified_topn_sample",
    f"""
    SELECT doc_id, lang, rank
    FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)}, doc_id
             ) AS BIGINT) AS rank
      FROM documents
    )
    WHERE rank <= 16
    """,
    "exact-size deterministic stratified sample: n smallest hash values per stratum (complement of q45's rate-based hash sample)",
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum sampling by hash rank: the n documents with the
    smallest (md5-bucket, doc_id) per language. Unlike rate-based sampling
    (q45), the output size is exact; unlike df.sample, membership is a pure
    row-key function — stable across engines, reruns, and partition layouts.
    The window is partitioned by stratum (grouped shuffle, no global sort);
    at scale the rank-filter could be preceded by a per-partition top-n
    combine, which Spark's WindowGroupLimit pushdown already performs for
    row_number <= k predicates."""
    from pyspark.sql.window import Window

    from universal_aws_data_pipeline_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(hash_bucket(F.col("doc_id")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= 16)
    )


def _q92_z_sql() -> str:
    """DuckDB bit-interleave of two 8-bit bucket columns (ub, db)."""
    terms = [f"(((ub >> {i}) & 1) * {4 ** i} + ((db >> {i}) & 1) * {2 * 4 ** i})" for i in range(8)]
    return "(" + " + ".join(terms) + ")"


@register(
    "q92_zorder_cells",
    f"""
    SELECT z_cell, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM (
      SELECT user_id, {_q92_z_sql()} AS z_cell
      FROM (
        SELECT user_id,
               CAST(user_id % 256 AS BIGINT) AS ub,
               CAST(floor(epoch(ts) / 86400) % 256 AS BIGINT) AS db
        FROM events
      )
    )
    GROUP BY z_cell
    """,
    "z-order (Morton) clustering key over (user, day): the multi-dimensional sort key behind data-skipping layouts",
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/z-order cell assignment: interleave the low 8 bits of the user
    bucket and the epoch-day bucket so rows close in BOTH dimensions land in
    the same cell. Production use at 100 TB: repartitionByRange(z) before a
    partitioned write gives files whose min/max stats are tight in user AND
    time simultaneously — parquet row-group skipping then prunes 2-D
    predicates that a single-column sort can only prune in one dimension.
    The query itself audits the layout: per-cell row and user counts. The
    interleave is pure integer bit arithmetic — map-only, codegen'd, and
    bit-identical in the oracle."""
    e = _t(spark, sf_dir, "events")
    ub = (F.col("user_id") % 256).cast("long")
    db = (F.floor(F.unix_timestamp("ts") / 86400) % 256).cast("long")
    z = None
    for i in range(8):
        bit_u = F.shiftright(ub, i).bitwiseAND(F.lit(1)) * F.lit(4**i)
        bit_d = F.shiftright(db, i).bitwiseAND(F.lit(1)) * F.lit(2 * 4**i)
        z = bit_u + bit_d if z is None else z + bit_u + bit_d
    return (
        e.select("user_id", z.alias("z_cell"))
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


@register(
    "q93_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * (n.n_docs + 1) / (df.df + 1.0) AS weight
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, round(weight, 4) AS weight
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY weight DESC, term
      ) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    "TF-IDF top terms per document: tf x inverse-relative-df weighting, top-3 via per-doc window",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document: tf × (N+1)/(df+1) — the log-free
    odds form of TF-IDF. Log-free on purpose: the ranking then involves only
    integer products and one IEEE division (both exactly specified), so both
    engines order candidates bit-identically; ln() comes from each engine's
    libm and a last-ulp divergence could flip near-ties in the top-3 cut.
    Plan: one explode feeds tf (grouped by doc,term) and df (grouped by
    term); df joins back on term — at 100 TB that join is vocabulary-sized
    on one side and AQE broadcasts it; N is a 1-row broadcast; the top-3 is
    a WindowGroupLimit-prunable row_number per doc."""
    from pyspark.sql.window import Window

    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct(F.col("doc_id")).alias("df"))
    n = toks.agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn("weight", F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + F.lit(1.0)))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("weight", 4).alias("weight"))
    )


# --------------------------------------------------------------------------
# q94–q95 — pipeline-operations extensions: budget-constrained data
# selection (the "fill the token budget with the best data" step of a
# training-data pipeline) and a PSI distribution-drift monitor (the
# statistical upgrade of the reference's threshold alarms,
# src/config/sources/sample_source.yaml:100-107).
# --------------------------------------------------------------------------
_Q94_BUDGET = 2000


@register(
    "q94_token_budget_selection",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round((least(1.0, ntok / 100.0) + alpha_ratio
                    + (1.0 - least(1.0, digit_ratio + punct_ratio))
                    + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
                   4) AS quality,
             ntok
      FROM (
        SELECT doc_id, lang, n, ntok,
          (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
          (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
          (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
        FROM (
          SELECT doc_id, lang, text,
                 CAST(length(text) AS DOUBLE) AS n,
                 len(string_split_regex(trim(text), '\\s+')) AS ntok
          FROM documents
        )
      )
    ), cum AS (
      SELECT doc_id, lang, quality, ntok,
             sum(ntok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) - ntok AS cum_before
      FROM scored
    )
    SELECT doc_id, lang, quality, CAST(ntok AS BIGINT) AS n_tokens,
           CAST(cum_before AS BIGINT) AS cum_tokens_before
    FROM cum WHERE cum_before < {_Q94_BUDGET}
    """,
    "budget-constrained selection: best-quality-first per language until the token budget fills — two-phase stratified prefix sum, never a one-task-per-language window",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-descending selection under a per-language token
    budget — the data-selection step between scoring (q14) and shard
    packing (q46). The cumulative sum uses the stratified two-phase prefix
    sum (operators/sampling.py::stratified_prefix_sum): a language that
    dominates the corpus is still split across partitions, unlike the
    Window.partitionBy(lang) spelling the oracle runs, which holds an
    entire language in one task. Quality is pre-rounded to 4dp (q14's
    contract), so cross-engine double noise cannot reorder the greedy fill;
    doc_id breaks ties."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
    from universal_aws_data_pipeline_spark.operators.sampling import stratified_prefix_sum
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    cum = stratified_prefix_sum(
        scored,
        strata_col="lang",
        order_cols=[F.col("quality").desc(), F.col("doc_id")],
        weight_col="n_tokens",
        out_col="cum_tokens_before",
    )
    return cum.filter(F.col("cum_tokens_before") < _Q94_BUDGET).select(
        "doc_id", "lang", "quality", "n_tokens", F.col("cum_tokens_before").cast("long")
    )


_Q95_PIVOT = "2024-01-16 00:00:00"
_Q95_BINS = 10
_Q95_WIDTH = 50.0


@register(
    "q95_psi_drift",
    f"""
    WITH binned AS (
      SELECT event_type,
             least({_Q95_BINS - 1}, greatest(0, CAST(floor(value / {_Q95_WIDTH}) AS BIGINT))) AS bin,
             CASE WHEN ts < TIMESTAMP '{_Q95_PIVOT}' THEN 1 ELSE 0 END AS is_ref
      FROM events
    ), cells AS (
      SELECT event_type, bin,
             sum(is_ref) AS n_ref, sum(1 - is_ref) AS n_cur
      FROM binned GROUP BY event_type, bin
    ), tot AS (
      SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
      FROM cells GROUP BY event_type
    )
    SELECT c.event_type,
           round(sum( ((c.n_ref + 0.5) / (t.t_ref + {0.5 * _Q95_BINS})
                      - (c.n_cur + 0.5) / (t.t_cur + {0.5 * _Q95_BINS}))
                     * ln( ((c.n_ref + 0.5) / (t.t_ref + {0.5 * _Q95_BINS}))
                         / ((c.n_cur + 0.5) / (t.t_cur + {0.5 * _Q95_BINS})) ) ), 4) AS psi,
           CAST(max(t.t_ref) AS BIGINT) AS n_ref,
           CAST(max(t.t_cur) AS BIGINT) AS n_cur
    FROM cells c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    """,
    "PSI distribution-drift monitor per event type: reference-vs-current value histograms in one scan, drift index over the tiny binned table",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half-month of
    each event type's value distribution — the statistical upgrade of the
    reference's scalar threshold alarms. One fact scan: ref/cur histogram
    counts come from conditional aggregation over (type, bin); the PSI sum,
    smoothing, and log-ratios then run on the |types|x|bins| table (tiny).
    Laplace smoothing (+0.5) keeps empty bins finite. ln() only touches
    already-aggregated cells, and the result is rounded to 4dp, so libm
    last-ulp divergence between engines cannot surface. The streaming twin
    (per-micro-batch PSI vs a static reference histogram) is
    operators/drift.py::drift_monitor_batch_fn — same cell formula."""
    from universal_aws_data_pipeline_spark.operators.drift import psi_from_cells

    e = _t(spark, sf_dir, "events")
    binned = e.select(
        "event_type",
        F.least(
            F.lit(_Q95_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / _Q95_WIDTH).cast("long")),
        ).alias("bin"),
        F.when(F.col("ts") < F.lit(_Q95_PIVOT).cast("timestamp_ntz"), 1).otherwise(0).alias("is_ref"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum("is_ref").alias("n_ref"), F.sum(1 - F.col("is_ref")).alias("n_cur")
    )
    return psi_from_cells(cells, "event_type", _Q95_BINS)


# --------------------------------------------------------------------------
# q96 — the composed training-data-prep pipeline, end to end in ONE graded
# query: exact dedup → quality gate → per-language budget selection → shard
# assignment. Each stage is an already-graded operator (q07/q14/q94/q46
# family); this query grades their COMPOSITION — the thing a user actually
# runs — against a single oracle.
# --------------------------------------------------------------------------
_Q96_BUDGET = 1500
_Q96_SHARD = 500


@register(
    "q96_training_prep_pipeline",
    f"""
    WITH dedup AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), scored AS (
      SELECT doc_id, lang,
             round((least(1.0, ntok / 100.0) + alpha_ratio
                    + (1.0 - least(1.0, digit_ratio + punct_ratio))
                    + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
                   4) AS quality,
             ntok
      FROM (
        SELECT doc_id, lang, n, ntok,
          (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
          (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
          (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
        FROM (
          SELECT doc_id, lang, text,
                 CAST(length(text) AS DOUBLE) AS n,
                 len(string_split_regex(trim(text), '\\s+')) AS ntok
          FROM dedup
        )
      )
    ), gated AS (
      SELECT * FROM scored WHERE quality >= 0.4
    ), cum AS (
      SELECT doc_id, lang, quality, ntok,
             sum(ntok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) - ntok AS cum_before
      FROM gated
    )
    SELECT doc_id, lang, quality, CAST(ntok AS BIGINT) AS n_tokens,
           CAST(floor(cum_before / {_Q96_SHARD}) AS BIGINT) AS shard_id
    FROM cum WHERE cum_before < {_Q96_BUDGET}
    """,
    "composed training-data prep: exact dedup -> quality gate -> per-language token-budget selection -> shard assignment, one graded pipeline",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full prep pipeline a training-data user runs, as one plan:
    fingerprint dedup (hash aggregate, q07's operator), quality scoring +
    gate (map-only, q14's), budget selection per language (stratified
    two-phase prefix sum, q94's — never a one-task-per-language window),
    and shard ids derived from the SAME prefix sums (floor(cum/shard) —
    shard packing without a second pass, q46's contract). Stage fusion
    matters at scale: Catalyst pipelines dedup's post-shuffle projection,
    scoring, and the gate into one stage, so the corpus is read once and
    shuffled twice (dedup key, selection order) total."""
    from universal_aws_data_pipeline_spark.functions.texthash import md5_fingerprint
    from universal_aws_data_pipeline_spark.operators.dedup import exact_dedup
    from universal_aws_data_pipeline_spark.operators.sampling import stratified_prefix_sum
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    deduped = exact_dedup(d.withColumn("fp", md5_fingerprint(F.col("text"))), ["fp"], "doc_id")
    scored = deduped.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    ).filter(F.col("quality") >= 0.4)
    cum = stratified_prefix_sum(
        scored,
        strata_col="lang",
        order_cols=[F.col("quality").desc(), F.col("doc_id")],
        weight_col="n_tokens",
        out_col="cum_before",
    )
    return cum.filter(F.col("cum_before") < _Q96_BUDGET).select(
        "doc_id",
        "lang",
        "quality",
        "n_tokens",
        F.floor(F.col("cum_before") / _Q96_SHARD).cast("long").alias("shard_id"),
    )


# --------------------------------------------------------------------------
# q97–q98 — two 100 TB levers graded end-to-end: mergeable-sketch rollups
# (pre-aggregate once, answer many windows) and bucketed co-located joins
# (pay the shuffle once at write time, never at query time).
# --------------------------------------------------------------------------
@register(
    "q97_rolling_distinct_sketch",
    f"""
    WITH sk AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             {_hex_int_sql("CAST(user_id AS VARCHAR)", 8)} AS h
      FROM events
      WHERE {_hex_int_sql("CAST(user_id AS VARCHAR)", 8)} < {_Q90_THETA}
    ), days AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events
    ), expanded AS (
      SELECT sk.day + t.k AS day, sk.h
      FROM sk CROSS JOIN (SELECT unnest(range(7)) AS k) t
    )
    SELECT e.day, CAST(count(DISTINCT e.h) * 4 AS BIGINT) AS est_users_7d
    FROM expanded e JOIN days d ON d.day = e.day
    GROUP BY e.day
    """,
    "mergeable theta-sketch rollup: rolling 7-day distinct users from per-day sketches — the raw data is scanned once, every window is answered from the sketch table",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user estimates, computed the way sketches are
    meant to be used at 100 TB: ONE scan reduces the fact table to per-day
    theta sketches (day, kept-hash) — θ·D rows per day — and every trailing
    window is then answered by MERGING sketches (union of kept hashes =
    distinct over the union of days; θ-sketch merge is exact set union, no
    accuracy loss). The 7-way expansion explodes the tiny sketch table, not
    the events table; an exact rolling count-distinct would instead re-scan
    the raw data once per window (or hold per-day user SETS in a window —
    unbounded state). Same estimator as q90, so the oracle replays it."""
    e = _t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    sk = e.select(day.alias("day"), h.alias("h")).filter(F.col("h") < _Q90_THETA).distinct()
    days = e.select(day.alias("day")).distinct()
    expanded = sk.select(
        "day", "h", F.explode(F.array(*[F.lit(k) for k in range(7)])).alias("_k")
    ).select((F.col("day") + F.col("_k")).alias("day"), "h")
    return (
        expanded.join(days, "day", "left_semi")
        .groupBy("day")
        .agg((F.count_distinct(F.col("h")) * 4).alias("est_users_7d"))
    )


@register(
    "q98_bucketed_colocated_join",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    "bucketed co-located fact-fact join: both tables pre-bucketed on the join key, query-time join is shuffle-free (plan-asserted)",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority over a fact-fact join that never shuffles
    at query time: lineitem and orders are written ONCE as bucketed tables
    (16 buckets on the order key, external under the artifact cache), and
    every subsequent join on that key reads co-located buckets — the
    100 TB answer to repeated fact-fact joins, where the per-query shuffle
    is the dominant cost. Results are layout-invariant, so the oracle is
    the plain join over the original tables; the bucketing win is asserted
    on the PLAN (no Exchange between the scans and the join) in
    test_plans.py."""
    import os

    from universal_aws_data_pipeline_spark.operators.skew import colocated_join, write_bucketed

    root = _artifact_dir("bucketed", sf_dir)
    suffix = os.path.basename(root)
    li_tbl, o_tbl = f"q98_lineitem_{suffix}", f"q98_orders_{suffix}"
    for tbl, src, cols, key in (
        (li_tbl, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey"),
        (o_tbl, "orders", ["o_orderkey", "o_orderpriority"], "o_orderkey"),
    ):
        p = os.path.join(root, tbl)
        if not (spark.catalog.tableExists(tbl) and os.path.exists(p)):
            write_bucketed(
                _t(spark, sf_dir, src).select(*cols), tbl, key, n_buckets=16, path=p
            )
    joined = colocated_join(
        spark, li_tbl, o_tbl, on=None, how="inner",
        left_on="l_orderkey", right_on="o_orderkey",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q99–q100 — rounding out the pipeline-operator set: quality-proportional
# deterministic sampling and time-series densification (gap fill).
# --------------------------------------------------------------------------
@register(
    "q99_weighted_hash_sample",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round((least(1.0, ntok / 100.0) + alpha_ratio
                    + (1.0 - least(1.0, digit_ratio + punct_ratio))
                    + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
                   4) AS quality,
             ({_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)} + 0.5) / 65536.0 AS u
      FROM (
        SELECT doc_id, lang, n, ntok,
          (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
          (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
          (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
        FROM (
          SELECT doc_id, lang, text,
                 CAST(length(text) AS DOUBLE) AS n,
                 len(string_split_regex(trim(text), '\\s+')) AS ntok
          FROM documents
        )
      )
    ), qm AS (
      SELECT lang, max(quality) AS qmax FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality
    FROM scored s JOIN qm USING (lang)
    WHERE s.u < 0.3 * s.quality / qm.qmax
    """,
    "quality-proportional deterministic sampling: inclusion probability scales with the quality score, membership is a pure row-key hash function",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (quality-proportional) sampling without randomness: keep a
    document when its hash-uniform u = (bucket+0.5)/65536 falls below
    0.3 x quality/qmax(lang) — better documents are proportionally more
    likely to survive, membership is reproducible across engines/layouts/
    reruns (same property as q45's uniform sampler), and every comparison
    uses only exactly-specified IEEE ops (mul/div/compare — no pow/ln, so
    no libm divergence at the cut boundary). qmax is a per-language 1-row
    aggregate, broadcast back; the filter itself is map-side."""
    from universal_aws_data_pipeline_spark.operators.sampling import hash_bucket
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        ((hash_bucket(F.col("doc_id")) + 0.5) / 65536.0).alias("u"),
    )
    qm = scored.groupBy("lang").agg(F.max("quality").alias("qmax"))
    return (
        scored.join(F.broadcast(qm), "lang")
        .filter(F.col("u") < 0.3 * F.col("quality") / F.col("qmax"))
        .select("doc_id", "lang", "quality")
    )


@register(
    "q100_timeseries_gapfill",
    """
    WITH daily AS (
      SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY user_id, day
    ), bounds AS (
      SELECT user_id, min(day) AS mn, max(day) AS mx FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(mn, mx + 1)) AS day FROM bounds
    ), joined AS (
      SELECT g.user_id, g.day, d.v
      FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    )
    SELECT user_id, day,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_filled,
           v IS NULL AS is_gap
    FROM joined
    """,
    "time-series densification: per-user daily grid via sequence + forward fill (last ignore-nulls frame) — gap-free series for downstream windows",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily value series to a gap-free calendar and
    forward-fill missing days — the preprocessing step rolling windows and
    change detection assume. The grid comes from sequence(min_day, max_day)
    exploded per user (bounded by each user's own span, never a global
    calendar cross join); the fill is last(ignorenulls) over a
    user-partitioned frame — per-user state only. Cell sums are rounded
    BEFORE the fill so both engines propagate identical values."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    daily = e.groupBy(F.col("user_id"), day.alias("day")).agg(F.round(F.sum("value"), 2).alias("v"))
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    grid = bounds.select("user_id", F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day"))
    joined = grid.join(daily, ["user_id", "day"], "left_outer")
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "user_id",
        "day",
        F.round(F.last("v", ignorenulls=True).over(w), 2).alias("value_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


