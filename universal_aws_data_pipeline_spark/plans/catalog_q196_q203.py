"""Catalog chunk: q196–q203 (round-8 additions).

Each closes a family gap surfaced by the round-7 audit: q196 adds the
winsorized mean to the robust family (the outlier-hardened KPI the exact
percentiles q48/q135 feed), q197 adds bounded symmetric Jensen–Shannon
drift to the monitoring family (PSI q95/q170 is unbounded and bin-fragile),
q198 adds tokenizer-fit (OOV) accounting to the text family, q199 closes
the split family's leakage hole (per-row splits let near-dup clusters
straddle train/test), q200 is the efficiency audit of the q131 packing
layout, q201 turns the co-purchase graph into item-item recommendations
(cosine² in exact integers), q202 adds purchase-cadence rollups to the
segmentation family, and q203 attributes near-duplication across SOURCES
(which feeds crawl-dedup priorities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    _NORM_SQL,
    _Q15_ORACLE,
    _copurchase_edges,
    _neardup_pairs,
    _hex_int_sql,
    _t,
    register,
)
from universal_aws_data_pipeline_spark.plans.catalog_q101_q150 import (
    _Q131_SEQ_LEN,
    _Q131_SHARDS,
)

# --------------------------------------------------------------------------
# q196 — winsorized mean revenue per return flag (robust family). Operators:
# operators/robust.py::winsorized_mean_milli — tie-inclusive value-cutoff
# trim at the exact order statistics ceil(.1 n)/ceil(.9 n), built on the
# q135-stressed per-group histogram-cutoff device (never a per-group row
# window). Oracle states the row_number form: value at rank k == min value
# whose cumulative count reaches k, so both spellings select identically.
# --------------------------------------------------------------------------
@register(
    "q196_winsorized_revenue",
    """
    WITH v AS (
      SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ), t AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g
    ), r AS (
      SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS i FROM v
    ), cut AS (
      SELECT r.g,
             min(CASE WHEN i >= CAST(ceil(0.1 * n) AS BIGINT) THEN x END) AS lo,
             min(CASE WHEN i >= CAST(ceil(0.9 * n) AS BIGINT) THEN x END) AS hi
      FROM r JOIN t USING (g) GROUP BY r.g
    )
    SELECT v.g AS l_returnflag, t.n,
           CAST(cut.lo AS BIGINT) AS lo, CAST(cut.hi AS BIGINT) AS hi,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST((1000 * sum(x)) // count(*) AS BIGINT) AS wmean_milli
    FROM v JOIN cut ON v.g = cut.g JOIN t ON v.g = t.g
    WHERE x >= cut.lo AND x <= cut.hi
    GROUP BY v.g, t.n, cut.lo, cut.hi
    """,
    "per-flag winsorized mean of extended price cents (10% tails trimmed at exact order statistics): the outlier-hardened revenue KPI, histogram-cutoff device, no per-group row window (robust family)",
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does a typical line item bring in, once the 10% tails stop
    dragging the mean? operators/robust.py::winsorized_mean_milli."""
    from universal_aws_data_pipeline_spark.operators.robust import (
        winsorized_mean_milli,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return winsorized_mean_milli(li, "l_returnflag", "cents", fraction=0.1)


# --------------------------------------------------------------------------
# q197 — weekly event-mix Jensen–Shannon drift (monitoring family).
# Operators: operators/trend.py::js_divergence — bounded (≤ ln 2) symmetric
# drift of each week's event-type distribution vs the global mix, zero
# cells included (missing mass IS drift). Float ln under the q156 source-KL
# round(4) discipline; everything else is exact integer counts.
# Scale: one map-side-combined rollup to |weeks × types| cells; the grid
# join is bounded × bounded.
# --------------------------------------------------------------------------
@register(
    "q197_weekly_js_drift",
    """
    WITH e AS (
      SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week, event_type AS t
      FROM events
    ), cells AS (
      SELECT week, t, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY week, t
    ), g AS (
      SELECT t, CAST(count(*) AS BIGINT) AS gc FROM e GROUP BY t
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS na FROM e
    ), pw AS (
      SELECT week, CAST(sum(c) AS BIGINT) AS n_events FROM cells GROUP BY week
    ), grid AS (
      SELECT pw.week, pw.n_events, g.t, g.gc, CAST(coalesce(cells.c, 0) AS BIGINT) AS c
      FROM pw CROSS JOIN g
      LEFT JOIN cells ON cells.week = pw.week AND cells.t = g.t
    ), terms AS (
      SELECT week, n_events,
             CASE WHEN c > 0
                  THEN (c * 1.0 / n_events)
                       * ln((c * 1.0 / n_events)
                            / (((c * 1.0 / n_events) + (gc * 1.0 / na)) / 2)) / 2
                  ELSE 0 END
             + (gc * 1.0 / na)
               * ln((gc * 1.0 / na)
                    / (((c * 1.0 / n_events) + (gc * 1.0 / na)) / 2)) / 2 AS term
      FROM grid, tot
    )
    SELECT week, n_events, round(sum(term), 4) AS js_nats
    FROM terms GROUP BY week, n_events
    """,
    "weekly Jensen-Shannon divergence of the event-type mix vs the global distribution: bounded symmetric drift monitoring with zero cells counted, complements PSI (monitoring family)",
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which weeks' event mix drifted hardest from the corpus norm?
    operators/trend.py::js_divergence."""
    from universal_aws_data_pipeline_spark.operators.trend import js_divergence

    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
        "event_type",
    )
    return js_divergence(ev, "week", "event_type")


# --------------------------------------------------------------------------
# q198 — per-language OOV rate vs the corpus top-500 vocabulary (text
# family). Operators: operators/text.py::oov_rate — the tokenizer-fit
# signal per slice; vocab ties break on token text so both engines derive
# the identical vocabulary. Scale: one token explode (the stressed
# q103/q113 family) + bounded vocab top-k via TakeOrderedAndProject +
# broadcast join back; |langs|-row output.
# --------------------------------------------------------------------------
@register(
    "q198_oov_rate",
    f"""
    WITH tok AS (
      SELECT lang, t FROM (
        SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS t FROM documents
      ) WHERE t <> ''
    ), vc AS (
      SELECT t FROM (
        SELECT t, count(*) AS c FROM tok GROUP BY t
      ) ORDER BY c DESC, t LIMIT 500
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vc.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST((1000000 * sum(CASE WHEN vc.t IS NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS oov_micro
    FROM tok LEFT JOIN vc ON tok.t = vc.t
    GROUP BY lang
    """,
    "per-language out-of-vocabulary rate against the corpus's own top-500 token vocabulary: the tokenizer-fit / bytes-per-token risk signal per slice (text family)",
)
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which language slices will fragment under a shared vocabulary?
    operators/text.py::oov_rate."""
    from universal_aws_data_pipeline_spark.operators.text import oov_rate

    d = _t(spark, sf_dir, "documents")
    return oov_rate(d, "lang", "text", vocab_size=500)


# --------------------------------------------------------------------------
# q199 — cluster-safe train/val/test split (split + dedup families).
# Operators: operators/sampling.py::group_safe_split over q43's near-dup
# cluster labels — rows are split by the md5 bucket of their CLUSTER (not
# their doc id), so a duplicate group can never straddle train/test: the
# leakage hole a per-row split (q67/q182) cannot close. Unclustered docs
# are their own group.
# Scale: composes the stressed q15 pair artifact + q43 CC closure; the
# split itself is one group-size rollup + a map-side bucket expression.
# --------------------------------------------------------------------------
@register(
    "q199_cluster_safe_split",
    f"""
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
    comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    g AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ),
    sz AS (SELECT grp, count(*) AS gsz FROM g GROUP BY grp),
    asg AS (
      SELECT g.doc_id, g.grp, sz.gsz,
             CASE WHEN {_hex_int_sql("CAST(g.grp AS VARCHAR)", 4)} % 100 < 80 THEN 'train'
                  WHEN {_hex_int_sql("CAST(g.grp AS VARCHAR)", 4)} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM g JOIN sz USING (grp)
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_rows
    FROM asg GROUP BY split
    """,
    "leakage-free split audit: train/val/test assignment by near-dup CLUSTER hash (never per-row), so duplicate groups cannot straddle the eval boundary (split + dedup families)",
)
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Could a near-duplicate of an eval document hide in the training
    split? Not under a by-cluster assignment.
    operators/sampling.py::group_safe_split over q43's cluster labels —
    read from the shared per-dataset cluster-table artifact (round 14,
    VERDICT r13 item 2 GRANT; the closure ran per query here, the fifth
    consumer of identical labels)."""
    from universal_aws_data_pipeline_spark.operators.sampling import group_safe_split
    from universal_aws_data_pipeline_spark.plans._shared import _neardup_cluster_labels

    labels = _neardup_cluster_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    d = _t(spark, sf_dir, "documents").select("doc_id")
    g = d.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("grp")
    )
    return group_safe_split(g, "doc_id", "grp")


# --------------------------------------------------------------------------
# q200 — packing-efficiency audit (packing family). Operators:
# operators/packing.py::packing_audit over the q131 pack_sequences layout
# (identical seq_len/shards): per-shard fill ratio, padding waste, and
# boundary-fragmented doc count — the report published next to a packed
# corpus. Scale: one |shards|-row map-side-combinable agg on top of the
# packing's own (already stressed) prefix-sum shuffle.
# --------------------------------------------------------------------------
@register(
    "q200_packing_audit",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens,
             {_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)} % {_Q131_SHARDS} AS shard
      FROM documents
    ), o AS (
      SELECT shard, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      FROM t WHERE n_tokens > 0
    ), p AS (
      SELECT CAST(shard AS BIGINT) AS shard, n_tokens,
             tok_offset // {_Q131_SEQ_LEN} AS first_seq,
             (tok_offset + n_tokens - 1) // {_Q131_SEQ_LEN} AS last_seq
      FROM o
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
           CAST((max(last_seq) + 1) * {_Q131_SEQ_LEN} - sum(n_tokens) AS BIGINT) AS waste_tokens,
           CAST((1000000 * sum(n_tokens)) // ((max(last_seq) + 1) * {_Q131_SEQ_LEN}) AS BIGINT) AS fill_micro,
           CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT) AS frag_docs
    FROM p GROUP BY shard
    """,
    "per-shard packing-efficiency audit of the q131 concat-and-chunk layout: fill ratio, padding waste, boundary-fragmented docs — the packed-corpus QA report (packing family)",
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How full are the training sequences, and how many documents lose
    context at a cut? operators/packing.py::packing_audit over the q131
    layout."""
    from universal_aws_data_pipeline_spark.operators.packing import (
        pack_sequences,
        packing_audit,
    )
    from universal_aws_data_pipeline_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    packed = pack_sequences(
        d, "doc_id", "n_toks", seq_len=_Q131_SEQ_LEN, n_shards=_Q131_SHARDS
    )
    return packing_audit(packed, seq_len=_Q131_SEQ_LEN)


# --------------------------------------------------------------------------
# q201 — item-item co-purchase recommendations (graph + similarity
# families). Cosine² similarity in exact integers over the shared
# support≥2 co-purchase edge artifact: cos²(a,b) = support² / (deg_a·deg_b)
# in micro-units (floor div — portable), top-3 neighbors per item. The
# window partitions by ITEM (parallelism scales with the catalog) and the
# row_number ≤ 3 predicate takes Spark's WindowGroupLimit pushdown.
# --------------------------------------------------------------------------
@register(
    "q201_copurchase_recs",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), deg AS (
      SELECT p, CAST(count(*) AS BIGINT) AS d FROM op GROUP BY p
    ), e AS (
      SELECT a.p AS x, b.p AS y, CAST(count(*) AS BIGINT) AS c
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    ), sym AS (
      SELECT x, y, c FROM e UNION ALL SELECT y, x, c FROM e
    ), s AS (
      SELECT sym.x AS item, sym.y AS nbr, c AS support,
             CAST((1000000 * c * c) // (da.d * db.d) AS BIGINT) AS cos2_micro
      FROM sym JOIN deg da ON sym.x = da.p JOIN deg db ON sym.y = db.p
    ), r AS (
      SELECT item, nbr, support, cos2_micro,
             CAST(row_number() OVER (
               PARTITION BY item ORDER BY cos2_micro DESC, nbr) AS BIGINT) AS rnk
      FROM s
    )
    SELECT item, nbr, support, cos2_micro, rnk FROM r WHERE rnk <= 3
    """,
    "item-item recommendations from the co-purchase graph: exact integer cosine-squared similarity, top-3 neighbors per item via a per-item window (graph + similarity families)",
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which parts should the catalog page suggest next to this one?
    Cosine² over plans/_shared.py::_copurchase_edges + degree rollup."""
    from pyspark.sql.window import Window

    edges = _copurchase_edges(spark, sf_dir)
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = li.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    sym = edges.select(
        F.col("a").alias("item"), F.col("b").alias("nbr"), F.col("support")
    ).unionByName(
        edges.select(
            F.col("b").alias("item"), F.col("a").alias("nbr"), F.col("support")
        )
    )
    s = (
        sym.join(deg.select(F.col("p").alias("item"), F.col("d").alias("da")), "item")
        .join(deg.select(F.col("p").alias("nbr"), F.col("d").alias("db")), "nbr")
        .select(
            "item",
            "nbr",
            F.col("support").cast("long"),
            F.expr("(1000000 * support * support) div (da * db)").alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cos2_micro").desc(), F.col("nbr"))
    return (
        s.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("item", "nbr", "support", "cos2_micro", "rnk")
    )


# --------------------------------------------------------------------------
# q202 — purchase-cadence rollup per market segment (segmentation family).
# Inter-order gaps per customer (lag window PARTITIONED BY customer —
# parallelism scales with |customers|, total order via (date, orderkey)
# because fixture dates are not unique per customer), rolled up to |segment|
# rows in exact integer days/milli-days. Day indexes come from pure DATE
# arithmetic (datediff vs the epoch date) — no epoch()/tz conversion, so
# session-timezone changes cannot shift a boundary.
# --------------------------------------------------------------------------
@register(
    "q202_order_cadence",
    """
    WITH d AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
             CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             o.o_orderkey AS ok
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
      SELECT seg, cust,
             day - lag(day) OVER (PARTITION BY cust ORDER BY day, ok) AS gap
      FROM d
    )
    SELECT seg AS c_mktsegment,
           CAST(count(DISTINCT cust) AS BIGINT) AS n_repeat_customers,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST((1000 * sum(gap)) // count(*) AS BIGINT) AS mean_gap_milli_days,
           CAST(max(gap) AS BIGINT) AS max_gap_days
    FROM g WHERE gap IS NOT NULL
    GROUP BY seg
    """,
    "inter-order cadence per market segment: per-customer lag gaps (windows keyed by customer — parallel) rolled up to exact integer day statistics (segmentation family)",
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How often do customers in each segment come back?
    Per-customer lag window + |segments|-row rollup."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    d = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.col("o_orderkey").alias("ok"),
    )
    w = Window.partitionBy("cust").orderBy("day", "ok")
    g = d.select(
        "seg", "cust", (F.col("day") - F.lag("day").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("seg").agg(
        F.countDistinct("cust").cast("long").alias("n_repeat_customers"),
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.expr("(1000 * sum(gap)) div count(1)").alias("mean_gap_milli_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
    ).withColumnRenamed("seg", "c_mktsegment")


# --------------------------------------------------------------------------
# q203 — cross-source near-duplication matrix (dedup family). Which sources
# copy from which: q15's near-dup pairs joined to their documents' sources,
# source pair ordered (least, greatest) so within-source duplication lands
# on the diagonal. Feeds crawl-dedup priorities (a source pair with heavy
# overlap gets one crawler, not two).
# Scale: composes the stressed q15 pair artifact; two equi-joins to the
# documents table + one |sources|²-bounded rollup.
# --------------------------------------------------------------------------
@register(
    "q203_source_dup_matrix",
    f"""
    WITH pairs AS ({_Q15_ORACLE})
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON pairs.id_a = da.doc_id
    JOIN documents db ON pairs.id_b = db.doc_id
    GROUP BY least(da.source, db.source), greatest(da.source, db.source)
    """,
    "cross-source near-duplication matrix: q15 pair graph attributed to (source, source) cells — which sources copy from which, the crawl-dedup priority signal (dedup family)",
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source pairs share near-duplicate content?
    q15 pairs × documents source attribution."""
    pairs = _neardup_pairs(spark, sf_dir).select("id_a", "id_b")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .select(
            F.least("sa", "sb").alias("src_a"), F.greatest("sa", "sb").alias("src_b")
        )
    )
    return j.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
