"""Catalog chunk: q01–q50 (TPC-H shapes, transforms, quality, core LLM ops).

Mechanically split from the former single-file catalog (round 7); the
assembler in ``plans/catalog.py`` imports every chunk and enforces the
pinned registration order, so query placement here never changes the
driver's graded window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.config.model import QualityCheck, SchemaConfig, TransformationSpec
from universal_aws_data_pipeline_spark.operators.quality import quality_check_df
from universal_aws_data_pipeline_spark.operators.transform import transform_chain
from universal_aws_data_pipeline_spark.plans._shared import (
    QUERIES,
    register,
    _t,
    _artifact_dir,
    _q15_corpus,
    _ntz,
    _LANG_MARKER_SQL,
    _NORM_SQL,
    _mh_sql,
    _Q15_ORACLE,
    _cos_sql,
    _BUCKET_SQL,
)


# --------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): scan+filter+groupBy+multi-agg.
# Operators: S3 parquet scan, P4-ish filter, A1 aggregates, F2-F4 casts.
# Scale: partial aggregation over 4 groups — shuffle carries 4 rows/partition.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                     AS sum_qty,
           round(sum(l_extendedprice), 2)                                AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)             AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                     AS avg_qty,
           round(avg(l_extendedprice), 4)                                AS avg_price,
           round(avg(l_discount), 4)                                     AS avg_disc,
           count(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-shaped pricing summary over lineitem",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= _ntz(dt.datetime(1998, 9, 1)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — projection/filter/scalar functions (P1/P7, F2-F5, F10).
# Scale: map-only; filter + projection push into the parquet scan.
# --------------------------------------------------------------------------
@register(
    "q02_segment_projection",
    """
    SELECT c_custkey AS customer_id,
           upper(trim(c_name)) AS name,
           round(c_acctbal, 2) AS acctbal,
           c_mktsegment AS segment
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL AND c_acctbal > 100.0
    """,
    "projection + predicate + string/cast scalar functions over customer",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_mktsegment") == "BUILDING") & F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 100.0))
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.upper(F.trim(F.col("c_name"))).alias("name"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
    )


# --------------------------------------------------------------------------
# q03 — top-k revenue orders (TPC-H Q3 shape): 3-way join + agg + sort/limit.
# Scale: customer (even filtered to one segment) scales with SF, so no forced
# broadcast — AQE picks broadcast at small SF and shuffle join at large.
# lineitem⋈orders is the one unavoidable shuffle. Top-k via orderBy+limit =
# TakeOrderedAndProject (no full sort materialization).
# --------------------------------------------------------------------------
@register(
    "q03_topk_unshipped",
    """
    SELECT o.o_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    "3-way join + group + top-k (TPC-H Q3 shape)",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = dt.datetime(1998, 3, 15)
    return (
        li.filter(F.col("l_shipdate") > _ntz(cutoff))
        .join(o.filter(F.col("o_orderdate") < _ntz(cutoff)), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.filter(F.col("c_mktsegment") == "BUILDING"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("revenue"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — regional revenue (TPC-H Q5 shape): 6-way star join + agg.
# Scale: only the FIXED-size dims (region: 5 rows, nation: 25) carry broadcast
# hints — a hint forces the build side regardless of runtime stats, so putting
# one on a scaling table (customer/supplier: SF-proportional, ~15B customer
# rows at 100 TB) would OOM executors at large SF. Customer/supplier joins are
# left to AQE: broadcast at small SF, shuffle join beyond the threshold.
# --------------------------------------------------------------------------
@register(
    "q04_region_revenue",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
      JOIN nation n    ON c.c_nationkey = n.n_nationkey
      JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    "6-way star join + regional aggregate (TPC-H Q5 shape)",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    s, n, r = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    o = o.filter(
        (F.col("o_orderdate") >= _ntz(dt.datetime(1996, 1, 1))) & (F.col("o_orderdate") < _ntz(dt.datetime(1997, 1, 1)))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(F.col("n_name").alias("nation"), F.col("revenue"))
    )


# --------------------------------------------------------------------------
# q05 — the reference's whole transform chain as one query (its entire Glue
# job: mapping → casts/trim/upper → required-filter → metadata → partition
# derivation), with injected clock for determinism. transform_data.py:206-212.
# --------------------------------------------------------------------------
@register(
    "q05_transform_chain",
    """
    SELECT c_custkey AS customer_id,
           upper(trim(c_name)) AS name,
           CAST(c_nationkey AS INTEGER) AS nation_key,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           'customer_src' AS source_name,
           '2026-01-01 00:00:00' AS processed_at,
           CAST(2026 AS INTEGER) AS year, CAST(1 AS INTEGER) AS month, CAST(15 AS INTEGER) AS day
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
    """,
    "config-driven ETL transform chain (reference transform_data.py parity)",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    schema = SchemaConfig(
        mapping={
            "customer_id": "c_custkey",
            "name": "c_name",
            "nation_key": "c_nationkey",
            "acctbal": "c_acctbal",
        },
        required=["customer_id", "name"],
        transformations=[
            TransformationSpec(field="name", type="trim"),
            TransformationSpec(field="name", type="upper"),
            TransformationSpec(field="nation_key", type="integer"),
            TransformationSpec(field="acctbal", type="double"),
        ],
    )
    out = transform_chain(
        c,
        schema,
        source_name="customer_src",
        processed_at=dt.datetime(2026, 1, 1),
        fallback_date=dt.date(2026, 1, 15),
    )
    # stringify the timestamp for a tz-stable compare
    return out.withColumn("processed_at", F.date_format("processed_timestamp", "yyyy-MM-dd HH:mm:ss")).drop(
        "processed_timestamp"
    )


# --------------------------------------------------------------------------
# q06 — quality-check engine (the reference's declared-but-dead config
# surface, sample_source.yaml:85-95, made real). One scan, all checks.
# --------------------------------------------------------------------------
@register(
    "q06_quality_checks",
    """
    SELECT 'not_null(c_name)' AS check, CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) = 0 AS passed FROM customer
    UNION ALL
    SELECT 'unique(c_custkey)', CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT),
           count(c_custkey) = count(DISTINCT c_custkey) FROM customer
    UNION ALL
    SELECT 'regex(c_mktsegment)', CAST(sum(CASE WHEN NOT coalesce(regexp_matches(c_mktsegment, '^[A-Z]+$'), FALSE) THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN NOT coalesce(regexp_matches(c_mktsegment, '^[A-Z]+$'), FALSE) THEN 1 ELSE 0 END) = 0 FROM customer
    """,
    "not_null/unique/regex quality checks in one aggregation pass",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    checks = [
        QualityCheck(type="not_null", columns=["c_name"]),
        QualityCheck(type="unique", columns=["c_custkey"]),
        QualityCheck(type="regex", columns=["c_mktsegment"], pattern="^[A-Z]+$"),
    ]
    return quality_check_df(c, checks)


# --------------------------------------------------------------------------
# q07 — exact dedup, keep-first (X1): group-by-content min-key.
# Scale: hash-shuffle on the dedup key with map-side partial min — at 100 TB
# prefer this over Window(row_number) which must sort each group.
# --------------------------------------------------------------------------
@register(
    "q07_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count, CAST(min(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY text
    """,
    "exact dedup keep-first over documents (X1)",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.min("n_chars").cast("long").alias("n_chars"),
    ).drop("text")


# --------------------------------------------------------------------------
# q08 — text token stats (X4): tokenization + length metrics, map-only.
# --------------------------------------------------------------------------
@register(
    "q08_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS text_len,
           lang
    FROM documents
    """,
    "whitespace token counting + length metrics over documents (X4)",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("text_len"),
        "lang",
    )


# --------------------------------------------------------------------------
# q09 — per-language corpus stats (X4): groupBy + avg/sum over derived cols.
# --------------------------------------------------------------------------
@register(
    "q09_lang_profile",
    r"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
    "per-language corpus profile (X4)",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")).alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# q10 — JSON extraction (F11 get_json_object parity) + agg on events.
# --------------------------------------------------------------------------
@register(
    "q10_events_json",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_total,
           round(sum(value), 2) AS value_total,
           count(*) AS n
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    "dot-path JSON extraction from event payloads + aggregate (F11)",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("int")).alias("k_total"),
            F.round(F.sum("value"), 2).alias("value_total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q11 — partition-column derivation (P6): year/month/day from a date column.
# --------------------------------------------------------------------------
@register(
    "q11_partition_derive",
    """
    SELECT o_orderkey AS orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS year,
           CAST(month(o_orderdate) AS INTEGER) AS month,
           CAST(day(o_orderdate) AS INTEGER) AS day
    FROM orders
    """,
    "year/month/day partition derivation (transform_data.py:113-150 parity)",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        F.dayofmonth("o_orderdate").alias("day"),
    )


# --------------------------------------------------------------------------
# q12 — page union with schema drift (S5-S7 page accumulation semantics):
# unionByName(allowMissingColumns=True), missing columns null-filled.
# --------------------------------------------------------------------------
@register(
    "q12_union_schema_drift",
    """
    SELECT o_orderkey AS orderkey, o_orderstatus AS status, o_totalprice AS totalprice
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'O'
    """,
    "union of drifted page schemas, null-filled (API pagination semantics)",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    page1 = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    page2 = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("orderkey"), F.col("o_orderstatus").alias("status")
    )
    return page1.unionByName(page2, allowMissingColumns=True)


# --------------------------------------------------------------------------
# q13 — windowed dedup keep-latest (X1 variant; §2.5 window surface):
# row_number over (user, ts desc) — streaming-dedup's batch twin.
# --------------------------------------------------------------------------
@register(
    "q13_window_keep_latest",
    """
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    "keep latest event per user via ranking window (X1/window surface)",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# ==========================================================================
# Extension-operator queries (SURVEY §2.11, driver-mandated LLM-pipeline ops)
# ==========================================================================

_Q14_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_NORM_SQL} AS norm,
         CAST(length(text) AS DOUBLE) AS n,
         len(string_split_regex(trim(text), '\\s+')) AS ntok
  FROM documents
), cls AS (
  SELECT doc_id, text, norm, n, ntok,
    (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
    (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
    (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len,
    string_split(norm, ' ') AS toks
  FROM base
), scores AS (
  SELECT *,
    {", ".join(f"len(list_filter(toks, x -> list_contains({m}, x))) AS s_{lang}"
               for lang, m in _LANG_MARKER_SQL.items())}
  FROM cls
)
SELECT doc_id,
  CAST(ntok AS BIGINT) AS n_tokens,
  CAST(n AS BIGINT) AS n_chars,
  round(alpha_ratio, 4) AS alpha_ratio,
  round(punct_ratio, 4) AS punct_ratio,
  round((least(1.0, ntok / 100.0) + alpha_ratio
         + (1.0 - least(1.0, digit_ratio + punct_ratio))
         + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
        4) AS quality,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 1 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_guess,
  md5(norm) AS fingerprint
FROM scores
"""


@register(
    "q14_text_profile",
    _Q14_ORACLE,
    "full text-analysis profile: tokens, char classes, quality, lang-id, fingerprint (X4)",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from universal_aws_data_pipeline_spark.operators.text import profile_documents

    return profile_documents(_t(spark, sf_dir, "documents"))



@register(
    "q15_neardup_minhash_lsh",
    _Q15_ORACLE,
    "MinHash-LSH near-dup pairs + exact Jaccard verify over documents ∪ tail-mutated copies (X2)",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus = documents plus a copy with the last word dropped (synthetic
    near-dups — the fixture has no natural ones). The engine path is the real
    operator: signatures → band explode → band-hash equi-join → Jaccard verify.
    No cross-join at any scale; candidate cardinality is bounded by bucket
    sizes, and AQE splits skewed (boilerplate) buckets.

    The (id, shingles) table is a build-once artifact shared across calls
    (the corpus-index shape, ``_shared.py::_q15_corpus``): the first call
    pays the text pass exactly once, and every later call starts from the
    stored shingles."""
    from universal_aws_data_pipeline_spark.operators.dedup import neardup_pairs_jaccard

    corpus, shingled = _q15_corpus(spark, sf_dir)
    return neardup_pairs_jaccard(
        corpus, threshold=0.5, num_hashes=8, bands=2, shingle_n=3, shingled=shingled
    )


def _simhash_oracle() -> str:
    terms = []
    for p in range(8):
        for j in range(4):
            k = p * 4 + j
            terms.append(
                f"sum(((strpos('0123456789abcdef', substring(h8,{p + 1},1))-1) "
                f"// {2 ** (3 - j)} % 2) * 2 - 1) AS s{k}"
            )
    bit_chars = ", ".join(f"CASE WHEN s{k} >= 0 THEN '1' ELSE '0' END" for k in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), h AS (SELECT doc_id, substring(md5(tok), 1, 8) AS h8 FROM toks),
agg AS (SELECT doc_id, {", ".join(terms)} FROM h GROUP BY doc_id)
SELECT doc_id, concat({bit_chars}) AS simhash FROM agg
"""


@register(
    "q16_simhash",
    _simhash_oracle(),
    "32-bit SimHash fingerprint per document (X2) — portable md5 bit arithmetic",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from universal_aws_data_pipeline_spark.operators.dedup import simhash32

    return simhash32(_t(spark, sf_dir, "documents"))


@register(
    "q17_cosine_topk",
    f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_cos_sql("e.embedding", "qv.q")}, 6) AS cos_sim
    FROM embeddings e, qv
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    "exact brute-force cosine top-k against one query vector (X3 baseline)",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query = embedding of vec_id 0 (single-row driver lookup). The scan side
    is map-only + TakeOrderedAndProject: at 100 TB a single query is one pass,
    k rows per task to the driver merge — no shuffle."""
    from universal_aws_data_pipeline_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return cosine_topk(e, qvec, k=10, id_col="vec_id")


@register(
    "q18_cosine_pairs_blocked",
    f"""
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.3
    """,
    "embedding near-dup pairs within a blocking key — equi-join, no cross-join (X3/X2)",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from universal_aws_data_pipeline_spark.operators.similarity import cosine_pairs_blocked

    e = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_blocked(e, block_col="label", threshold=0.3, id_col="vec_id")


@register(
    "q19_multimodal_features",
    """
    WITH b AS (SELECT doc_id, text, length(text) AS nb FROM documents)
    SELECT doc_id, 'image' AS modality, CAST(nb AS BIGINT) AS n_bytes,
      round(CAST(list_sum(list_transform(range(1, nb + 1), i -> ascii(substring(text, i, 1)))) AS DOUBLE) / nb, 6) AS f_mean,
      CAST(list_min(list_transform(range(1, nb + 1), i -> ascii(substring(text, i, 1)))) AS DOUBLE) AS f_min,
      CAST(list_max(list_transform(range(1, nb + 1), i -> ascii(substring(text, i, 1)))) AS DOUBLE) AS f_max,
      CAST(nb AS DOUBLE) AS f_len
    FROM b
    """,
    "multimodal binary-column plumbing: payload + metadata + mapInPandas feature extraction (X5)",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads = utf-8 bytes of text (documents are pure ASCII, so the
    byte-statistics stub decoder is oracle-checkable via ascii()). The
    distributed plumbing — Arrow batches through mapInPandas with an explicit
    schema — is the real deliverable; swap the stub for PIL/ffmpeg decode."""
    from universal_aws_data_pipeline_spark.operators.multimodal import attach_binary_payload, decode_image_features

    d = _t(spark, sf_dir, "documents")
    feats = decode_image_features(attach_binary_payload(d))
    return feats.select(
        "doc_id",
        "modality",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f_mean"),
        F.element_at("features", 2).alias("f_min"),
        F.element_at("features", 3).alias("f_max"),
        F.element_at("features", 4).alias("f_len"),
    )


@register(
    "q20_lsh_topk",
    None,  # hash planes are engine-specific → rows-only check
    "approximate top-k neighbors via BucketedRandomProjectionLSH (X3 scale path)",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from universal_aws_data_pipeline_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return lsh_topk(e, qvec, k=10, id_col="vec_id")


# ==========================================================================
# Join-type / grouping coverage (SURVEY §2.3-§2.6 native surface)
# ==========================================================================


@register(
    "q21_semi_join",
    """
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > TIMESTAMP '1996-02-01 00:00:00')
    GROUP BY priority
    """,
    "left-semi join (EXISTS) + aggregate, TPC-H Q4 shape",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = o.filter(
        (F.col("o_orderdate") >= _ntz(dt.datetime(1996, 1, 1))) & (F.col("o_orderdate") < _ntz(dt.datetime(1996, 4, 1)))
    )
    shipped = li.filter(F.col("l_shipdate") > _ntz(dt.datetime(1996, 2, 1)))
    return (
        o.join(shipped, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q22_anti_join",
    """
    SELECT c.c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY segment
    """,
    "left-anti join (NOT EXISTS) + aggregate — customers with no orders",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q23_rollup",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS year,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (nation, year)
    """,
    "hierarchical rollup totals (nation → year → grand total)",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("year"), "o_totalprice")
        .rollup("nation", "year")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "q24_events_hourly_window",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS hour_epoch,
           event_type, count(*) AS n_events, round(sum(value), 2) AS value_sum
    FROM events
    GROUP BY hour_epoch, event_type
    """,
    "tumbling 1-hour window aggregate over events (streaming's batch twin, §2.9)",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window on the instant column; emitted as epoch seconds (tz-free).
    Identical groupBy(window(...)) runs under Structured Streaming with a
    watermark — see streaming/ for the readStream twin."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@register(
    "q25_promo_revenue",
    """
    SELECT p.p_type AS part_type,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    GROUP BY part_type
    """,
    "part-dimension join + revenue by type (TPC-H Q14 shape)",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    li = li.filter(
        (F.col("l_shipdate") >= _ntz(dt.datetime(1997, 1, 1))) & (F.col("l_shipdate") < _ntz(dt.datetime(1997, 2, 1)))
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("part_type"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q26_bpe_token_budget",
    r"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    """,
    "BPE-ish subword token budgeting per source (X4) — tokenizer-side accounting",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from universal_aws_data_pipeline_spark.operators.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(bpe_token_count(F.col("text"))).alias("bpe_tokens"),
        F.sum(token_count(F.col("text"))).alias("ws_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "q27_sessionization",
    """
    WITH o AS (SELECT user_id, ts, value,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
               FROM events),
    m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS brk FROM o),
    g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS grp FROM m)
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS value_sum
    FROM g GROUP BY user_id, grp
    """,
    "session windows (30-min gap) over events — F.session_window vs gaps-and-islands oracle (§2.9)",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via F.session_window (the SAME expression runs
    under Structured Streaming with a watermark — see streaming/ops.py).
    Oracle is the classic lag + cumulative-sum gaps-and-islands rewrite; the
    >= boundary matches Spark's [start, last + gap) window semantics.

    Scale: one shuffle on user_id; per-key state is the open session only.
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "q28_ivf_topk",
    None,  # KMeans centroids are engine-specific → rows-only check
    "approximate top-k via IVF coarse quantization (X3 scale path #2): probe nprobe/n_clusters cells",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/probe-many: the KMeans index is materialized under a
    repo-local cache keyed by the dataset dir (first call per dataset builds
    it; every later call is a partition-pruned probe of nprobe/n_clusters
    cells). This is the production IVF shape — per-query cost excludes the
    index build."""
    import os

    from universal_aws_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    idx_path = _artifact_dir("ivf", sf_dir)
    if not os.path.exists(os.path.join(idx_path, "meta.json")):
        build_ivf_index(e, idx_path, n_clusters=16, seed=42)
    # nprobe retuned 6 -> 8 (round-8 sf0.1 sweep, PERF.md): recall@10 vs
    # exact is 4->0.633, 6->0.733, 8->0.850, 10->0.950, 12->0.983 — 6 sat
    # on the steep part of the curve with only 4% headroom over the >=0.7
    # contract (a parameter change cost 0.1 recall in r6); 8 buys 21%
    # headroom while still pruning half the corpus at the scan. The CI gate
    # (tests/test_round7_ops.py) asserts the margin, not just the floor.
    return ivf_topk_indexed(load_ivf_index(spark, idx_path), qvec, k=10, nprobe=8)


def _q29_oracle() -> str:
    from universal_aws_data_pipeline_spark.functions.texthash import ROLLING_BASE, ROLLING_MOD

    hex7 = (
        "("
        + " + ".join(f"(strpos('0123456789abcdef', substring(md5(t),{i + 1},1))-1)*{16 ** (6 - i)}" for i in range(7))
        + ")"
    )
    return f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS content_md5,
           list_reduce(list_transform(string_split({_NORM_SQL}, ' '), t -> {hex7}),
                       (a, b) -> (a * {ROLLING_BASE} + b) % {ROLLING_MOD}) AS rolling
    FROM documents
    """


@register(
    "q29_fingerprints",
    _q29_oracle(),
    "document fingerprints: content md5 + order-sensitive polynomial rolling hash (X4)",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's list_reduce seeds the fold with the first element; Spark's
    F.aggregate starts at 0 — identical here because 0*31 + x0 == x0."""
    from universal_aws_data_pipeline_spark.functions.texthash import md5_fingerprint, rolling_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("content_md5"),
        rolling_fingerprint(F.col("text")).alias("rolling"),
    )


@register(
    "q30_segment_stats",
    """
    SELECT c_mktsegment AS segment,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS avg_bal,
           round(stddev_samp(c_acctbal), 4) AS std_bal,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM customer
    GROUP BY segment
    """,
    "statistical profile per segment: avg/stddev/median/min/max in one pass",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`percentile` (exact interpolated) == DuckDB quantile_cont; stddev_samp
    is the sample (n-1) variant in both engines."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@register(
    "q31_small_quantity_revenue",
    """
    SELECT p.p_brand AS brand,
           round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY brand
    """,
    "correlated scalar subquery decorrelated to an aggregate join (TPC-H Q17 shape)",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated subquery is expressed as its decorrelated form — an
    aggregate on l_partkey joined back (exactly what Catalyst rewrites EXISTS/
    scalar-subqueries into). Scale: the avg-per-part aggregate shuffles once
    on partkey, the join reuses that partitioning; part (SF-scaling) is left
    to AQE's size-based broadcast choice."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    avg_qty = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")).withColumnRenamed(
        "l_partkey", "ap_partkey"
    )
    return (
        li.join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q32_running_revenue",
    """
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM orders
    """,
    "running per-customer revenue — window frame ROWS UNBOUNDED PRECEDING (§2.5)",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame order is total (orderdate, orderkey) so the sequential fold is
    identical in both engines. One shuffle on custkey; state per row is the
    running sum — no materialized sort beyond the window sort."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "q33_event_gaps",
    """
    WITH g AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(floor(avg(epoch(ts) - epoch(prev))) AS BIGINT) AS avg_gap_floor_s
    FROM g WHERE prev IS NOT NULL
    GROUP BY user_id
    """,
    "inter-event gap analytics via lag window (§2.5) + aggregate",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap = epoch-second difference (double in both engines: DuckDB epoch()
    keeps the micros fraction; Spark timestampdiff(MICROSECOND)/1e6
    reproduces it and — unlike unix_micros — accepts TIMESTAMP_NTZ, the type
    ``_t`` normalizes events.ts to); floor of the average avoids float-tail
    formatting drift."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", F.lag("ts").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("user_id", (F.expr("timestampdiff(MICROSECOND, prev, ts)") / F.lit(1000000.0)).alias("gap"))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.floor(F.avg("gap")).cast("long").alias("avg_gap_floor_s"),
    )


@register(
    "q34_sql_interface",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_effect,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "pure spark.sql entry point (TPC-H Q6 shape) — SQL-string surface parity",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through its SQL door: register the scan as a temp view
    and run ANSI SQL text. String literals coerce to the column's
    TIMESTAMP_NTZ type — wall-clock compare, tz-free. Plan is identical to
    the DataFrame form (one scan, pushed filters, single partial+final agg)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_effect,
               count(*) AS n_items
        FROM lineitem_v
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@register(
    "q35_top_suppliers_per_region",
    """
    SELECT region, supplier, acctbal, rnk FROM (
      SELECT r.r_name AS region, s.s_name AS supplier,
             round(s.s_acctbal, 2) AS acctbal,
             dense_rank() OVER (PARTITION BY r.r_name
                                ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rnk
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
                      JOIN region r ON n.n_regionkey = r.r_regionkey
    ) WHERE rnk <= 3
    """,
    "top-N per group: ranked suppliers by balance within region (TPC-H Q2 flavor)",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-within-group + filter — the distributed top-N-per-key idiom (one
    shuffle on the partition key; no global sort). Dimension joins broadcast."""
    from pyspark.sql.window import Window

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("s_name").alias("supplier"),
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
            "s_acctbal",
            "s_suppkey",
        )
    )
    w = Window.partitionBy("region").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        joined.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("region", "supplier", "acctbal", "rnk")
    )


@register(
    "q36_json_struct_histogram",
    """
    SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS k_decile,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max
    FROM events
    GROUP BY k_decile
    """,
    "schema-full JSON parsing (from_json -> struct) + histogram (F11 extension)",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (vs q10's get_json_object dot-path):
    the parsed struct is a real nested column — prunable, filterable,
    codegen'd. One parse per row feeding all downstream uses."""
    e = _t(spark, sf_dir, "events")
    parsed = e.select(F.from_json("props", "k INT").alias("p"))
    return (
        parsed.select(F.floor(F.col("p.k") / 10).cast("int").alias("k_decile"), F.col("p.k").alias("k"))
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
        )
    )


@register(
    "q37_wordcount_topk",
    """
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          FROM documents)
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
    "explode + word count + top-k — the canonical generator/agg pipeline (X4)",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(tokens) → count per token → top-k. Partial aggregation combines
    map-side (vocabulary-sized shuffle, not corpus-sized); top-k via
    TakeOrderedAndProject."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@register(
    "q38_pivot_revenue",
    """
    SELECT n.n_name AS nation,
           round(sum(CASE WHEN year(o.o_orderdate) = 1996 THEN o.o_totalprice END), 2) AS y1996,
           round(sum(CASE WHEN year(o.o_orderdate) = 1997 THEN o.o_totalprice END), 2) AS y1997
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY nation
    """,
    "pivot (crosstab): revenue by nation x year as columns",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pivot`` with an EXPLICIT value list — without it Spark runs an extra
    distinct-values job and the output schema becomes data-dependent (both
    bad at scale). Compiles to the same conditional aggregation as the
    oracle's CASE-sums: one shuffle, no transpose materialization."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"), "o_totalprice")
        .groupBy("nation")
        .pivot("yr", [1996, 1997])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .select("nation", F.col("1996").alias("y1996"), F.col("1997").alias("y1997"))
    )


def _q39_oracle() -> str:
    """Incremental-dedup oracle: the exact engine pipeline (shingle → minhash
    → band join vs the EXISTING side only → Jaccard verify → anti-join) in
    DuckDB SQL, parameterized over two corpus halves."""
    shing_sql = """
  SELECT doc_id, CASE WHEN len(t) >= 3
    THEN list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
    ELSE [norm] END AS sh
  FROM {toks}"""
    mh = ", ".join(f"{_mh_sql(k)} AS mh{k}" for k in range(8))
    return f"""
WITH existing AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 250
), newb AS (
  SELECT doc_id + 200000 AS doc_id, regexp_replace(text, '\\s+\\S+$', '') AS text
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 300000, text FROM documents WHERE doc_id >= 250
), toks_e AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM existing
), toks_n AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM newb
), shing_e AS ({shing_sql.format(toks="toks_e")}
), shing_n AS ({shing_sql.format(toks="toks_n")}
), sigs_e AS (
  SELECT doc_id, sh, {mh} FROM shing_e
), sigs_n AS (
  SELECT doc_id, sh, {mh} FROM shing_n
), banded_e AS (
  SELECT doc_id, concat_ws('|', 0, mh0, mh1, mh2, mh3) AS band_key FROM sigs_e
  UNION ALL
  SELECT doc_id, concat_ws('|', 1, mh4, mh5, mh6, mh7) FROM sigs_e
), banded_n AS (
  SELECT doc_id, concat_ws('|', 0, mh0, mh1, mh2, mh3) AS band_key FROM sigs_n
  UNION ALL
  SELECT doc_id, concat_ws('|', 1, mh4, mh5, mh6, mh7) FROM sigs_n
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS old_id
  FROM banded_n n JOIN banded_e e ON n.band_key = e.band_key
), dupes AS (
  SELECT DISTINCT new_id
  FROM cand JOIN shing_n sn ON sn.doc_id = new_id JOIN shing_e se ON se.doc_id = old_id
  WHERE CAST(len(list_intersect(sn.sh, se.sh)) AS DOUBLE)
        / (len(sn.sh) + len(se.sh) - len(list_intersect(sn.sh, se.sh))) >= 0.5
)
SELECT doc_id FROM newb WHERE doc_id NOT IN (SELECT new_id FROM dupes)
"""


@register(
    "q39_incremental_dedup",
    _q39_oracle(),
    "incremental corpus near-dup filter vs a persisted band-key index (X2d/X2e): survivors of a new batch",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: the accumulated corpus (doc_id < 250) is a
    STORED index (built once per dataset under the artifact cache, bands
    bucket-partitioned); each new batch — 50 tail-mutated near-dups that must
    be filtered plus the genuinely-new back half — probes it via band-key
    equi-join and exact-Jaccard verify, survivors pass. The oracle replays
    the identical pipeline in SQL, so this is hash-graded, not rows-only."""
    import os

    from universal_aws_data_pipeline_spark.operators.dedup import (
        build_neardup_index,
        incremental_neardup_filter_indexed,
        load_neardup_index,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = d.filter(F.col("doc_id") < 250)
    new_batch = (
        d.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 200000).alias("doc_id"), F.regexp_replace("text", r"\s+\S+$", "").alias("text"))
        .unionByName(d.filter(F.col("doc_id") >= 250).select((F.col("doc_id") + 300000).alias("doc_id"), "text"))
    )
    idx_path = _artifact_dir("neardup_lt250", sf_dir)
    if not os.path.exists(os.path.join(idx_path, "meta.json")):
        build_neardup_index(existing, idx_path, num_hashes=8, bands=2, shingle_n=3)
    kept = incremental_neardup_filter_indexed(new_batch, load_neardup_index(spark, idx_path), threshold=0.5)
    return kept.select("doc_id")


@register(
    "q40_asof_join",
    """
    WITH p AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             max(event_id) AS event_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, es
    )
    SELECT p.event_id, p.user_id,
           p.es AS purchase_epoch,
           c.event_id AS click_event_id,
           p.es - c.es AS gap_s
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.es >= c.es
    """,
    "as-of join: each purchase matched to the user's most recent prior click (operator Spark lacks natively)",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-prior temporal join via union + running last (zero joins, one
    shuffle on user_id) — NOT an inequality theta-join, which Spark would
    plan as a broadcast-nested-loop (quadratic at scale). Clicks are deduped
    to one row per (user, second) — max event_id — so the as-of winner is
    deterministic in both engines. Oracle: DuckDB's native ASOF JOIN."""
    from universal_aws_data_pipeline_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    ev = e.select("event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("es"))
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "es")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "es")
        .agg(F.max("event_id").alias("event_id"))
    )
    out = asof_join(purchases, clicks, on=["user_id"], left_ts="es", right_ts="es", right_cols=["event_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("es").alias("purchase_epoch"),
        F.col("event_id_r").alias("click_event_id"),
        (F.col("es") - F.col("es_r")).alias("gap_s"),
    )


@register(
    "q41_range_join",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ), err AS (
      SELECT event_id, user_id, es FROM ev WHERE event_type = 'error'
    )
    SELECT l.event_id, l.user_id, CAST(count(r.event_id) AS BIGINT) AS n_prior_10m
    FROM err l LEFT JOIN ev r
      ON l.user_id = r.user_id AND r.es >= l.es - 600 AND r.es < l.es
    GROUP BY l.event_id, l.user_id
    """,
    "range (interval) join: per error event, activity count in the prior 10 minutes — binned equi-join, no theta-join",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via time-bucket binning: the [-600s, 0) window becomes
    an equi-join on (user_id, bin) over ≤2 candidate bins + exact filter.
    The oracle states the same predicate as the naive inequality join DuckDB
    can afford at this SF; Spark at 10^10 rows cannot — hence the rewrite."""
    from universal_aws_data_pipeline_spark.operators.temporal import range_join_pairs

    e = _t(spark, sf_dir, "events")
    ev = e.select("event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("es"))
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "es")
    pairs = range_join_pairs(
        errors, ev.select("event_id", "user_id", "es"), on=["user_id"],
        left_epoch="es", right_epoch="es", lower=-600, upper=0,
    )
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_prior_10m"))
    return (
        errors.join(counts, "event_id", "left")
        .select("event_id", "user_id", F.coalesce("n_prior_10m", F.lit(0)).alias("n_prior_10m"))
    )


@register(
    "q42_embedding_centroids",
    """
    SELECT label, CAST(i AS INTEGER) AS dim, round(avg(embedding[i+1]), 6) AS centroid
    FROM embeddings, range(64) t(i)
    GROUP BY label, i
    """,
    "vector aggregation: per-label mean-pooled centroid embedding (class prototypes)",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label via posexplode + two-level key
    aggregation. The explode is the SCALABLE shape, not a compromise: (label,
    dim) becomes the grouping key, partial avgs combine map-side, and the
    shuffle carries |labels|×dim tiny rows per partition — vs collect_list
    of whole vectors per label, which holds an unbounded array buffer per
    group and OOMs at corpus scale."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


_Q43_ORACLE = f"""
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
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT id AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       id = cluster_id AS is_canonical
FROM comp
"""


@register(
    "q43_dup_clusters",
    _Q43_ORACLE,
    "connected components over the near-dup pair graph: duplicate groups + canonical survivor per group (X2)",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of q15's near-dup pairs: pairwise a~b, b~c becomes
    one duplicate group {a,b,c} with the min-id doc as the canonical
    survivor — the keep/drop list an actual dedup sweep needs (pairs alone
    under-delete chains). The oracle computes the same closure via DuckDB's
    recursive CTE — hash-graded, not rows-only.

    Round 14 (VERDICT r13 item 2, adjudicated GRANT): the connected-
    components LABEL table is itself a per-dataset parquet artifact
    (plans/_shared.py::_neardup_cluster_labels) layered on the blessed pair
    artifact — clustering is re-consumed by five query paths
    (q43/q76/q141/q192/q199) but only changes when the pair set does. The
    warm plan is a parquet scan of (id, component) plus the size rollup;
    the cold series pays pair mining + pointer-jumping closure + the label
    write (bench.py scrubs the cache root first)."""
    from universal_aws_data_pipeline_spark.plans._shared import _neardup_cluster_labels

    comp = _neardup_cluster_labels(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


_PII_ENRICH_SQL = (
    "concat(text, ' contact user', doc_id, '@', source, '.example.com tel ', "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-555-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ssn ', "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), '-', "
    "lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0'))"
)


@register(
    "q44_pii_redaction",
    rf"""
    WITH enriched AS (
      SELECT doc_id, {_PII_ENRICH_SQL} AS text FROM documents
    ), m1 AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g') AS t1
      FROM enriched
    ), m2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1, '\b[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}\b')) AS n_phone,
             regexp_replace(t1, '\b[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}\b', '[PHONE]', 'g') AS t2
      FROM m1
    ), m3 AS (
      SELECT doc_id, n_email, n_phone,
             len(regexp_extract_all(t2, '\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\b')) AS n_ssn,
             regexp_replace(t2, '\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\b', '[SSN]', 'g') AS t3
      FROM m2
    )
    SELECT doc_id, CAST(n_email AS INTEGER) AS n_email, CAST(n_phone AS INTEGER) AS n_phone,
           CAST(n_ssn AS INTEGER) AS n_ssn, md5(t3) AS redacted_md5
    FROM m3
    """,
    "PII detection + redaction (emails/phones/SSNs) over documents — chained regex, map-only (X4)",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus is synthetic word salad, so a deterministic contact
    block (email/phone/SSN derived from doc_id + source) is appended before
    redacting — both engines build the identical string, so the redaction
    counts and the md5 of the redacted text are hash-graded with real (non-
    zero) matches. The operator itself is chained JVM regexp_replace: map-
    only, no UDF, runs at scan speed at any corpus size."""
    from universal_aws_data_pipeline_spark.operators.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@"), F.col("source"), F.lit(".example.com tel "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn "), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-"), F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    counts = pii_counts(enriched)
    return d.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        F.md5(redact_pii(enriched)).alias("redacted_md5"),
    )


@register(
    "q45_hash_sample",
    f"""
    SELECT doc_id, lang, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM documents
    WHERE {_BUCKET_SQL} < CASE lang WHEN 'en' THEN 32768 WHEN 'zh' THEN 6554 ELSE 13107 END
    """,
    "deterministic stratified hash sampling: per-language rates, reproducible across engines/layouts (X4)",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-mod sampling: md5-bucket of the key vs a per-stratum threshold.
    Unlike df.sample()/sampleBy(), membership is a pure function of the row
    key — stable across reruns, partition layouts, and engines — and the
    filter is map-side (no shuffle, composes with scan pruning). Rates:
    en 50%, zh 10%, others 20%."""
    from universal_aws_data_pipeline_spark.operators.sampling import hash_bucket, hash_sample

    d = _t(spark, sf_dir, "documents")
    sampled = hash_sample(d, "doc_id", 0.2, strata_col="lang", fractions={"en": 0.5, "zh": 0.1})
    return sampled.select("doc_id", "lang", hash_bucket(F.col("doc_id")).alias("bucket"))


@register(
    "q46_token_shards",
    r"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
                      / 2000.0) AS BIGINT) AS shard_id
    FROM t
    """,
    "token-budget shard packing: distributed prefix sum, never a single-task global window (X4)",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into ~2000-token training shards.
    Semantically a global running sum — which Spark would execute as ONE
    task if written as an unpartitioned window. pack_into_shards instead
    range-partitions on the key, runs per-partition windows in parallel,
    and stitches them with |partitions|-row offsets — the textbook
    distributed prefix sum. The oracle states the global-window form."""
    from universal_aws_data_pipeline_spark.operators.sampling import pack_into_shards
    from universal_aws_data_pipeline_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_into_shards(d, "doc_id", "n_tokens", budget=2000).select("doc_id", "n_tokens", "shard_id")


@register(
    "q47_cube_revenue",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "CUBE multi-dimensional rollup over orders: every (priority, status) margin in one pass",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.cube() compiles to a single Expand + hash aggregate — all four
    grouping sets in ONE scan/shuffle instead of four unioned GROUP BYs.
    Partial aggregation still applies per grouping set, so the shuffle
    carries |sets| × |groups| rows per partition, not data rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "q48_quantity_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "exact interpolated percentiles per group (distribution profiling for quality gates)",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile() (linearly interpolated, same R-7 definition as
    DuckDB's quantile_cont) — hash-gradeable because l_quantity is integer-
    valued and the quarter fractions are dyadic, so both engines produce
    bit-identical doubles. At 100 TB the same query shape swaps in
    approx_percentile (t-digest sketch, mergeable map-side) — the exact
    form is the correctness oracle for it in tests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.50)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.count("*").alias("n"),
    )


@register(
    "q49_value_outliers",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round((e.value - s.mu) / s.sd, 3) AS z
    FROM events e JOIN s USING (event_type)
    WHERE (e.value - s.mu) / s.sd >= 3 OR (e.value - s.mu) / s.sd <= -3
    """,
    "per-group z-score outlier flagging (data-quality anomaly sweep)",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass z-score: tiny per-group stats aggregate (|event types| rows,
    AQE broadcasts it) joined back to the stream — never a window over the
    full table partitioned by a 5-value key, which would funnel 1/5 of the
    corpus through each of 5 tasks at scale."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(F.avg("value").alias("mu"), F.stddev("value").alias("sd"))
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(stats, "event_type")
        .filter((z >= 3) | (z <= -3))
        .select("event_id", "event_type", F.round(z, 3).alias("z"))
    )


_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


@register(
    "q50_column_profile",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM customer
    """
        for c in _PROFILE_COLS
    ),
    "one-pass column profiling of a table: nulls, exact distinct, min/max per column (crawler statistics)",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table data profile in ONE scan: all per-column aggregates run
    in a single agg (multi-distinct compiles to one Expand pass), then a
    stack() unpivot turns the 1×(4·K) row into K profile rows — vs the
    naive per-column loop that scans the table K times. The oracle states
    the per-column UNION ALL form."""
    c = _t(spark, sf_dir, "customer")
    aggs = []
    for col in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(col).isNull().cast("long")).alias(f"nn_{col}"),
            F.count_distinct(F.col(col)).alias(f"nd_{col}"),
            F.min(F.col(col)).cast("string").alias(f"mn_{col}"),
            F.max(F.col(col)).cast("string").alias(f"mx_{col}"),
        ]
    one = c.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', nn_{col}, nd_{col}, mn_{col}, mx_{col}" for col in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, n_nulls, n_distinct, min_val, max_val)"
    )

