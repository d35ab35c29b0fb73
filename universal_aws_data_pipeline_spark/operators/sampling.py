"""Deterministic sampling and shard packing for training-data pipelines.

Reference parity: none — the reference has no sampling surface (its
transform job, `/root/reference/src/glue/transformation/transform_data.py`,
processes every row); these are driver-mandated LLM-pipeline extensions
(SURVEY §2.11).

Sampling at corpus scale must be (a) reproducible across reruns and engines
— seeds on `df.sample()` are NOT stable across partition layouts — and (b)
a pure map-side filter, so it composes with scan pushdown and costs zero
shuffles. Both operators here key off a content hash (md5 of the row key),
the standard "hash mod" sampling used by large corpus pipelines: the same
row is in or out of the sample forever, regardless of cluster layout,
engine, or which other rows exist.

Shard packing (``pack_into_shards``) assigns documents to fixed-token-budget
training shards by cumulative token count. The naive Spark spelling is a
global window (``sum().over(Window.orderBy(...))`` with no partition key)
— which Catalyst executes as a SINGLE task holding the whole corpus: a
non-starter at 100 TB. This implementation is the classic two-phase
distributed prefix sum instead: range-partition by the sort key, per-
partition running sums in parallel, then a tiny per-partition-totals
aggregate (one row per partition, collected to the driver) provides each
partition's global offset. Total cost: one range shuffle + one |partitions|-
row collect, fully parallel otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# first 4 md5 nibbles → bucket in [0, 65536): plenty of resolution for
# sampling rates down to ~0.002% while staying cheap to reproduce in SQL
_HASH_BUCKETS = 1 << 16


def _materialize(df: DataFrame) -> DataFrame:
    """Single-execution barrier for the two-phase prefix sums: the offsets
    collect and the returned column must observe ONE executed range
    partitioning (repartitionByRange samples bounds with a per-execution
    seed). localCheckpoint — not persist — so a lost block fails loudly
    instead of recomputing a different layout. Module-level seam so plan
    tests can patch it out and assert on the un-truncated plan."""
    return df.localCheckpoint()


def hash_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, 65536) from md5 of the stringified key.
    Engine-portable: any system with md5 + hex parsing reproduces it."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    strata_col: str | None = None,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic (hash-mod) sample: keep rows whose md5 bucket falls
    below fraction × 65536. With ``strata_col``/``fractions``, per-stratum
    rates (falling back to ``fraction``) — stratified sampling without
    ``sampleBy``'s seed/layout instability. Map-side filter; no shuffle."""
    bucket = hash_bucket(F.col(key_col))
    if strata_col is None or not fractions:
        return df.filter(bucket < int(fraction * _HASH_BUCKETS))
    thresh: Column = F.lit(int(fraction * _HASH_BUCKETS))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == stratum, F.lit(int(frac * _HASH_BUCKETS))).otherwise(thresh)
    return df.filter(bucket < thresh)


def pack_into_shards(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each row a ``shard_id`` so consecutive rows (in ``order_col``
    order) accumulate ~``budget`` total weight per shard:
    shard_id = floor(exclusive_prefix_sum(weight) / budget).

    Distributed prefix sum, not a global window: range-partition on the sort
    key, per-partition running sums (parallel windows keyed by partition id),
    then per-partition totals — |partitions| rows — are collected and turned
    into broadcast offsets. Equivalent to
    ``sum(weight) OVER (ORDER BY order_col ROWS UNBOUNDED PRECEDING) - weight``
    but never funnels the corpus through one task.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    # Materialize ONCE before the totals collect: repartitionByRange draws its
    # range bounds from a sample whose seed varies per execution, so without
    # this the totals collect and the returned DataFrame could execute the
    # shuffle twice with rows near range boundaries landing in different
    # _pid's — misaligned offsets, silently wrong cumulative sums.
    ranged = _materialize(ranged.withColumn("_cum_in", F.sum(weight_col).over(w)))

    totals = sorted(
        ranged.groupBy("_pid").agg(F.max("_cum_in").alias("t")).collect(),
        key=lambda r: r["_pid"],
    )
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["t"]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("_pid")
    )
    cum_before = offset_expr + F.col("_cum_in") - F.col(weight_col)
    return ranged.withColumn("shard_id", F.floor(cum_before / F.lit(budget))).drop("_pid", "_cum_in")


def stratified_prefix_sum(
    df: DataFrame,
    strata_col: str,
    order_cols: list[Column],
    weight_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive running sum of ``weight_col`` WITHIN each stratum, under
    ``order_cols`` order — the primitive behind budget-constrained data
    selection ("take the best documents per language until the token budget
    is spent").

    The naive spelling is ``sum().over(Window.partitionBy(strata).orderBy
    (...))`` — but a stratum is NOT a safe window partition at corpus scale:
    one language can be 90% of a 100 TB corpus, and Spark puts an entire
    window partition in one task. Same two-phase distributed prefix sum as
    ``pack_into_shards``, stratified: range-partition on (stratum, order)
    so strata are contiguous but still SPLIT across many partitions,
    per-(partition, stratum) running sums in parallel, then the
    |partitions|x|strata| totals table (tiny) is collected and becomes
    broadcast offsets keyed by (partition, stratum).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, F.col(strata_col), *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid", strata_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Same single-materialization rule as pack_into_shards: the offsets and
    # the returned column must come from ONE executed range partitioning.
    ranged = _materialize(ranged.withColumn("_cum_in", F.sum(weight_col).over(w)))

    totals = ranged.groupBy("_pid", strata_col).agg(F.max("_cum_in").alias("t")).collect()
    acc: dict[str, int] = {}
    offsets: dict[tuple[int, str], int] = {}
    for r in sorted(totals, key=lambda r: (str(r[strata_col]), r["_pid"])):
        s = r[strata_col]
        offsets[(r["_pid"], s)] = acc.get(s, 0)
        acc[s] = acc.get(s, 0) + r["t"]
    key = F.concat_ws("|", F.col("_pid").cast("string"), F.col(strata_col).cast("string"))
    omap = F.create_map(
        *[x for (pid, s), off in offsets.items() for x in (F.lit(f"{pid}|{s}"), F.lit(off))]
    )
    return ranged.withColumn(
        out_col, F.element_at(omap, key) + F.col("_cum_in") - F.col(weight_col)
    ).drop("_pid", "_cum_in")


def quantile_cutoff_by_group(
    scored: DataFrame,
    group_col: str,
    value_col: str,
    fraction: float,
) -> DataFrame:
    """Exact per-group order-statistic cutoff — the value at ascending rank
    ceil(fraction * n) — WITHOUT a per-group row window (which would hold a
    whole group's rows in one task; a corpus-dominating language kills that
    at scale). Because ``value_col`` is quantized (quality scores are
    rounded to 4 dp), the exact quantile lives in a (group, value) HISTOGRAM:
    one map-side-combined groupBy builds it (≤ |groups|·10^4 rows), and the
    cumulative-count window runs over that tiny table. Pure integer
    compares — no interpolation, no libm — so the result is bit-identical
    in any engine.

    Returns (group_col, qcut).
    """
    from pyspark.sql.window import Window

    hist = scored.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    tot = hist.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    return (
        cum.join(tot, group_col)
        .filter(F.col("_cum") >= F.ceil(F.lit(fraction) * F.col("_n")))
        .groupBy(group_col)
        .agg(F.min(value_col).alias("qcut"))
    )


def temperature_rebalance(
    df: DataFrame,
    group_col: str,
    key_col: str,
    fraction: float = 0.25,
) -> DataFrame:
    """Temperature-flattened group rebalancing (the multilingual-mixture
    move of GPT-3/XLM-R data pipelines, T = 0.5): sample ~``fraction`` of
    the corpus with per-group rates ∝ sqrt(n_g)/n_g, so head groups are
    downweighted and tail groups upweighted relative to natural frequency
    (kept counts ∝ sqrt(n_g)).

        rate_g = fraction · N · sqrt(n_g) / (Z · n_g),  Z = Σ_g sqrt(n_g)

    Membership is the same deterministic md5-bucket uniform as hash_sample —
    layout/rerun-stable, map-side. Every operation at the cut boundary is
    exactly-specified IEEE (sqrt is correctly rounded; mul/div/compare) —
    no pow/ln, so T is fixed at 0.5 by design to stay libm-free and
    oracle-portable. Rates over 1 simply keep the whole (tiny) group.

    The group-rate table is a |groups|-row aggregate broadcast back; the
    corpus sees one scan + map-side filter.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).cast("double").alias("_n"))
    z = counts.agg(
        F.sum(F.sqrt(F.col("_n"))).alias("_z"), F.sum("_n").alias("_tot")
    )
    rates = counts.join(F.broadcast(z)).select(
        group_col,
        (F.lit(fraction) * F.col("_tot") * F.sqrt(F.col("_n")) / (F.col("_z") * F.col("_n"))).alias("rate"),
    )
    u = (hash_bucket(F.col(key_col)) + 0.5) / 65536.0
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("rate"))
        .select(key_col, group_col, F.round(F.col("rate"), 6).alias("rate"))
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    group_col: str = "source",
    tokens_col_name: str = "n_tokens",
) -> DataFrame:
    """Corpus-mixture planning: turn target domain WEIGHTS into per-domain
    sampling RATES against what the corpus actually holds — the config step
    before a weighted pretraining mix is materialized.

    For each group g: target_tokens = budget · w_g / Σw, and
    rate = min(1, target/available) — a domain short of its target samples
    at 1.0 (it cannot oversample; upweighting beyond availability is an
    epochs decision, not a sampling one, and is visible here as
    target > available). Returns
    (group, n_docs, n_tokens, target_tokens, rate, expected_tokens).

    Scale: ONE map-side-combinable aggregate over the corpus (|groups|
    rows out); the weight table is a |weights|-row plan literal LEFT side
    of the final join, so a weighted source with ZERO corpus rows —
    including a typo'd source name — still emits its row (n_docs=0,
    n_tokens=0, rate=1.0, expected_tokens=0) instead of silently vanishing
    and understating the shortfall the epochs decision needs. Feed the
    rates to ``hash_sample``'s md5-bucket filter for the actual
    materialization — deterministic, no per-group shuffles.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = float(sum(weights.values()))
    wanted = df.sparkSession.createDataFrame(
        [(k,) for k in sorted(weights)], f"{group_col}: string"
    )
    w_expr = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    avail = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens_col_name).cast("long").alias("n_tokens"),
    )
    target = F.round(F.lit(float(token_budget)) * w_expr[F.col(group_col)] / total_w, 0).cast(
        "long"
    )
    # n_tokens=0 ⇒ target/n_tokens is null ⇒ rate falls back to 1.0 (sample
    # everything available, which is nothing — the shortfall stays visible)
    rate = F.coalesce(
        F.round(
            F.least(
                F.lit(1.0),
                target.cast("double")
                / F.nullif(F.col("n_tokens"), F.lit(0).cast("long")),
            ),
            6,
        ),
        F.lit(1.0),
    )
    return (
        # |groups|-row aggregate broadcasts as the nullable side (a
        # broadcast hint on the preserved side of a LEFT join is unusable)
        wanted.join(F.broadcast(avail), group_col, "left")
        .select(
            group_col,
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        )
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            target.alias("target_tokens"),
            rate.alias("rate"),
            F.round(F.col("n_tokens") * rate, 0).cast("long").alias("expected_tokens"),
        )
    )


def quota_allocation(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer ``budget``
    across groups proportionally to their row counts — the exact-integer
    allocation step for building a fixed-size eval/holdout set ("give me
    exactly 1000 docs, proportional to source sizes"). Float shares
    rounded independently don't sum to the budget; Hamilton's method does,
    deterministically: quota_i = floor(B*n_i/N) + 1 for the L groups with
    the largest remainders (L = B - sum of floors), remainder ties broken
    by group name.

    All arithmetic is exact int64 (B*n_i bounded by budget*corpus);
    returns (group_col, n_rows, quota) with sum(quota) == min(budget, N
    when budget exceeds the corpus... B > N simply over-allocates nothing:
    quotas are capped nowhere because proportional shares cannot exceed
    n_i only when B <= N — callers wanting sampling rates beyond 1.0 are
    making an epochs decision, see mixture_plan).

    Scale shape: one map-side-combinable count aggregate to |groups| rows;
    the floors/remainders/rank run on that tiny table (adjudicated
    single-partition window).
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum("n_rows").alias("nn"))
    base = counts.join(F.broadcast(tot)).select(
        group_col,
        "n_rows",
        F.expr(f"({budget} * n_rows) div nn").alias("fl"),
        (F.lit(budget) * F.col("n_rows") % F.col("nn")).alias("rem"),
    )
    w = Window.orderBy(F.col("rem").desc(), F.col(group_col))
    leftover = base.agg((F.lit(budget) - F.sum("fl")).alias("l"))
    return (
        base.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(leftover))
        .select(
            group_col,
            "n_rows",
            (F.col("fl") + F.when(F.col("rk") <= F.col("l"), 1).otherwise(0))
            .cast("long")
            .alias("quota"),
        )
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    one-pass reduction: each row gets key = ln(u) / w with u a
    deterministic md5-uniform in (0,1), and the k LARGEST keys are the
    sample (equivalent to the classical u^(1/w) ordering; ln spelling
    avoids cross-libm pow). Selection probability proportional to weight,
    exactly-once, and — because u comes from the md5 bucket, not an RNG —
    the same rows are chosen by any engine, any partition layout, any
    rerun: the hash-mod determinism contract of this module extended to
    WEIGHTED selection.

    Keys round to 6dp before ordering with an id tiebreak, so boundary
    comparisons are engine-portable (the q161 discipline). Rows with
    non-positive weight are excluded by contract (they would divide by
    zero; a zero-weight row is by definition never sampled).

    Scale: one map expression + TakeOrderedAndProject — k rows per
    partition reach the driver merge; no shuffle of the corpus.
    """
    u = (hash_bucket(F.col(key_col)) + F.lit(0.5)) / F.lit(float(_HASH_BUCKETS))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(key_col), F.col(weight_col), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col(key_col))
        .limit(k)
    )


def cap_per_domain(
    df: DataFrame,
    domain_col: str,
    doc_cap: int | None = None,
    token_cap: int | None = None,
    order_by: list | None = None,
    id_col: str = "doc_id",
    token_col: str | None = None,
) -> DataFrame:
    """Per-domain crawl-governance cap (the C4/RefinedWeb rule): keep at
    most ``doc_cap`` documents and/or ``token_cap`` tokens per domain,
    keeping the BEST documents within the cap. Without a ceiling like
    this, a handful of mega-domains (self-replicating boilerplate farms,
    mirror networks) dominate a web-scale training mix no matter how the
    mixture rates are planned — q94 selects by quality within a global
    token budget and q129 plans mixture rates, but neither enforces a
    per-source ceiling; this is that missing governance operator.

    Ranking within a domain: ``order_by`` columns (best first), with the
    id appended as the final tiebreak so the cut is total and
    engine-reproducible. Default ranking is the q91 device — smallest
    (md5-bucket, id) — i.e. a deterministic uniform sample of the domain
    when no quality signal is supplied.

    Caps compose: ``doc_cap`` keeps rank <= doc_cap; ``token_cap`` keeps
    the rank-order prefix whose RUNNING token total (including the
    current document) stays <= token_cap. Both given = whichever binds
    first. Returns the kept rows plus ``domain_rank`` (and ``cum_tokens``
    when token-capped).

    Scale: one grouped shuffle on the domain key — never a global sort.
    The rank filter is the WindowGroupLimit shape (row_number <= k), so
    Spark pre-prunes every map partition to its local top-k before the
    exchange: the shuffle carries O(k) rows per domain per partition, not
    the domain's full volume. The token-cap running sum is a per-domain
    window — bounded by the LARGER of doc_cap (apply both at scale: the
    rank prune runs first, so the cumsum window only ever sees doc_cap
    rows per domain) or the domain's size; a token-only cap over a
    mega-domain should therefore ride with a generous doc_cap companion
    (token_cap is itself an upper bound on keepable docs whenever every
    doc has >= 1 token).
    """
    if doc_cap is None and token_cap is None:
        raise ValueError("cap_per_domain: at least one of doc_cap/token_cap")
    if doc_cap is not None and doc_cap < 1:
        raise ValueError(f"doc_cap must be >= 1, got {doc_cap}")
    if token_cap is not None:
        if token_cap < 1:
            raise ValueError(f"token_cap must be >= 1, got {token_cap}")
        if token_col is None:
            raise ValueError("token_cap requires token_col")
    # the output columns are part of the contract — silently OVERWRITING a
    # caller's same-named data column (withColumn replaces) would corrupt it
    # and make any downstream drop delete real data (round-12 review)
    if "domain_rank" in df.columns:
        raise ValueError("cap_per_domain adds 'domain_rank'; rename the existing column first")
    if token_cap is not None and "cum_tokens" in df.columns:
        raise ValueError("cap_per_domain adds 'cum_tokens'; rename the existing column first")
    ordering = list(order_by) if order_by else [hash_bucket(F.col(id_col))]
    ordering.append(F.col(id_col))
    w = Window.partitionBy(domain_col).orderBy(*ordering)
    out = df.withColumn("domain_rank", F.row_number().over(w).cast("long"))
    if doc_cap is not None:
        # rank-filter FIRST: WindowGroupLimit prunes map-side, and the
        # token-cap window below then runs over <= doc_cap rows per domain
        out = out.filter(F.col("domain_rank") <= doc_cap)
    if token_cap is not None:
        cum = Window.partitionBy(domain_col).orderBy("domain_rank").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = out.withColumn(
            "cum_tokens", F.sum(F.col(token_col).cast("long")).over(cum)
        ).filter(F.col("cum_tokens") <= token_cap)
    return out


def domain_cap_stream_fn(
    state_path: str,
    out_path: str,
    domain_col: str,
    doc_cap: int,
    quality_col: str | None = None,
    id_col: str = "doc_id",
):
    """``foreachBatch`` maintainer enforcing a per-domain admission quota
    on a LIVE ingestion stream — the streaming twin of
    :func:`cap_per_domain` (STR8). A crawl feed admits at most ``doc_cap``
    documents per domain over the stream's lifetime, best-first WITHIN
    each batch; once a domain's quota is burned, its later arrivals are
    rejected forever. This is the online shape of the C4/RefinedWeb
    ceiling: the batch operator governs a corpus you already hold, this
    one governs one you are still receiving.

    Per batch: rank the batch's rows within each domain — ``quality_col``
    desc when given, else the q91 hash device — with the id as final
    tiebreak; admit ``rank <= remaining quota``; APPEND the admitted rows
    (id, domain, quality?, admit_rank, batch_id) to ``out_path``; fold the
    per-domain admitted counts into ``<state_path>/admitted`` through
    ``statestore.fold_fn`` (state = one (domain, n_admitted) row per
    domain ever seen — domain-bounded forever).

    Replay safety (at-least-once): a replayed batch id never runs the
    step, so its out-append does not repeat. The crash window between the
    out-append and the state commit is covered by determinism, the
    DP-release/token-cost contract: admissions are a pure function of
    (state, batch), and a pre-commit crash replays against the UNCHANGED
    state — byte-identical rows re-append and downstream consumers dedup
    on (id, batch_id) losslessly. The append-then-commit order is
    load-bearing: committing first would burn quota for rows that were
    never written. Recurring ids are NOT deduped here — admission control
    composes downstream of the dedup operators (q07/q15), which own that
    contract.

    Scale per batch: one grouped rank window on the domain key (the
    literal ``rank <= doc_cap`` prune is applied FIRST and takes the
    WindowGroupLimit shape; the variable remaining-quota bound then
    filters the survivors), one broadcast-sized state join (state is
    |domains| rows), and a |domains|-row fold.
    """
    import os

    from universal_aws_data_pipeline_spark.operators import statestore

    if doc_cap < 1:
        raise ValueError(f"doc_cap must be >= 1, got {doc_cap}")

    def step(batch_df: DataFrame, batch_id: int, state: DataFrame | None, meta: dict):
        ordering = (
            [F.col(quality_col).desc()] if quality_col else [hash_bucket(F.col(id_col))]
        ) + [F.col(id_col)]
        w = Window.partitionBy(domain_col).orderBy(*ordering)
        ranked = batch_df.withColumn(
            "admit_rank", F.row_number().over(w).cast("long")
        ).filter(F.col("admit_rank") <= doc_cap)  # literal bound: map-side prune
        if state is None:
            # empty state inherits the batch's domain TYPE (a string-pinned
            # schema would break numeric domain keys at the union)
            state = (
                batch_df.select(domain_col)
                .limit(0)
                .withColumn("n_admitted", F.lit(0).cast("long"))
            )
        # NULL-safe state lookup: a NULL domain (missing metadata) is a real
        # category with a real quota — a plain equi-join would never match
        # its state row and the unlabeled slice would get a fresh doc_cap
        # every batch (round-12 review finding; the window's partitionBy and
        # the fold's groupBy already treat NULL as one group)
        admitted = (
            ranked.join(
                F.broadcast(state.withColumnRenamed(domain_col, "_state_dom")),
                F.col(domain_col).eqNullSafe(F.col("_state_dom")),
                "left",
            )
            .drop("_state_dom")
            .filter(
                F.col("admit_rank")
                <= doc_cap - F.coalesce(F.col("n_admitted"), F.lit(0))
            )
            .select(
                id_col,
                domain_col,
                *([quality_col] if quality_col else []),
                "admit_rank",
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
            )
        )
        # single-execution barrier (round-12 ADVICE): without it the
        # rank-window + state-join plan executes TWICE — once for the
        # out_path append and again when `folded` materializes inside the
        # state commit (determinism kept that correct, just wasteful)
        admitted = admitted.localCheckpoint(eager=True)
        # append BEFORE committing state (see docstring) — and only the
        # deterministic projection above, so a crash-window replay appends
        # byte-identical rows
        admitted.write.mode("append").parquet(out_path)
        folded = (
            state.unionByName(
                admitted.groupBy(domain_col).agg(
                    F.count(F.lit(1)).cast("long").alias("n_admitted")
                )
            )
            .groupBy(domain_col)
            .agg(F.sum("n_admitted").cast("long").alias("n_admitted"))
        )
        return folded, {}

    return statestore.fold_fn(os.path.join(state_path, "admitted"), step)


def split_manifest(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    splits: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Deterministic train/val/test split audit: every row lands in a split
    by md5-bucket of its key (bucket = hex4(md5(key)) % 100, cumulative
    percentage cuts), and the manifest reports per-(stratum, split) counts
    with the realized share in micro-units — the reproducibility artifact a
    training pipeline publishes next to the data so ANY engine can re-derive
    membership (same portable-md5 contract as q45/q91; the %100 modulo
    carries a <0.2% bias from 65536 % 100 != 0, constant and documented).

    ``splits``: (name, upper_percent) cumulative cuts, default
    train<80 / val<90 / test<100. Returns
    (strata_col, split, n_rows, share_micro) — share within the stratum.
    """
    cuts = splits if splits is not None else [("train", 80), ("val", 90), ("test", 100)]
    bucket = hash_bucket(F.col(key_col).cast("string")) % 100
    assign = F.lit(cuts[-1][0])
    for name, hi in reversed(cuts[:-1]):
        assign = F.when(bucket < hi, F.lit(name)).otherwise(assign)
    out = df.select(F.col(strata_col).alias("stratum"), assign.alias("split"))
    per = out.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    tot = per.groupBy("stratum").agg(F.sum("n_rows").alias("t"))
    return per.join(tot, "stratum").select(
        "stratum",
        "split",
        "n_rows",
        F.expr("(1000000 * n_rows) div t").alias("share_micro"),
    )


def group_safe_split(
    df: DataFrame,
    key_col: str,
    group_col: str,
    splits: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Leakage-free train/val/test split audit: rows are assigned to splits
    by the md5-bucket of their GROUP key (near-duplicate cluster id, exact
    digest, entity id …), never their row key — so a duplicate cluster can
    never straddle a split boundary and leak evaluation content into
    training (the classic contamination failure ``split_manifest``'s
    per-row assignment cannot prevent).

    ``splits``: (name, upper_percent) cumulative cuts as in
    ``split_manifest``. Returns (split, n_rows, n_groups, n_dup_rows) —
    n_dup_rows counts rows living in groups of size > 1 (the rows whose
    placement actually depended on the group rule).

    A NULL group key means "this row belongs to no cluster": it becomes a
    SINGLETON group keyed by a row-key-derived id BEFORE bucketing and
    sizing, so every input row lands in exactly ONE split and the audit's
    n_rows always totals the input (the pre-fix behavior silently dropped
    null-group rows at the inner size join — round-8 ADVICE). NOTE the
    singleton id is "\\x00row:<key>", NOT the bare row key: the prefix
    prevents an ungrouped row whose key string equals some real group id
    from silently joining that group. Consequence: this is NOT
    assignment-equivalent to pre-coalescing NULLs to the bare key yourself
    (q199's spelling) — the md5 bucket of the prefixed id differs. Pick one
    spelling per pipeline and keep it.

    Scale: one (group → size) map-side-combined rollup joined back on the
    group key (shuffle-parallel, keyed by group), the same pure md5 bucket
    expression as every hash sampler here, then a |splits|-row rollup.
    """
    cuts = splits if splits is not None else [("train", 80), ("val", 90), ("test", 100)]
    g = F.coalesce(
        F.col(group_col).cast("string"),
        F.concat(F.lit("\x00row:"), F.col(key_col).cast("string")),
    )
    keyed = df.select(F.col(key_col), g.alias("_g"))
    bucket = hash_bucket(F.col("_g")) % 100
    assign = F.lit(cuts[-1][0])
    for name, hi in reversed(cuts[:-1]):
        assign = F.when(bucket < hi, F.lit(name)).otherwise(assign)
    sizes = keyed.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_gsz"))
    return (
        keyed.join(sizes, "_g")
        .select(assign.alias("split"), F.col("_g"), "_gsz")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("_g").cast("long").alias("n_groups"),
            F.sum(F.when(F.col("_gsz") > 1, 1).otherwise(0)).cast("long").alias("n_dup_rows"),
        )
    )


def weighted_reservoir_stream_fn(
    state_path: str,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
):
    """``foreachBatch`` maintainer of a fixed-size WEIGHTED sample over an
    append stream — the streaming twin of :func:`weighted_sample_topk`.

    Why it composes: the Efraimidis–Spirakis key (``ln(u)/w`` with u the
    deterministic md5-uniform) is a PER-ROW property, so "top-k over all
    rows seen" is merge-associative — top-k(state ∪ top-k(batch)) equals
    top-k(everything). Each micro-batch therefore costs one map expression
    + TakeOrderedAndProject over the batch, then a k-vs-k merge against
    the persisted sample; state is exactly k rows forever. The same
    determinism makes replays SAFE by construction (same rows → same keys
    → same winners), but the sample is still folded into
    ``<state_path>/sample`` by ``statestore.fold_fn`` like every
    maintainer here, so a replayed batch is skipped without even reading
    the corpus.

    Rows with non-positive weight are excluded by the
    ``weighted_sample_topk`` contract. The persisted sample carries
    (key_col, weight_col, es_key); downstream joins re-attach payloads.

    A ``key_col`` value that RECURS — across batches or within one — is
    collapsed to ONE slot: every commit dedups per key, keeping the
    (es_key, weight)-max row — deterministic (max of a struct, no
    first()/dropDuplicates tie ambiguity), so replay still reproduces
    byte-identical state. Without this, a recurring key occupies two of
    the k sample slots with identical es_key — matching batch
    ``weighted_sample_topk`` on duplicated input, but not what a
    "sampling without replacement" reservoir should hand a downstream
    join (round-10 ADVICE; the within-batch case closed in round 11).
    The standalone batch operator keeps duplicated-input = duplicated-
    output semantics; only the maintainer enforces the one-slot
    invariant.
    """
    import os

    from universal_aws_data_pipeline_spark.operators import statestore

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def step(batch_df: DataFrame, batch_id: int, prev: DataFrame | None, meta: dict):
        # one slot per key on EVERY path: dedup the batch BEFORE the
        # top-k truncation (a duplicate surviving into the k-row batch
        # sample would burn a slot the next-best key should hold). Max
        # weight per key IS the (rounded-)es_key-max row: u is fixed per
        # key and es_key = ln(u)/w with ln(u) < 0, monotone in w — a
        # map-side-combinable pre-aggregate, deterministic, replay-stable.
        batch_best = batch_df.filter(F.col(weight_col) > 0).groupBy(key_col).agg(
            F.max(weight_col).alias(weight_col)
        )
        merged = weighted_sample_topk(batch_best, weight_col, k, key_col)
        if prev is not None:
            # state and batch sample are each key-unique; the union can
            # still repeat a key ACROSS them — keep the (es_key, weight)-
            # max row per key (deterministic struct-max), then re-truncate
            merged = (
                prev.unionByName(merged)
                .groupBy(key_col)
                .agg(F.max(F.struct("es_key", weight_col)).alias("_m"))
                .select(
                    key_col,
                    F.col(f"_m.{weight_col}").alias(weight_col),
                    F.col("_m.es_key").alias("es_key"),
                )
                .orderBy(F.col("es_key").desc(), F.col(key_col))
                .limit(k)
            )
        return merged, {}

    return statestore.fold_fn(os.path.join(state_path, "sample"), step)
