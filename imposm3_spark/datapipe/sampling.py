"""Deterministic sampling operators for training-data curation.

Training pipelines need REPRODUCIBLE samples: the same corpus + the same
config must yield the same subset on any engine, any partitioning, any
executor count. Random() is out; everything here keys off the first 32
bits of md5 over the row id — the repo-wide convention for
engine-independent hashing (DuckDB reproduces it bit-exactly with
``CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)``).
md5 mixes EVERY output bit, so modulus selection is uniform even on
structured id sets (block-allocated ids, shard-encoded low bits) — the
failure mode of multiplicative hashing, whose low bits are unmixed — and
the arithmetic cannot overflow in any engine.

Scale design:
- `hash_sample` is a pure filter — scan-speed, no shuffle, pushes down.
- `stratified_quota` (top-K per stratum by hash order) is one window over
  a shuffle on the stratum key. Strata counts are usually modest (sources,
  languages); per-stratum skew is bounded by the quota itself — the window
  only materializes rank <= K per partition via the rank filter, and at
  100 TB the right physical shape is exactly this: one exchange on the
  stratum key, no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def plan_parallelism(df: DataFrame, bytes_per_partition: int = 64 * 1024 * 1024) -> int:
    """Partition count for the two-phase prefix-sum exchanges WITHOUT
    executing the input plan.

    The former ``df.rdd.getNumPartitions()`` is NOT a metadata read under
    AQE: ``.rdd`` calls ``queryExecution.toRdd`` and
    AdaptiveSparkPlanExec.doExecute materializes every non-final query
    stage — for an aggregated input that EXECUTES the upstream subtree
    once just to read a partition count, and the eager pin that follows
    executes it again (round-10 thread-dump evidence). Its one virtue
    was that the count came back AQE-coalesced, i.e. data-adaptive —
    a plain ``defaultParallelism`` replacement was A/B-measured WORSE at
    sf0.1 (32 tiny range partitions + 32 mapInPandas worker calls where
    AQE had coalesced to a handful).

    This derives the same data-adaptive signal from the optimizer's size
    ESTIMATE instead (no jobs run): estimated bytes / 64 MB, clamped to
    [1, 8x default parallelism] (the cap bounds the driver-side offset
    dict and the boundary-sampling job; 64 MB per range partition is the
    guide §2.2 partition-size band). Estimates are rough post-aggregation,
    but n_parts only shapes the physical split: every two-phase caller is
    n_parts-INVARIANT in its values — ranges partition a unique global
    order and the driver offsets reconstruct exact global sums/ranks for
    any positive count (oracle-verified across both choices)."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # stats unavailable -> fall back to core count
        size = 0
    sc = df.sparkSession.sparkContext
    cap = max(int(sc.defaultParallelism), 1) * 8
    if size <= 0:
        return max(int(sc.defaultParallelism), 1)
    return min(max(size // bytes_per_partition, 1), cap)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a SMALL input to cluster parallelism ahead
    of a compute-amplifying kernel (per-character gram explodes, per-token
    higher-order md5 hashing, multi-regex scoring).

    Parquet scans split by BYTES (the session's maxPartitionBytes),
    which is right when per-byte work is O(1) but wrong when the next
    operator multiplies work per byte 10-100x and the input fills fewer
    splits than the cluster has cores: a sub-split corpus is ONE task no
    matter how many cores idle (guide §2.5 input-skew class — measured at
    sf0.1: the winnowing gram+md5 stage 2.9 s on the 1-task scan, 0.5 s
    after the spread). The gate is METADATA-ONLY — the optimizer's size
    estimate, never ``.rdd`` (which executes AQE stages): when the
    estimate already fills >= one scan split per core, the scan
    parallelizes naturally and the repartition would only add an exchange,
    so it is skipped — at real scale this is a no-op by construction.
    Unknown/huge estimates (e.g. checkpointed RDD inputs) also skip.

    Every caller's values are partitioning-invariant (per-row kernels +
    keyed re-aggregation downstream), and round-robin repartition is
    retry-safe (sortBeforeRepartition is on by default)."""
    import os

    if os.environ.get("SPARK_GRAFT_SPREAD") == "0":  # A/B kill switch
        return df
    spark = df.sparkSession
    cores = max(int(spark.sparkContext.defaultParallelism), 1)
    if cores <= 1:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        est = int(str(plan.stats().sizeInBytes()))
        split = int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    except Exception:
        return df
    if est <= 0 or est > cores * split:
        return df
    # Idempotence guard for composed pipelines, on node classes (a literal
    # in a filter is no node): a Repartition upstream means a spread already
    # happened (don't pay a second exchange), and a LogicalRDD leaf is a
    # checkpointed pin whose producer already chose the partitioning (in
    # this codebase pins materialize from spread plans).
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName().startswith(("Repartition", "LogicalRDD")):
            return df
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return df.repartition(cores)


def det_hash(id_col: Column) -> Column:
    """Deterministic 32-bit hash of an integer id: the first 8 hex chars
    of md5(CAST(id AS STRING)) as an unsigned integer. Uniform in all
    bits; reproducible in any engine with md5()."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("bigint")


def weighted_sample(
    df: DataFrame, weight_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each row draws key = ln(u)/w with u uniform in (0,1], and the k
    LARGEST keys form the sample — inclusion probability proportional to
    weight, exactly one pass, no per-stratum state.

    u is deterministic (md5 of the id: 15 hex chars +1 over 2^60), so the
    sample is reproducible anywhere — the DuckDB oracle draws the same
    keys. Returns (id, weight, skey) with skey rounded for display; the
    selection itself uses the unrounded key with id tie-break.

    Scale: key generation is a scan-speed expression; the top-k is
    orderBy+limit, which Spark executes as TakeOrdered (per-partition
    heaps + a k-row driver merge), NOT a global sort — the canonical
    distributed weighted-sampling shape. Weights must be positive."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    u = (h + 1).cast("double") / F.lit(1152921504606846976.0)  # 2^60
    skey = F.log(u) / F.col(weight_col)
    return (
        df.select(F.col(id_col), F.col(weight_col), skey.alias("_k"))
        .orderBy(F.desc("_k"), F.asc(id_col))
        .limit(k)
        .select(id_col, weight_col, F.round("_k", 6).alias("skey"))
    )


def hash_sample(df: DataFrame, id_col: str, pct: int) -> DataFrame:
    """Keep ~pct% of rows, deterministically, by id hash. Pure filter.
    Nested property: the pct=5 sample is a subset of the pct=20 sample."""
    return df.filter(det_hash(F.col(id_col)) % 100 < pct)


def stratified_quota(
    df: DataFrame, strata_col: str, id_col: str, quota: int
) -> DataFrame:
    """Keep at most `quota` rows per stratum, chosen by deterministic hash
    order (ties broken by id, so the selection is a total order)."""
    rk = "_rk"
    while rk in df.columns:  # never clobber a caller column
        rk += "_"
    w = Window.partitionBy(strata_col).orderBy(
        det_hash(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= quota)
        .drop(rk)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    max_tokens: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (the pre-training
    sequence-packing step): docs are sharded into ``n_buckets`` by id hash,
    ordered deterministically within each bucket, and packed greedily by
    running token count — pack k holds the docs whose preceding cumulative
    length falls in [k*max_tokens, (k+1)*max_tokens).

    Adds ``bucket``, ``pack_id`` and ``pack_offset`` (token offset of the
    doc inside its pack; a doc longer than the budget occupies its pack
    alone from offset 0 and spills — callers split oversized docs
    upstream).

    Scale: a GLOBAL greedy pack would need a total order (one reducer).
    Sharding first bounds every window to bucket-sized data — one exchange
    on the bucket key, then a per-bucket running sum; packs are
    independent across buckets by construction, which is exactly how a
    distributed trainer consumes them (one shard list per worker)."""
    bucket = (det_hash(F.col(id_col)) % n_buckets).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(
        det_hash(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    cum_before = F.coalesce(
        F.sum(F.col(len_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        df.withColumn("bucket", bucket)
        .withColumn("_cb", cum_before)
        .withColumn("pack_id", F.floor(F.col("_cb") / max_tokens))
        .withColumn("pack_offset", F.col("_cb") % max_tokens)
        .drop("_cb")
    )


def budget_select(
    df: DataFrame,
    priority_col: str,
    tokens_col: str,
    budget: int,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy token-budget selection, distributed: keep the prefix of
    documents (ordered by priority desc, id asc) whose cumulative token
    count stays within ``budget``. Adds a ``cum_tokens`` column.

    Two-phase global prefix sum instead of a single-partition window
    (``Window.orderBy`` without partitionBy funnels the whole corpus
    through ONE task):

      1. range-repartition on the order key + sort within partitions —
         the same exchange a global sort pays, but downstream work stays
         parallel;
      2. per-partition token totals (one tiny aggregate) -> driver
         prefix-sum -> broadcast offsets;
      3. each partition computes its local running sum + its offset and
         filters — one mapInPandas pass, no second shuffle.

    The unique ``id_col`` tie-break makes the global order (and thus the
    selected set) independent of the partitioning."""
    import pandas as pd
    from pyspark import TaskContext

    n_parts = num_partitions or plan_parallelism(df)
    ordered = df.repartitionByRange(
        n_parts, F.col(priority_col).desc(), F.col(id_col).asc()
    ).sortWithinPartitions(F.col(priority_col).desc(), F.col(id_col).asc())
    # Pin the partitioning: repartitionByRange SAMPLES its boundaries per
    # job, so running the totals action and the mapInPandas action against
    # the live plan can yield DIFFERENT boundaries once partitions exceed
    # the boundary sample — offsets from job 1 applied to job 2's
    # partitions would corrupt cum_tokens. An eager localCheckpoint
    # materializes one partitioning both jobs share.
    ordered = ordered.localCheckpoint(eager=True)

    totals = (
        ordered.select(
            F.spark_partition_id().alias("_pid"), F.col(tokens_col).alias("_t")
        )
        .groupBy("_pid")
        .agg(F.sum("_t").alias("_total"))
        .collect()
    )
    by_pid = {r["_pid"]: r["_total"] for r in totals}
    offsets = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]

    from pyspark.sql.types import LongType, StructField, StructType

    # note: StructType.add mutates in place — build a copy
    schema = StructType(
        list(ordered.schema.fields) + [StructField("cum_tokens", LongType())]
    )

    def take_prefix(batches):
        pid = TaskContext.get().partitionId()
        running = offsets.get(pid, 0)
        if running > budget:
            return  # whole partition is past the budget
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cum = pdf[tokens_col].cumsum() + running
            running = int(cum.iloc[-1])
            out = pdf.assign(cum_tokens=cum.astype("int64"))
            out = out[out["cum_tokens"] <= budget]
            if len(out):
                yield out
            if running > budget:
                return

    return ordered.mapInPandas(take_prefix, schema=schema)


def with_global_row_numbers(
    df: DataFrame,
    order_cols: list,
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row numbers in ``order_cols`` order WITHOUT a
    single-task window: range repartition + local sort (the same exchange
    a total sort pays), per-partition row counts -> driver prefix sum ->
    broadcast offsets, then one mapInPandas pass adds offset + local
    index. Rank-family windows (row_number/ntile/percent_rank over a
    global ORDER BY) all derive from this with the total count."""
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    n_parts = num_partitions or plan_parallelism(df)
    ordered = df.repartitionByRange(n_parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    # Same boundary-stability requirement as budget_select: both the
    # counts job and the numbering job must observe ONE sampled range
    # partitioning, so materialize it once.
    ordered = ordered.localCheckpoint(eager=True)
    counts = (
        ordered.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]

    schema = StructType(list(ordered.schema.fields) + [StructField(rn_col, LongType())])

    def number(batches):
        import pandas as pd  # noqa: F401

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            idx = pd.RangeIndex(base + 1, base + n + 1)
            base += n
            yield pdf.assign(**{rn_col: idx.to_numpy()})

    return ordered.mapInPandas(number, schema=schema)


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-reweighted source/language mixing (the multilingual-
    pretraining resampling step): downsample strata so the KEPT corpus
    follows q_i ∝ p_i^alpha instead of the raw p_i — alpha < 1 flattens
    head strata toward the tail. Deterministic: row selection is the
    md5-hash filter, so the same corpus + alpha yields the same subset on
    any engine/partitioning.

    Per-stratum keep rate: r_i = q_i * N* / n_i with N* = min_i n_i / q_i,
    the largest total for which every rate stays <= 1 (the argmin stratum
    keeps ALL rows; only-downsampling keeps the op deterministic — no row
    duplication). Rates round to 6 decimals so the float threshold compares
    identically across engines.

    Scale: one tiny groupBy on the stratum key (stratum cardinality sized,
    map-side combined), rates via windows over that tiny frame, then a
    broadcast join back and a pure filter — the corpus itself is never
    shuffled."""
    counts = df.groupBy(strata_col).count()
    w_all = Window.partitionBy()
    rates = (
        counts.withColumn("_w", F.pow(F.col("count").cast("double"), F.lit(alpha)))
        .withColumn("_q", F.col("_w") / F.sum("_w").over(w_all))
        .withColumn("_nstar", F.min(F.col("count") / F.col("_q")).over(w_all))
        .withColumn(
            "keep_rate",
            F.round(
                F.least(F.lit(1.0), F.col("_q") * F.col("_nstar") / F.col("count")), 6
            ),
        )
        .select(strata_col, "keep_rate")
    )
    u = det_hash(F.col(id_col)) / F.lit(4294967296.0)
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(u < F.col("keep_rate"))
        .drop("keep_rate")
    )


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights for targeted data selection (hashed
    n-gram importance resampling, Xie et al. 2023, public method): model
    the target and raw corpora as unigram+bigram distributions over
    ``n_buckets`` hashed feature buckets and score every corpus doc by its
    summed log likelihood ratio — documents that look like the target get
    high weight. Returns (id_col, n_feats, logw).

    Exactness: the per-bucket log-ratio is floor-quantized ONCE to 1e-6
    units on the n_buckets-row table, so the per-doc score is an exact
    INTEGER sum (order-free across engines) emitted as one fixed
    division — a float sum of log terms would be order-dependent, and
    the residual libm-ulp exposure is confined to n_buckets floor cells
    instead of every per-doc sum.

    Laplace add-1 smoothing on both distributions keeps every bucket ratio
    finite. Everything is expressions + two bucket-sized aggregates: the
    feature table (explode) shuffles (bucket) pairs once per side, the
    per-bucket log-ratio table is n_buckets rows and broadcasts back onto
    the corpus features — corpus text is scanned once, never reshuffled."""
    from imposm3_spark.datapipe.dedup import shingles, tokens

    def feats(d: DataFrame, keep_id: bool) -> DataFrame:
        uni = tokens(F.lower(F.col(text_col)))
        bi = shingles(F.col(text_col), k=2)
        all_f = F.concat(uni, bi)
        bucket = F.explode(
            F.transform(
                all_f,
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
                .cast("bigint")
                % n_buckets,
            )
        ).alias("bucket")
        cols = [F.col(id_col), bucket] if keep_id else [bucket]
        return d.select(*cols)

    t_counts = feats(target, False).groupBy("bucket").count()
    r_counts = feats(corpus, False).groupBy("bucket").count()
    # totals via window over the tiny bucket frames (no driver round-trip)
    w_all = Window.partitionBy()
    buckets = (
        t_counts.withColumnRenamed("count", "t_n")
        .join(r_counts.withColumnRenamed("count", "r_n"), "bucket", "full")
        .na.fill(0, ["t_n", "r_n"])
        .withColumn("_tt", F.sum("t_n").over(w_all))
        .withColumn("_rt", F.sum("r_n").over(w_all))
        .withColumn(
            "log_ratio",
            F.log((F.col("t_n") + 1) / (F.col("_tt") + n_buckets))
            - F.log((F.col("r_n") + 1) / (F.col("_rt") + n_buckets)),
        )
        .withColumn(
            "lq", F.floor(F.col("log_ratio") * F.lit(1000000.0)).cast("bigint")
        )
        .select("bucket", "lq")
    )
    return (
        feats(corpus, True)
        .join(F.broadcast(buckets), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            (
                F.sum(F.coalesce("lq", F.lit(0).cast("bigint"))).cast("double")
                / F.lit(1000000.0)
            ).alias("logw"),
        )
    )


def stratified_kfold(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Stratified k-fold assignment with an EXACT balance guarantee:
    within every stratum, rows are ranked by the deterministic md5 draw
    and folds assigned round-robin by rank — fold sizes within a stratum
    differ by at most 1 (hash-mod assignment only balances in
    expectation; rank-mod balances by construction). The cross-validation
    splitter for training-data pipelines.

    Returns the input ids with (stratum, fold). One keyed exchange for
    the per-stratum rank window; the draw is reproducible anywhere
    (md5 of the id — no RNG, no partition dependence).
    """
    draw = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(stratum_col).orderBy(draw, F.col(id_col))
    return df.select(
        F.col(id_col),
        F.col(stratum_col),
        ((F.row_number().over(w) - 1) % k).cast("int").alias("fold"),
    )


def with_global_cumsums(
    df: DataFrame,
    order_cols: list,
    sum_cols: list,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running sums of ``sum_cols`` in ``order_cols`` order
    WITHOUT a single-task window: the same two-phase shape as
    with_global_row_numbers — range exchange + local sort, ONE
    materialized partitioning, per-partition totals -> driver prefix
    offsets (bounded by partition count), then a mapInPandas pass adds
    offset + local cumsum. Appends ``cum_<col>`` for every sum column."""
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    n_parts = num_partitions or plan_parallelism(df)
    ordered = df.repartitionByRange(n_parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    ordered = ordered.localCheckpoint(eager=True)
    totals = (
        ordered.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    by_pid = {r["_pid"]: [int(r[c] or 0) for c in sum_cols] for r in totals}
    offsets: dict[int, list[int]] = {}
    acc = [0] * len(sum_cols)
    for pid in sorted(by_pid):
        offsets[pid] = list(acc)
        acc = [a + b for a, b in zip(acc, by_pid[pid])]

    schema = StructType(
        list(ordered.schema.fields)
        + [StructField(f"cum_{c}", LongType()) for c in sum_cols]
    )

    def run(batches):
        pid = TaskContext.get().partitionId()
        base = list(offsets.get(pid, [0] * len(sum_cols)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf
            for j, c in enumerate(sum_cols):
                cum = pdf[c].cumsum() + base[j]
                base[j] = int(cum.iloc[-1])
                out = out.assign(**{f"cum_{c}": cum.astype("int64")})
            yield out

    return ordered.mapInPandas(run, schema=schema)
