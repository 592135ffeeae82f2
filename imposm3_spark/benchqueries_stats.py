"""Round-3 additions: anomaly/sketch statistics, semantic dedup, graded
contamination, Gopher rule table, and minhash duplicate clusters.

Registered into the same QUERIES/ORACLES registry as benchqueries:

* ``events_zscore_anomaly``   per-user rolling z-score outliers (integer-
                              cents exact math — bit-identical doubles)
* ``events_cms_heavy``        count-min-sketch frequency estimates with the
                              sketch rebuilt bit-for-bit in the oracle
* ``events_approx_distinct``  HLL++ mergeable distinct counts checked
                              against an exact-count error bound
* ``doc_gopher_rules``        Gopher-style quality rule table (pure
                              expressions, zero shuffle)
* ``doc_contamination_score`` graded eval-overlap fraction per document
* ``doc_minhash_clusters``    connected components over MinHash-LSH pairs
* ``emb_semdedup``            SemDeDup: semantic-cell dedup keeping the
                              lowest-id representative per near-dup group
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imposm3_spark.benchqueries import _sql_minhash_bands, _t, register
from imposm3_spark.datapipe import dedup as dd
from imposm3_spark.datapipe import similarity as sim
from imposm3_spark.datapipe import stats as st
from imposm3_spark.datapipe import text as tx
from imposm3_spark.datapipe.cluster import connected_components


@register(
    "events_zscore_anomaly",
    # Exact-parity design: all window aggregates run on integer cents
    # (value has 2 decimals), and the single float expression
    # z = A / sqrt(B * n / (n-1)) with A = cents*n - s, B = n*ss - s^2
    # evaluates bit-identically in both engines (see datapipe.stats).
    """
    WITH c AS (
      SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), w AS (
      SELECT event_id, user_id, cents,
             count(*) OVER fr AS n,
             sum(cents) OVER fr AS s,
             sum(cents * cents) OVER fr AS ss
      FROM c
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, n, z FROM (
      SELECT event_id, user_id, n,
             round(CAST(cents * n - s AS DOUBLE)
                   / sqrt(CAST(n * ss - s * s AS DOUBLE) * CAST(n AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE)), 4) AS z
      FROM w WHERE n >= 8 AND (n * ss - s * s) > 0
    ) WHERE abs(z) > 3
    """,
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: events whose value deviates more than 3
    sample-stddevs from the user's previous-20-event window."""
    return st.anomalies(_t(spark, sf_dir, "events"), z_threshold=3.0)


@register(
    "events_user_trend",
    # same integer-exact design as events_zscore_anomaly: exact BIGINT
    # sufficient statistics, per-term double casts in a fixed order.
    """
    WITH c AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS y,
             date_diff('second', TIMESTAMP '2001-01-01 00:00:00', ts) AS x
      FROM events
    ), shifted AS (
      SELECT user_id, y, x - min(x) OVER (PARTITION BY user_id) AS xs FROM c
    ), a AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(xs) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(xs * y) AS BIGINT) AS sxy,
             CAST(sum(xs * xs) AS BIGINT) AS sxx
      FROM shifted GROUP BY user_id
    )
    SELECT user_id, n, trend_per_day FROM (
      SELECT user_id, n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 86400.0,
                   6) AS trend_per_day
      FROM a
    ) WHERE den > 0
    """,
)
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (cents/day) from one pass of exact integer
    sufficient statistics (stats.group_ols_trend)."""
    return st.group_ols_trend(_t(spark, sf_dir, "events"))


@register(
    "events_value_hour_corr",
    # Pearson r from exact integer sufficient statistics (cents x hour),
    # per-term double casts in a fixed order — bit-identical doubles.
    """
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y,
             CAST(hour(ts) AS BIGINT) AS x
      FROM events
    ), a AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM c GROUP BY event_type
    )
    SELECT event_type, n, r FROM (
      SELECT event_type, n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                   6) AS r
      FROM a
    ) WHERE vx > 0 AND vy > 0
    """,
)
def events_value_hour_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation between event value (cents) and hour
    of day — the same exact-integer-sufficient-statistics design as
    events_user_trend, extended to the bivariate second moments."""
    ev = _t(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
        F.hour(F.col("ts").cast("timestamp")).cast("bigint").alias("x"),
    )
    a = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    r = F.round((d("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(vx * vy), 6)
    return a.filter((vx > 0) & (vy > 0)).select("event_type", "n", r.alias("r"))


@register(
    "events_value_histogram",
    # exact integer binning (cents // 5000) — counts hash-match.
    """
    SELECT event_type,
           CAST(round(value * 100) AS BIGINT) // 5000 AS bucket,
           count(*) AS n
    FROM events GROUP BY event_type, bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (integer division over
    cents — exact, map-side combinable, one shuffle on the tiny
    (type, bucket) key space)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.expr("CAST(round(value * 100) AS BIGINT) div 5000")
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )


def _sql_cms(width: int = 16, depth: int = 3) -> str:
    buckets = ",\n             ".join(
        f"(('0x' || substr(md5('{j}:' || key), 1, 15))::BIGINT) % {width} AS b{j}"
        for j in range(depth)
    )
    cells = ",\n    ".join(
        f"c{j} AS (SELECT b{j} AS cell, CAST(sum(exact) AS BIGINT) AS t{j} "
        f"FROM hashed GROUP BY b{j})"
        for j in range(depth)
    )
    joins = " ".join(f"JOIN c{j} ON b{j} = c{j}.cell" for j in range(depth))
    least = ", ".join(f"t{j}" for j in range(depth))
    return f"""
    WITH keys AS (
      SELECT event_type AS key, count(*) AS exact FROM events GROUP BY event_type
    ), hashed AS (
      SELECT key, exact,
             {buckets}
      FROM keys
    ),
    {cells}
    SELECT key AS event_type, least({least}) AS est, exact,
           least({least}) - exact AS overcount
    FROM hashed {joins}
    """


@register("events_cms_heavy", _sql_cms())
def events_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (width 16 forces collisions so
    the overcount path is exercised); the oracle rebuilds the identical
    sketch, so est/exact/overcount all value-check."""
    return st.count_min_estimates(_t(spark, sf_dir, "events"), "event_type", width=16, depth=3)


@register(
    "events_approx_distinct",
    # invariant oracle: the HLL++ estimate itself is implementation-defined
    # and excluded from the hashed columns; the bound flag must be TRUE.
    """
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL++ distinct counts per event type, asserted within 15%
    of the exact count (3x the 5% target rsd)."""
    return st.approx_distinct_check(_t(spark, sf_dir, "events"), "event_type", "user_id")


@register(
    "doc_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
                 / 1152921504606846976.0)) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, n_chars, round(k, 6) AS skey
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (sampling.weighted_sample): 50 docs with inclusion probability
    proportional to n_chars; md5-derived uniforms make the draw
    reproducible in the oracle."""
    from imposm3_spark.datapipe.sampling import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), "n_chars", 50)


@register(
    "events_hll_rollup",
    # invariant oracle: sketch bytes are implementation-defined; the
    # day-count and exact distinct ground the merge, the flag must hold.
    """
    SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           count(DISTINCT user_id) AS exact_distinct,
           TRUE AS merged_within_bound
    FROM events GROUP BY event_type
    """,
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical HLL rollup: per-(type, day) sketches unioned to
    per-type estimates — the mergeability property that lets daily shards
    sketch independently at ingest and combine without re-reading raw
    data (stats.hll_merge_check)."""
    return st.hll_merge_check(_t(spark, sf_dir, "events"), "event_type", "ts", "user_id")


@register(
    "doc_gopher_rules",
    r"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), f AS (
      SELECT doc_id,
             len(tokens) AS n_tokens,
             CASE WHEN len(tokens) > 0
                  THEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS mean_len,
             CASE WHEN len(tokens) > 0
                  THEN CAST(len(list_filter(tokens, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS alpha_ratio,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS symbol_ratio,
             len(list_distinct(list_filter(tokens,
                 t -> t IN ('the','and','of','to','a','in','is','that')))) AS dsw
      FROM toks
    )
    SELECT doc_id, n_tokens,
           n_tokens >= 10 AND n_tokens <= 100000 AS r_word_count,
           mean_len >= 2.0 AND mean_len <= 12.0 AS r_mean_word_len,
           alpha_ratio >= 0.8 AS r_alpha_ratio,
           symbol_ratio < 0.1 AS r_symbol_ratio,
           dsw >= 2 AS r_stopwords,
           (n_tokens >= 10 AND n_tokens <= 100000)
             AND (mean_len >= 2.0 AND mean_len <= 12.0)
             AND alpha_ratio >= 0.8 AND symbol_ratio < 0.1 AND dsw >= 2 AS passes
    FROM f
    """,
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rule table: per-rule booleans + conjunction flag."""
    return tx.gopher_rules(_t(spark, sf_dir, "documents"))


@register(
    "doc_contamination_score",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tokens) - 2, 0) + 1),
        i -> array_to_string(tokens[i:i+2], ' '))) AS shs
      FROM toks
    ), bench AS (
      SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0
    ), corp AS (
      SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0
    ), agg AS (
      SELECT doc_id, count(*) AS n_shingles,
             CAST(coalesce(sum(CASE WHEN s IN (SELECT s FROM bench) THEN 1 END), 0)
                  AS BIGINT) AS n_shared
      FROM corp GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap_frac
    FROM agg
    """,
)
def doc_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination: per-doc fraction of distinct 3-gram shingles
    shared with the held-out slice (doc_id % 97 == 0 stands in for the
    eval set, as in doc_decontaminate)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dd.contamination_score(corpus, bench, shingle_k=3)


@register(
    "doc_minhash_clusters",
    _sql_minhash_bands().replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """
    , pairs AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node
    """,
)
def doc_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the MinHash-LSH candidate graph: connected
    components (min-label) — the doc-side analog of emb_neardup_clusters,
    the grouping a corpus-scale near-dedup pass feeds into its
    keep-one-representative step."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs)
    return connected_components(
        docs.select("doc_id"), pairs, node_col="doc_id", src="id_a", dst="id_b"
    )


@register(
    "doc_rag_retrieve",
    # retrieval composition: exact cosine top-3 per query vector, hydrated
    # with the matching document row and its Gopher quality gate — the
    # retrieve-then-filter shape of a RAG / dedup-aware data loader.
    r"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             round(list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6) AS sim
      FROM q CROSS JOIN embeddings e WHERE q.query_id != e.vec_id
    ), topk AS (
      SELECT query_id, cand_id, sim, rank FROM (
        SELECT query_id, cand_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
        FROM scored
      ) WHERE rank <= 3
    ), toks AS (
      SELECT doc_id, lang, n_chars, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), gate AS (
      SELECT doc_id, lang, n_chars,
             (len(tokens) >= 10 AND len(tokens) <= 100000)
             AND (CASE WHEN len(tokens) > 0
                       THEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(tokens)
                       ELSE 0.0 END BETWEEN 2.0 AND 12.0)
             AND (CASE WHEN len(tokens) > 0
                       THEN CAST(len(list_filter(tokens, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(tokens)
                       ELSE 0.0 END >= 0.8)
             AND (CASE WHEN length(text) > 0
                       THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text)
                       ELSE 0.0 END < 0.1)
             AND len(list_distinct(list_filter(tokens,
                     t -> t IN ('the','and','of','to','a','in','is','that')))) >= 2 AS passes
      FROM toks
    )
    SELECT t.query_id, g.doc_id, t.rank, t.sim, g.lang, g.n_chars, g.passes
    FROM topk t JOIN gate g ON g.doc_id = t.cand_id
    """,
)
def doc_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-filter: exact top-3 ANN per query vector joined back
    to the document table with the Gopher quality gate attached — the
    composed read path of a retrieval/data-loader pipeline (ANN machinery
    + doc hydration + quality filtering in one plan)."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    topk = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    gate = tx.gopher_rules(docs).select("doc_id", "passes")
    hydrated = docs.select("doc_id", "lang", "n_chars").join(
        F.broadcast(gate), "doc_id"
    )
    return topk.join(
        hydrated, topk["vec_id"] == hydrated["doc_id"]
    ).select("query_id", "doc_id", "rank", "sim", "lang", "n_chars", "passes")


@register(
    "lineitem_approx_quantiles",
    # invariant oracle: the GK sketch value is implementation-defined, so
    # the hashed columns are the group key and the bound flags — each
    # approximate quantile must land inside the exact [p-2%, p+2%] value
    # envelope guaranteed by accuracy=100.
    """
    SELECT l_returnflag, TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate group quantiles (percentile_approx, the GK
    sketch — map-side combinable, the 100 TB path lineitem_quantiles
    documents) validated against exact rank-error envelopes."""
    li = _t(spark, sf_dir, "lineitem")
    approx = F.expr(
        "percentile_approx(l_quantity, array(0.25D, 0.5D, 0.75D), 100)"
    )
    exact = F.expr(
        "percentile(l_quantity, array(0.23D, 0.27D, 0.48D, 0.52D, 0.73D, 0.77D))"
    )
    agg = li.groupBy("l_returnflag").agg(approx.alias("a"), exact.alias("e"))
    return agg.select(
        "l_returnflag",
        ((F.col("a")[0] >= F.col("e")[0]) & (F.col("a")[0] <= F.col("e")[1])).alias("ok25"),
        ((F.col("a")[1] >= F.col("e")[2]) & (F.col("a")[1] <= F.col("e")[3])).alias("ok50"),
        ((F.col("a")[2] >= F.col("e")[4]) & (F.col("a")[2] <= F.col("e")[5])).alias("ok75"),
    )


@register(
    "doc_bigram_nll",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), nz AS (
      SELECT doc_id, tokens FROM toks WHERE len(tokens) > 0
    ), uni AS (
      SELECT w, count(*) AS c1 FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
    ), tot AS (
      SELECT count(*) AS n FROM (SELECT unnest(tokens) AS w FROM toks)
    ), big AS (
      SELECT prev, w, count(*) AS c2 FROM (
        SELECT tokens[i] AS prev, tokens[i+1] AS w
        FROM nz, unnest(range(1, len(tokens))) AS u(i)
      ) GROUP BY prev, w
    ), contrib AS (
      SELECT doc_id, -ln(CAST(u.c1 AS DOUBLE) / (SELECT n FROM tot)) AS nll_tok
      FROM (SELECT doc_id, tokens[1] AS w FROM nz) f JOIN uni u USING (w)
      UNION ALL
      SELECT s.doc_id,
             -ln(0.75 * (CAST(b.c2 AS DOUBLE) / up.c1)
                 + 0.25 * (CAST(uw.c1 AS DOUBLE) / (SELECT n FROM tot))) AS nll_tok
      FROM (SELECT doc_id, tokens[i] AS prev, tokens[i+1] AS w
            FROM nz, unnest(range(1, len(tokens))) AS u(i)) s
      JOIN big b ON b.prev = s.prev AND b.w = s.w
      JOIN uni up ON up.w = s.prev
      JOIN uni uw ON uw.w = s.w
    )
    SELECT doc_id, count(*) AS n_tokens, round(avg(nll_tok), 4) AS nll
    FROM contrib GROUP BY doc_id
    """,
)
def doc_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity proxy (text.bigram_nll): sharper
    than the unigram self-model for quality binning; first token scores
    unigram-only, the rest 0.75·p(w|prev)+0.25·p(w)."""
    return tx.bigram_nll(_t(spark, sf_dir, "documents"))


def _sql_bpe(num_merges: int = 8) -> str:
    """Unrolled BPE oracle: each merge iteration is a (pair-count, argmax,
    replace) CTE triple — the exact greedy algorithm, with DuckDB's
    left-to-right non-overlapping `replace` matching Spark's (verified
    incl. the overlap case ' a a a ')."""
    steps = []
    for i in range(num_merges):
        steps.append(
            f"""p{i} AS MATERIALIZED (
      SELECT p, CAST(sum(cnt) AS BIGINT) AS c FROM (
        SELECT unnest(list_transform(range(1, len(sym)),
                      j -> sym[j] || ' ' || sym[j+1])) AS p, cnt
        FROM (SELECT regexp_split_to_array(trim(spelled), '  ') AS sym, cnt FROM w{i})
      ) GROUP BY p
    ), b{i} AS MATERIALIZED (
      SELECT p, c FROM p{i} ORDER BY c DESC, p LIMIT 1
    ), w{i + 1} AS MATERIALIZED (
      -- ONE pass over the double-space spelling == the classic greedy
      -- sweep (see datapipe.bpe._spell / _merge_pair)
      SELECT replace(spelled,
                     ' ' || (SELECT replace(p, ' ', '  ') FROM b{i}) || ' ',
                     ' ' || (SELECT replace(p, ' ', '') FROM b{i}) || ' ') AS spelled,
             cnt
      FROM w{i}
    )"""
        )
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS step, split_part(p, ' ', 1) AS \"left\", "
        f"split_part(p, ' ', 2) AS \"right\", replace(p, ' ', '') AS merged, "
        f"c AS pair_count FROM b{i}"
        for i in range(num_merges)
    )
    return rf"""
    WITH toks AS (
      SELECT CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), wf AS (
      SELECT w, count(*) AS cnt FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
    ), w0 AS (
      SELECT '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS spelled,
             cnt
      FROM wf
    ), {", ".join(steps)}
    {finals}
    """


@register("doc_bpe_merges", _sql_bpe())
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction: 8 learned merges over the
    corpus vocabulary (datapipe.bpe.bpe_learn). One corpus scan builds
    the vocab table, which crosses to the driver once; the merge loop
    runs there, bounded by the distinct-word count."""
    from imposm3_spark.datapipe.bpe import bpe_learn

    return bpe_learn(_t(spark, sf_dir, "documents"), num_merges=8)


_SEMDEDUP_ORACLE = """
    WITH RECURSIVE lcg(seed, step, state) AS (
      SELECT seed, 0,
             (CAST(seed AS HUGEINT)*6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
      FROM (SELECT unnest(range(5000, 5006)) AS seed)
      UNION ALL
      SELECT seed, step + 1,
             (state*6364136223846793005 + 1442695040888963407) % 18446744073709551616
      FROM lcg WHERE step < 64
    ), planes AS (
      SELECT seed,
             list((CAST(state // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0
                  ORDER BY step) AS plane
      FROM lcg WHERE step >= 1 GROUP BY seed
    ), buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << (seed - 5000))
                           ELSE 0 END) AS BIGINT) AS cluster
      FROM (SELECT e.vec_id, p.seed,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS dp
            FROM embeddings e CROSS JOIN planes p)
      GROUP BY vec_id
    ), dominated AS (
      SELECT DISTINCT bb.vec_id AS id
      FROM buckets ba JOIN buckets bb
        ON ba.cluster = bb.cluster AND ba.vec_id < bb.vec_id
      JOIN embeddings a ON a.vec_id = ba.vec_id
      JOIN embeddings b ON b.vec_id = bb.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    )
    SELECT vec_id, cluster FROM buckets
    WHERE vec_id NOT IN (SELECT id FROM dominated)
    """


@register("emb_semdedup", _SEMDEDUP_ORACLE)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each semantic cell (LCG hyperplane signature, 64
    cells) drop every vector with cosine >= 0.4 to a lower-id cell member;
    survivors are the representatives. Full-parity oracle rebuilds the
    planes in HUGEINT."""
    return sim.semantic_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.4, bits=6)
