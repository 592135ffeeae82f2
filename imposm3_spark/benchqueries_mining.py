"""Round-3 batch-6 additions: co-occurrence mining, iterative ML/graph
operators, and time-series densification.

Registered into the same QUERIES/ORACLES registry as benchqueries:

* ``lineitem_basket_pairs``  market-basket frequent item pairs with
                             exact-integer lift (Apriori pair step)
* ``emb_kmeans``             distributed Lloyd's k-means, bit-identical
                             via integer-quantized exact arithmetic
* ``events_gapfill``         dense hourly series per user with linear
                             interpolation over gaps
* ``events_pagerank``        fixed-point integer PageRank over the
                             event-type transition graph
* ``doc_bpe_encode``         apply the induced BPE merges to encode the
                             corpus (tokenizer application)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from imposm3_spark.benchqueries import _t, register
from imposm3_spark.datapipe import graph as gr
from imposm3_spark.datapipe import kmeans as km
from imposm3_spark.datapipe import mining as mn
from imposm3_spark.datapipe import stats as st
from imposm3_spark.datapipe.evaluation import sampled_docs_sql
from imposm3_spark.datapipe import timeseries as ts_

_BASKET_PAIRS_ORACLE = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), nb AS (
  SELECT count(DISTINCT basket) AS n FROM items
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_count
  FROM items a JOIN items b USING (basket)
  WHERE a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
), ic AS (
  SELECT item, count(*) AS cnt FROM items GROUP BY 1
)
SELECT p.item_a, p.item_b, p.pair_count,
       ca.cnt AS count_a, cb.cnt AS count_b,
       round(CAST(p.pair_count AS DOUBLE) * CAST(nb.n AS DOUBLE)
             / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6) AS lift
FROM pairs p
CROSS JOIN nb
JOIN ic ca ON ca.item = p.item_a
JOIN ic cb ON cb.item = p.item_b
"""


@register("lineitem_basket_pairs", _BASKET_PAIRS_ORACLE)
def lineitem_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs co-ordered in the same order (support >= 2),
    with lift from exact integer counts (fixed-order float expression).
    """
    return mn.frequent_item_pairs(
        _t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_support=2,
    )


@register("emb_kmeans", km.oracle_sql(k=8, iterations=3, dim=64))
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 3 iterations) over the embedding
    table. Bit-identical to the unrolled SQL oracle: integer-quantized
    exact centroid state, one fixed-order float fold per distance, lowest-
    cluster tie-break, deterministic lowest-id seeding (see
    datapipe/kmeans.py module docstring)."""
    return km.lloyd_kmeans(_t(spark, sf_dir, "embeddings"), k=8, iterations=3)


_GAPFILL_ORACLE = """
WITH src AS (
  SELECT user_id, ts, value FROM events WHERE user_id % 10 = 0
), hourly AS MATERIALIZED (
  SELECT user_id AS key,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
           + EXTRACT(hour FROM ts) AS hr,
         SUM(CAST(round(value * 100) AS BIGINT)) AS c
  FROM src GROUP BY 1, 2
), bounds AS (
  SELECT key, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
), dense AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hr FROM bounds
), series AS (
  SELECT d.key, d.hr, h.c
  FROM dense d LEFT JOIN hourly h ON d.key = h.key AND d.hr = h.hr
), w AS (
  SELECT key, hr, c,
    last_value(c IGNORE NULLS) OVER bw AS prev_c,
    last_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS) OVER bw AS prev_h,
    first_value(c IGNORE NULLS) OVER fw AS next_c,
    first_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS) OVER fw AS next_h
  FROM series
  WINDOW bw AS (PARTITION BY key ORDER BY hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fw AS (PARTITION BY key ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key AS user_id,
       TIMESTAMP '1970-01-01 00:00:00' + to_hours(hr) AS hour_ts,
       CAST(CASE WHEN c IS NOT NULL THEN c
            ELSE prev_c * (next_h - hr) + next_c * (hr - prev_h)
            END AS BIGINT) AS value_num,
       CAST(CASE WHEN c IS NOT NULL THEN 100
            ELSE (next_h - prev_h) * 100 END AS BIGINT) AS value_den,
       c IS NULL AS filled
FROM w
"""


@register("events_gapfill", _GAPFILL_ORACLE)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-user series (every 10th user: pushed-down scan
    filter) with exact bucket sums and linear interpolation over gaps,
    compared in the EXACT integer form value_num/value_den — the rounded
    double hits real round-half ties that Spark (HALF_UP) and DuckDB
    resolve differently (see datapipe/timeseries.py gapfill_hourly)."""
    from pyspark.sql import functions as F

    src = _t(spark, sf_dir, "events").where(F.col("user_id") % 10 == 0)
    return ts_.gapfill_hourly(src, exact=True)


@register("events_pagerank", gr.oracle_sql(iterations=3))
def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (damping 0.85, 3 iterations) over the
    event-type transition graph — bit-identical across engines because
    every update is exact integer multiply + floor division and integer
    sums are order-free (see datapipe/graph.py)."""
    from pyspark.sql import functions as F

    events = _t(spark, sf_dir, "events")
    edges = gr.transition_edges(events)
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    return gr.pagerank_fixed_point(edges, nodes, iterations=3)


def _sql_bpe_encode(num_merges: int = 8) -> str:
    r"""Unrolled tokenizer-APPLICATION oracle: re-learn the merge list
    (same CTE triples as doc_bpe_merges' _sql_bpe), then push every
    distinct word through the ordered merge chain (same two-pass
    replace), and join the per-word piece counts back onto the corpus.
    """
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
    ), e{i + 1} AS MATERIALIZED (
      SELECT w, replace(s,
                     ' ' || (SELECT replace(p, ' ', '  ') FROM b{i}) || ' ',
                     ' ' || (SELECT replace(p, ' ', '') FROM b{i}) || ' ') AS s
      FROM e{i}
    )"""
        )
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), wf AS MATERIALIZED (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
    ), w0 AS (
      SELECT '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS spelled,
             cnt
      FROM wf
    ), e0 AS (
      SELECT w, '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS s
      FROM wf
    ), {", ".join(steps)}, wmap AS MATERIALIZED (
      SELECT w, len(regexp_split_to_array(trim(s), '  ')) AS pieces
      FROM e{num_merges}
    ), enc AS (
      SELECT o.doc_id, sum(m.pieces) AS n_pieces
      FROM (SELECT doc_id, unnest(tokens) AS w FROM toks) o
      JOIN wmap m USING (w)
      GROUP BY o.doc_id
    )
    SELECT t.doc_id, CAST(len(t.tokens) AS INTEGER) AS n_tokens,
           CAST(coalesce(e.n_pieces, 0) AS INTEGER) AS n_pieces
    FROM toks t LEFT JOIN enc e USING (doc_id)
    """


@register("doc_bpe_encode", _sql_bpe_encode())
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: learn 8 BPE merges on the driver
    (datapipe.bpe.bpe_merges, one collect of the vocab table), then
    encode every document through the ordered merge chain as a pure
    replace-expression pipeline (bpe_segment) — (doc_id, n_tokens,
    n_pieces)."""
    from imposm3_spark.datapipe.bpe import bpe_merges, bpe_segment

    docs = _t(spark, sf_dir, "documents")
    merges = [(left, right) for _, left, right, _, _ in bpe_merges(docs, num_merges=8)]
    return bpe_segment(docs, merges)


_EWMA_ORACLE = """
WITH RECURSIVE c AS MATERIALIZED (
  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), r(user_id, rn, event_id, e) AS (
  SELECT user_id, rn, event_id, cents FROM c WHERE rn = 1
  UNION ALL
  SELECT c.user_id, c.rn, c.event_id, (3 * r.e + c.cents) // 4
  FROM r JOIN c ON c.user_id = r.user_id AND c.rn = r.rn + 1
)
SELECT event_id AS id, user_id AS key,
       round(CAST(e AS DOUBLE) / 100.0, 4) AS ewma
FROM r
"""


@register("events_ewma", _EWMA_ORACLE)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user fixed-point EWMA (alpha=1/4): exact integer recursion in
    an Arrow-batched per-key scan, bit-identical to the recursive-CTE
    oracle (see datapipe/timeseries.py ewma_fixed_point)."""
    return ts_.ewma_fixed_point(_t(spark, sf_dir, "events"))


_KNN_ORACLE = """
WITH pairs AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
SELECT src, dst, sim, rk FROM (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
  FROM pairs
) WHERE rk <= 5
"""


@register("emb_knn_graph", _KNN_ORACLE)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact symmetric 5-NN graph via the distributed block-pair matmul
    (each unordered pair scored once, bounded task memory) + one per-src
    top-k window (see datapipe/similarity.py knn_graph)."""
    from imposm3_spark.datapipe import similarity as sim

    return sim.knn_graph(_t(spark, sf_dir, "embeddings"), k=5)


def _sampled_emb_sql(sql: str) -> str:
    """Shadow `embeddings` with the deterministic 1/2 vec_id sample
    (pair cost 1/4) — the `sample_frac` knob for the quadratic exact
    kNN truth, mirroring the doc-side *_sampled evals."""
    from imposm3_spark.datapipe.evaluation import sampled_table_sql

    return sampled_table_sql(sql, table="embeddings", id_col="vec_id", mod=2)


@register("emb_knn_graph_sampled", _sampled_emb_sql(_KNN_ORACLE))
def emb_knn_graph_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_knn_graph on the deterministic 1/2 embedding sample: the
    O(n^2) exact-recall oracle gets the same scale knob as the doc-side
    pairwise truths — pair cost drops 4x, the sample is bit-reproducible
    in any engine, and the md5-bucket predicate is pushed below the
    block-pair matmul (plan-audited)."""
    from imposm3_spark.datapipe import similarity as sim
    from imposm3_spark.datapipe.evaluation import deterministic_sample

    e = deterministic_sample(_t(spark, sf_dir, "embeddings"), id_col="vec_id", mod=2)
    return sim.knn_graph(e, k=5)


def _sql_auc() -> str:
    from imposm3_spark.benchqueries import _SQL_TOKENS

    return rf"""
    WITH toks AS (
      SELECT lang,
             CASE WHEN trim(text) = '' THEN [] ELSE {_SQL_TOKENS} END AS tokens
      FROM documents
    ), scored AS (
      SELECT CASE WHEN len(tokens) > 0
                  THEN CAST(len(list_filter(list_transform(tokens, t -> lower(t)),
                       t -> t IN ('the','and','of','to','a','in','is','that'))) AS DOUBLE)
                       / len(tokens)
                  ELSE 0.0 END AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM toks
    ), s AS (
      SELECT score, sum(pos) AS p, count(*) AS t FROM scored GROUP BY score
    ), c AS (
      SELECT p, t,
             sum(t) OVER (ORDER BY score
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS less
      FROM s
    ), a AS (
      SELECT sum(p * (2 * less + t + 1)) AS s2, sum(p) AS pc, sum(t - p) AS nc FROM c
    )
    SELECT CAST(pc AS BIGINT) AS pos_cnt, CAST(nc AS BIGINT) AS neg_cnt,
           CASE WHEN pc > 0 AND nc > 0
                THEN CAST(s2 - pc * (pc + 1) AS BIGINT) END AS auc_num,
           CASE WHEN pc > 0 AND nc > 0
                THEN CAST(2 * pc * nc AS BIGINT) END AS auc_den
    FROM a
    """


@register("doc_score_auc", _sql_auc())
def doc_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC of the English-stopword ratio as a
    predictor of lang='en' — rank statistics via the two-phase prefix-sum
    pattern, no global sort (see datapipe/evaluation.py). Compared in the
    exact rational form (auc_num, auc_den); the derived rounded double
    `auc` stays library-side only (round-half ties are engine-skewed)."""
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe.evaluation import roc_auc
    from imposm3_spark.datapipe.text import stopword_ratio

    d = _t(spark, sf_dir, "documents").select(
        stopword_ratio(F.col("text")).alias("score"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    return roc_auc(d, "score", "pos").select(
        "pos_cnt", "neg_cnt", "auc_num", "auc_den"
    )


_RFM_ORACLE = """
WITH per_cust AS MATERIALIZED (
  SELECT o_custkey AS cust,
         date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '1999-01-01') AS recency,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary
  FROM orders GROUP BY 1
), qs AS (
  SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS rq,
         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
         quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
  FROM per_cust
), scored AS (
  SELECT monetary,
         5 - (1 + CAST(CAST(recency AS DOUBLE) > rq[1] AS INTEGER)
                + CAST(CAST(recency AS DOUBLE) > rq[2] AS INTEGER)
                + CAST(CAST(recency AS DOUBLE) > rq[3] AS INTEGER)) AS r_score,
         1 + CAST(CAST(frequency AS DOUBLE) > fq[1] AS INTEGER)
           + CAST(CAST(frequency AS DOUBLE) > fq[2] AS INTEGER)
           + CAST(CAST(frequency AS DOUBLE) > fq[3] AS INTEGER) AS f_score,
         1 + CAST(CAST(monetary AS DOUBLE) > mq[1] AS INTEGER)
           + CAST(CAST(monetary AS DOUBLE) > mq[2] AS INTEGER)
           + CAST(CAST(monetary AS DOUBLE) > mq[3] AS INTEGER) AS m_score
  FROM per_cust CROSS JOIN qs
)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       round(CAST(sum(monetary) AS DOUBLE) / 100.0, 2) AS total_monetary
FROM scored GROUP BY 1, 2, 3
"""


@register("orders_rfm", _RFM_ORACLE)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: exact quartile thresholds broadcast onto the
    per-customer table (no global-sort ntile), segment-cell rollup with
    exact cents (see datapipe/mining.py rfm_segments)."""
    return mn.rfm_segments(_t(spark, sf_dir, "orders"))


def _sql_lang_confusion() -> str:
    from imposm3_spark.datapipe import text as tx

    hit_cols = []
    for code, sw in tx.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in sw)
        hit_cols.append(
            f"len(list_filter(tokens, t -> t IN ({lst}))) AS hits_{code}"
        )
    codes = sorted(tx.LANG_STOPWORDS)
    best = "CASE"
    for code in codes:
        others_ge = " AND ".join(
            f"hits_{code} >= hits_{other}" for other in codes if other != code
        )
        best += f" WHEN hits_{code} > 0 AND {others_ge} THEN '{code}'"
    best += " ELSE 'und' END"
    return rf"""
    WITH toks AS (
      SELECT lang,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), hits AS (
      SELECT lang, {", ".join(hit_cols)} FROM toks
    ), pred AS (
      SELECT lang, {best} AS guess FROM hits
    ), g AS (
      SELECT lang, guess, count(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT lang, guess, n,
           round(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS recall_share
    FROM g
    """


@register("doc_lang_confusion", _sql_lang_confusion())
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the n-gram/stopword
    heuristic (text.langid) against the labelled lang column, with
    per-actual-language recall shares — a keyed window over the confusion
    cells (never a global sort)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import text as tx

    d = _t(spark, sf_dir, "documents")
    pred = d.select("lang", tx.langid(F.col("text")).alias("guess"))
    g = pred.groupBy("lang", "guess").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "guess",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("recall_share"),
    )


@register("emb_pca_top", __import__("imposm3_spark.datapipe.pca", fromlist=["oracle_sql"]).oracle_sql(iterations=3, dim=64))
def emb_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table: exact integer Gram
    and row count (one corpus pass, map-side numpy matmul, one collect of
    the 64x64 Gram) + 3 integer power-iteration steps on the driver with
    L-infinity fixed-point normalization — bit-identical to the unrolled
    oracle (see datapipe/pca.py)."""
    from imposm3_spark.datapipe.pca import top_component

    return top_component(_t(spark, sf_dir, "embeddings"), iterations=3, dim=64)


_FUZZY_ORACLE = """
WITH c AS (SELECT * FROM customer WHERE c_custkey % 4 = 0)
SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
       a.c_name AS a_name, b.c_name AS b_name,
       levenshtein(a.c_name, b.c_name) AS dist
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@register("cust_fuzzy_pairs", _FUZZY_ORACLE)
def cust_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution pairs within edit distance 1 over customer
    names: deletion-neighbourhood blocking (O(n*L) shuffle, hash
    equi-join on deletion variants, exact levenshtein verify on block
    collisions only) — the oracle states the naive quadratic truth
    (see datapipe/mining.py fuzzy_pairs_edit1)."""
    from pyspark.sql import functions as F

    src = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 4 == 0)
    return mn.fuzzy_pairs_edit1(src, "c_custkey", "c_name")


_BM25_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
  FROM documents
), tc AS MATERIALIZED (
  SELECT doc_id, w AS term, count(*) AS cnt
  FROM (SELECT doc_id, unnest(tokens) AS w FROM toks) GROUP BY 1, 2
), dl AS (
  SELECT doc_id, sum(cnt) AS dl FROM tc GROUP BY 1
), nn AS (SELECT count(*) AS n FROM documents),
tot AS (SELECT sum(cnt) AS t FROM tc),
qt(term) AS (VALUES ('join'), ('spark'), ('window')),
dfq AS (
  SELECT term, count(*) AS df FROM tc JOIN qt USING (term) GROUP BY 1
), m AS (
  SELECT tc.doc_id, tc.term, tc.cnt, dl.dl, dfq.df
  FROM tc JOIN qt USING (term) JOIN dl USING (doc_id) JOIN dfq USING (term)
), contrib AS (
  SELECT doc_id, term,
    ln(1.0 + (CAST((SELECT n FROM nn) AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
             / (CAST(df AS DOUBLE) + 0.5))
    * ((CAST(cnt AS DOUBLE) * 2.2)
       / (CAST(cnt AS DOUBLE)
          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                                  / (CAST((SELECT t FROM tot) AS DOUBLE)
                                     / CAST((SELECT n FROM nn) AS DOUBLE)))))) AS c
  FROM m
), scored AS (
  SELECT doc_id, list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""


@register("doc_bm25_topk", _BM25_ORACLE)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for the query {join, spark, window}: one
    corpus collapse to term counts, broadcast query side, term-order
    score fold, TakeOrdered top-k (see datapipe/chunking.py bm25_topk)."""
    from imposm3_spark.datapipe.chunking import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["join", "spark", "window"], k=10
    )


_HLL_INTERSECT_ORACLE = """
SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS exact_a,
       count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS exact_b,
       count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
       + count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
       - count(DISTINCT CASE WHEN event_type IN ('click', 'view') THEN user_id END)
         AS exact_both,
       TRUE AS approx_both_ok
FROM events
"""


@register("events_hll_intersect", _HLL_INTERSECT_ORACLE)
def events_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch algebra: |click-users ∩ view-users| via
    inclusion-exclusion over mergeable sketches, validated against the
    exact intersection (invariant oracle — the sketch estimate itself is
    implementation-defined; see datapipe/stats.py)."""
    return st.hll_intersect_estimate(
        _t(spark, sf_dir, "events"), "event_type", "click", "view", "user_id"
    )


_SCD2_ORACLE = """
WITH src AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id % 20 = 0
), runs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM runs
), iv AS (
  SELECT user_id, run, min(ts) AS valid_from,
         arg_min(event_type, ts) AS value
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, value, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM iv
WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
"""


@register("events_scd2", _SCD2_ORACLE)
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (every 20th user — pushed-down filter):
    consecutive same-attribute runs collapse to validity intervals with
    lead-closed valid_to (see datapipe/timeseries.py scd2_intervals)."""
    from pyspark.sql import functions as F

    src = _t(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    return ts_.scd2_intervals(src)


@register(
    "emb_kmeans_inertia",
    km.oracle_sql_inertia(k=8, iterations=3, dim=64),
)
def emb_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality: per-cluster member counts and exact
    within-cluster sum of squared distances (inertia) for the same
    k=8/3-iteration Lloyd run — DECIMAL(38,0)-exact sums (the 64-bit-
    outgrowing analog of integer sufficient statistics; see
    datapipe/kmeans.py kmeans_inertia)."""
    return km.kmeans_inertia(_t(spark, sf_dir, "embeddings"), k=8, iterations=3)


_ROLLUP_SETS_ORACLE = """
SELECT n_name,
       EXTRACT(year FROM o_orderdate) AS yr,
       grouping(n_name) AS g_nation,
       grouping(EXTRACT(year FROM o_orderdate)) AS g_year,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY GROUPING SETS ((n_name, EXTRACT(year FROM o_orderdate)),
                        (n_name), (EXTRACT(year FROM o_orderdate)), ())
"""


@register("orders_rollup_sets", _ROLLUP_SETS_ORACLE)
def orders_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP grouping sets over orders x customer x nation: (nation,
    year) cells plus both one-dimensional margins and the grand total,
    with grouping() flags — Spark expands the sets once and aggregates
    with map-side combine; both dimension joins broadcast."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_c"),
        )
    )
    g = j.groupingSets(
        [["n_name", "yr"], ["n_name"], ["yr"], []], "n_name", "yr"
    ).agg(
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.grouping("yr").cast("int").alias("g_year"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("_c").alias("cents"),
    )
    return g.select(
        "n_name", "yr", "g_nation", "g_year", "n_orders", "cents"
    )


_SEASONAL_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS hod,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), mx AS (SELECT max(d) AS last_d FROM e),
daily AS MATERIALIZED (
  SELECT event_type, d, hod, sum(c) AS dc FROM e GROUP BY 1, 2, 3
), hist AS (
  SELECT event_type, hod, sum(dc) AS s, count(*) AS n
  FROM daily CROSS JOIN mx WHERE d < last_d GROUP BY 1, 2
), actual AS (
  SELECT event_type, hod, dc AS a FROM daily CROSS JOIN mx WHERE d = last_d
)
SELECT a.event_type, a.hod,
       round(CAST(a.a AS DOUBLE) / 100.0, 4) AS actual,
       round(CAST(h.s AS DOUBLE) / (CAST(h.n AS DOUBLE) * 100.0), 4) AS forecast,
       round(CAST(abs(a.a * h.n - h.s) AS DOUBLE)
             / (CAST(h.n AS DOUBLE) * 100.0), 4) AS abs_err
FROM actual a JOIN hist h USING (event_type, hod)
"""


@register("events_seasonal_naive", _SEASONAL_ORACLE)
def events_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: the last observed day's hourly
    sums per event type vs the mean of the same hour over all prior days,
    with per-cell absolute error — every value ONE fixed-order float
    expression over exact cents (no cross-row float sums: the backtest
    emits per-cell rows, not a float-summed aggregate)."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("bigint").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    daily = e.groupBy("event_type", "d", "hod").agg(F.sum("c").alias("dc"))
    mx = daily.agg(F.max("d").alias("last_d"))
    withmx = daily.join(F.broadcast(mx))
    hist = (
        withmx.where(F.col("d") < F.col("last_d"))
        .groupBy("event_type", "hod")
        .agg(F.sum("dc").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    actual = withmx.where(F.col("d") == F.col("last_d")).select(
        "event_type", "hod", F.col("dc").alias("a")
    )
    j = actual.join(hist, on=["event_type", "hod"])
    nd = F.col("n").cast("double")
    return j.select(
        "event_type",
        "hod",
        F.round(F.col("a").cast("double") / F.lit(100.0), 4).alias("actual"),
        F.round(F.col("s").cast("double") / (nd * F.lit(100.0)), 4).alias("forecast"),
        F.round(
            F.abs(F.col("a") * F.col("n") - F.col("s")).cast("double")
            / (nd * F.lit(100.0)),
            4,
        ).alias("abs_err"),
    )


def _sql_minhash_accuracy() -> str:
    from imposm3_spark.benchqueries import _SQL_SHINGLES, _sql_minhash_bands

    matches = " + ".join(
        f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return (
        _sql_minhash_bands()
        + rf""", pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
    ), shs AS MATERIALIZED (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS ss FROM toks
    ), est AS (
      SELECT p.id_a, p.id_b, ({matches}) AS matches
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.id_a
      JOIN sigs sb ON sb.doc_id = p.id_b
    ), ex AS (
      SELECT p.id_a, p.id_b,
             len(list_intersect(a.ss, b.ss)) AS inter,
             len(list_distinct(list_concat(a.ss, b.ss))) AS uni
      FROM pairs p JOIN shs a ON a.doc_id = p.id_a JOIN shs b ON b.doc_id = p.id_b
    )
    SELECT e.id_a, e.id_b,
           round(CAST(e.matches AS DOUBLE) / 8.0, 6) AS est,
           round(CAST(x.inter AS DOUBLE) / CAST(x.uni AS DOUBLE), 6) AS exact,
           round(abs(CAST(e.matches AS DOUBLE) / 8.0
                     - CAST(x.inter AS DOUBLE) / CAST(x.uni AS DOUBLE)), 6) AS abs_err
    FROM est e JOIN ex x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """
    )



@register("doc_minhash_accuracy", _sql_minhash_accuracy())
def doc_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation: per LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching signature rows / 8) against the EXACT
    shingle-set Jaccard — both exactly reproducible (md5 minhash, one
    distinct-shingle intersect/union per pair), every value a fixed
    division over integers."""
    return _minhash_accuracy(_t(spark, sf_dir, "documents"))


@register("doc_minhash_accuracy_sampled", sampled_docs_sql(_sql_minhash_accuracy()))
def doc_minhash_accuracy_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_minhash_accuracy on the deterministic 1/2 document sample —
    the sample_frac scale path: the exact shingle-set truth join is
    quadratic in candidate count, so at 100 TB the accuracy eval runs on
    a hash-deterministic subsample while staying oracle-checkable
    (datapipe.evaluation.deterministic_sample; see docs/SCALE.md)."""
    from imposm3_spark.datapipe.evaluation import deterministic_sample

    return _minhash_accuracy(deterministic_sample(_t(spark, sf_dir, "documents"), mod=2))


def _minhash_accuracy(docs: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import dedup as dd

    pairs = dd.minhash_lsh_pairs(docs)
    sigs = dd.minhash_signatures_relational(docs)
    shs = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(dd.shingles(F.col("text"))).alias("ss"),
    )
    matches = None
    for i in range(8):
        t = F.when(F.col(f"sa.s{i}") == F.col(f"sb.s{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    est = (
        pairs.join(sigs.alias("sa"), F.col("id_a") == F.col("sa.doc"))
        .join(sigs.alias("sb"), F.col("id_b") == F.col("sb.doc"))
        .select("id_a", "id_b", matches.alias("matches"))
    )
    ex = (
        pairs.join(shs.alias("xa"), F.col("id_a") == F.col("xa.doc"))
        .join(shs.alias("xb"), F.col("id_b") == F.col("xb.doc"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("xa.ss", "xb.ss")).alias("inter"),
            F.size(F.array_distinct(F.concat("xa.ss", "xb.ss"))).alias("uni"),
        )
    )
    estd = F.col("matches").cast("double") / F.lit(8.0)
    exd = F.col("inter").cast("double") / F.col("uni").cast("double")
    return est.join(ex, on=["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        F.round(estd, 6).alias("est"),
        F.round(exd, 6).alias("exact"),
        F.round(F.abs(estd - exd), 6).alias("abs_err"),
    )


_SLIDING_TOPK_ORACLE = """
WITH e AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hr
  FROM events
), windows AS (
  -- 6h sliding windows, 3h step: an event at hour h lands in the windows
  -- starting at floor division boundaries covering (h-6, h]
  SELECT event_type, hr, unnest(generate_series((hr - 5) // 3, hr // 3)) AS w
  FROM e
), counts AS (
  SELECT w * 3 AS win_start_hr, event_type, count(*) AS n
  FROM windows
  WHERE w * 3 <= hr AND hr < w * 3 + 6
  GROUP BY 1, 2
), ranked AS (
  SELECT win_start_hr, event_type, n,
         row_number() OVER (PARTITION BY win_start_hr
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT TIMESTAMP '1970-01-01 00:00:00' + to_hours(win_start_hr) AS win_start,
       event_type, n, rk
FROM ranked WHERE rk <= 3
"""


@register("events_sliding_topk", _SLIDING_TOPK_ORACLE)
def events_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 6-hour sliding window (3h step) — Spark's
    F.window(slide) multi-assigns each row to its covering windows (the
    same explode the oracle spells out); counts aggregate with map-side
    combine and the rank is a window-keyed row_number. Hour indexing is
    calendar-field math via the NTZ-safe window function itself."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    rk = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 3)
        .select("win_start", "event_type", "n", "rk")
    )


_RECONCILE_ORACLE = """
WITH agg AS (
  SELECT o_custkey AS k, count(*) AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 2000 GROUP BY 1
), j AS (
  SELECT c.c_custkey, a.k, a.n_orders, a.cents
  FROM customer c FULL OUTER JOIN agg a ON a.k = c.c_custkey
)
SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
            WHEN k IS NULL THEN 'customer_only'
            ELSE 'matched' END AS side,
       count(*) AS n,
       CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS total_orders,
       CAST(coalesce(sum(cents), 0) AS BIGINT) AS total_cents
FROM j GROUP BY 1
"""


@register("orders_customer_reconcile", _RECONCILE_ORACLE)
def orders_customer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential reconciliation via FULL OUTER join: per-side counts of
    matched customers, customers without year-2000 orders, and orphaned
    orders —
    the standard data-quality audit join family (aggregate-then-join so
    the outer join runs at customer cardinality, not order cardinality).
    Monetary totals are exact integer cents (total_cents) — the compared
    representation stays float-free.
    """
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders").where(F.year("o_orderdate") == 2000)
    c = _t(spark, sf_dir, "customer")
    agg = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )
    j = c.join(agg, c["c_custkey"] == agg["k"], "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("k").isNull(), "customer_only")
        .otherwise("matched")
    )
    return (
        j.select(side.alias("side"), "n_orders", "cents")
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("n_orders"), F.lit(0)).alias("total_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("total_cents"),
        )
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), pairs AS (
  SELECT d, src, dst FROM seq WHERE dst IS NOT NULL
), train AS (
  SELECT src, dst, count(*) AS c FROM pairs WHERE d < DATE '2024-01-24'
  GROUP BY 1, 2
), pred AS (
  SELECT src, dst AS p FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src
                                        ORDER BY c DESC, dst) AS rn
    FROM train
  ) WHERE rn = 1
), test AS (
  SELECT src, dst FROM pairs WHERE d >= DATE '2024-01-24'
)
SELECT t.src, count(*) AS n_test,
       CAST(sum(CASE WHEN t.dst = p.p THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM test t JOIN pred p USING (src) GROUP BY 1
"""


@register("events_markov_accuracy", _MARKOV_ORACLE)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction, backtested on a date
    split: train transition counts before 2024-01-24 (calendar-field
    comparison — timezone-proof), predict argmax-next (count desc, dst
    asc tie-break), score accuracy per source state on the holdout.
    The transition/prediction tables are state-cardinality-sized and
    broadcast onto the test stream."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = e.select(
        F.to_date("ts").alias("d"),
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    split = F.lit("2024-01-24").cast("date")
    train = (
        seq.where(F.col("d") < split)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    pred = (
        train.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") == 1)
        .select("src", F.col("dst").alias("p"))
    )
    test = seq.where(F.col("d") >= split).select("src", "dst")
    correct = F.sum(
        F.when(F.col("dst") == F.col("p"), 1).otherwise(0)
    ).alias("n_correct")
    g = test.join(F.broadcast(pred), on="src").groupBy("src").agg(
        F.count(F.lit(1)).alias("n_test"), correct
    )
    # accuracy stays derivable as n_correct / n_test; the compared
    # representation is the exact integer pair (float-division skew-proof)
    return g.select("src", "n_test", "n_correct")


_VALIDATE_ORACLE = """
WITH a AS (
  SELECT count(*) AS total,
         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
         CAST(sum(CASE WHEN l_quantity IS NOT NULL
                   AND NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                   AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS v_member,
         CAST(sum(CASE WHEN l_linestatus IS NOT NULL
                   AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS v_regex,
         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v_unique
  FROM lineitem
)
SELECT 'l_quantity_not_null' AS rule, v_null AS violations, total, v_null = 0 AS ok FROM a
UNION ALL
SELECT 'l_quantity_in_range', v_range, total, v_range = 0 FROM a
UNION ALL
SELECT 'l_returnflag_member_of', v_member, total, v_member = 0 FROM a
UNION ALL
SELECT 'l_linestatus_matches', v_regex, total, v_regex = 0 FROM a
UNION ALL
SELECT 'pk_unique', v_unique, total, v_unique = 0 FROM a
"""


@register("lineitem_validate", _VALIDATE_ORACLE)
def lineitem_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit in ONE scan: null / range / set /
    regex rules compile to conditional counts in a single aggregate,
    plus composite-key uniqueness (see datapipe/validate.py)."""
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import validate as dv

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_pk", F.concat_ws("|", "l_orderkey", "l_linenumber")
    )
    rules = [
        dv.not_null("l_quantity"),
        dv.in_range("l_quantity", 1, 50),
        dv.member_of("l_returnflag", ["A", "N", "R"]),
        dv.matches("l_linestatus", "^[OF]$"),
    ]
    out = dv.validate(li, rules, unique_col="_pk")
    return out.withColumn(
        "rule", F.regexp_replace("rule", "^_pk_unique$", "pk_unique")
    )


_LSH_RECALL_ORACLE = """
    WITH RECURSIVE lcg(seed, step, state) AS (
      SELECT seed, 0,
             (CAST(seed AS HUGEINT)*6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
      FROM (SELECT unnest(range(1, 9)) AS seed)
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
             sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << (seed - 1)) ELSE 0 END) AS bucket
      FROM (SELECT e.vec_id, p.seed,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS dp
            FROM embeddings e CROSS JOIN planes p)
      GROUP BY vec_id
    ), lsh AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
        FROM buckets qb
        JOIN embeddings q ON q.vec_id = qb.vec_id AND q.vec_id < 20
        JOIN buckets cb ON cb.bucket = qb.bucket
        JOIN embeddings c ON c.vec_id = cb.vec_id AND c.vec_id != q.vec_id
      ) WHERE rank <= 10
    ), brute AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rank
        FROM embeddings q CROSS JOIN embeddings e
        WHERE q.vec_id < 20 AND e.vec_id != q.vec_id
      ) WHERE rank <= 10
    )
    SELECT b.query_id, count(l.cand_id) AS hits, 10 AS k,
           round(CAST(count(l.cand_id) AS DOUBLE) / 10.0, 6) AS recall
    FROM brute b
    LEFT JOIN lsh l ON l.query_id = b.query_id AND l.cand_id = b.cand_id
    GROUP BY b.query_id
"""


@register("emb_lsh_recall", _LSH_RECALL_ORACLE)
def emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of single-probe LSH against the
    exact brute-force top-10 for 20 query points — BOTH sides are
    deterministic (LCG hyperplanes, md5-free exact cosine), so even the
    recall of the approximate path is value-checked, not a rows-only
    gesture. The pattern every ANN deployment needs before trusting its
    index."""
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import similarity as sim

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    lsh = sim.lsh_topk(e, q, k=10).select("query_id", "vec_id")
    brute = sim.brute_force_topk(e, q, k=10).select("query_id", "vec_id")
    j = brute.join(
        lsh.withColumnRenamed("vec_id", "lv"),
        (brute["query_id"] == lsh["query_id"]) & (brute["vec_id"] == F.col("lv")),
        "left",
    ).select(brute["query_id"], F.col("lv"))
    g = j.groupBy("query_id").agg(F.count("lv").alias("hits"))
    return g.select(
        "query_id",
        "hits",
        F.lit(10).alias("k"),
        F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
    )


_MAD_ORACLE = """
WITH c AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS m FROM c GROUP BY 1
), dev AS (
  SELECT c.event_type, c.event_id, c.cents, med.m,
         abs(CAST(c.cents AS DOUBLE) - med.m) AS ad
  FROM c JOIN med USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type,
       round(CAST(d.cents AS DOUBLE) / 100.0, 2) AS value,
       round((CAST(d.cents AS DOUBLE) - d.m)
             / (1.4826 * CASE WHEN mad.mad = 0 THEN 1.0 ELSE mad.mad END), 4)
         AS robust_z
FROM dev d JOIN mad USING (event_type)
WHERE abs((CAST(d.cents AS DOUBLE) - d.m)
          / (1.4826 * CASE WHEN mad.mad = 0 THEN 1.0 ELSE mad.mad END)) > 3.5
"""


@register("events_mad_outliers", _MAD_ORACLE)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (two exact
    interpolated percentiles over integer cents — Spark `percentile` ==
    DuckDB `quantile_cont`, the proven parity pair), flagging
    |robust z| > 3.5 with the 1.4826 normal-consistency constant. The
    medians are type-cardinality tables broadcast back onto the stream —
    two keyed aggregations, no window, no sort."""
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5D)").alias("m")
    )
    dev = c.join(F.broadcast(med), on="event_type").withColumn(
        "ad", F.abs(F.col("cents").cast("double") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad")
    )
    j = dev.join(F.broadcast(mad), on="event_type")
    denom = F.lit(1.4826) * F.when(F.col("mad") == 0, 1.0).otherwise(F.col("mad"))
    rz = (F.col("cents").cast("double") - F.col("m")) / denom
    return (
        j.where(F.abs(rz) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias("value"),
            F.round(rz, 4).alias("robust_z"),
        )
    )


_NB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
  FROM documents
), tcnt AS MATERIALIZED (
  SELECT doc_id, lang, w AS term, count(*) AS cnt
  FROM (SELECT doc_id, lang, unnest(tokens) AS w FROM toks)
  GROUP BY 1, 2, 3
), tc AS MATERIALIZED (
  SELECT term, lang AS cls, sum(cnt) AS c_tc
  FROM tcnt WHERE doc_id % 5 != 0 GROUP BY 1, 2
), totals AS (
  SELECT cls, sum(c_tc) AS tot FROM tc GROUP BY 1
), priors AS (
  SELECT lang AS cls, count(*) AS docs FROM documents WHERE doc_id % 5 != 0
  GROUP BY 1
), ntr AS (SELECT count(*) AS n FROM documents WHERE doc_id % 5 != 0),
voc AS (SELECT count(DISTINCT term) AS v FROM tc),
consts AS (
  SELECT p.cls,
         ln(CAST(p.docs AS DOUBLE) / CAST((SELECT n FROM ntr) AS DOUBLE)) AS lp,
         ln(CAST(t.tot + (SELECT v FROM voc) AS DOUBLE)) AS ltv
  FROM priors p JOIN totals t USING (cls)
), stc AS MATERIALIZED (
  SELECT doc_id, term, cnt FROM tcnt WHERE doc_id % 5 = 0
), ndoc AS (
  SELECT doc_id, sum(cnt) AS n_d FROM stc GROUP BY 1
), contrib AS (
  SELECT doc_id, cls, list_reduce(list(x ORDER BY term), (a, b) -> a + b) AS tsum
  FROM (
    SELECT s.doc_id, tc.cls, s.term,
           CAST(s.cnt AS DOUBLE) * ln(CAST(tc.c_tc + 1 AS DOUBLE)) AS x
    FROM stc s JOIN tc ON tc.term = s.term
  ) GROUP BY 1, 2
), grid AS (
  SELECT n.doc_id, c.cls,
         c.lp - CAST(n.n_d AS DOUBLE) * c.ltv + coalesce(ct.tsum, 0.0) AS score
  FROM ndoc n CROSS JOIN consts c
  LEFT JOIN contrib ct ON ct.doc_id = n.doc_id AND ct.cls = c.cls
), pred AS (
  SELECT doc_id, cls AS predicted FROM (
    SELECT doc_id, cls,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
    FROM grid
  ) WHERE rn = 1
)
SELECT d.lang AS label, p.predicted, count(*) AS n
FROM documents d JOIN pred p USING (doc_id)
WHERE d.doc_id % 5 = 0
GROUP BY 1, 2
"""


@register("doc_nb_confusion", _NB_ORACLE)
def doc_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised learning end-to-end: multinomial Naive Bayes trained on
    the 80% doc_id split, holdout confusion matrix — integer sufficient
    statistics, ln() on integer arguments only, term-order score folds,
    bit-identical argmax (see datapipe/nb.py)."""
    from imposm3_spark.datapipe.nb import nb_train_eval

    return nb_train_eval(_t(spark, sf_dir, "documents"))
