"""Distributed PCA: top principal direction of an embedding column via
power iteration on the exact integer Gram matrix — bit-identical across
engines and cluster sizes.

Reference parity note: imposm3 has no linear-algebra surface; this is
the distributed-linear-algebra flagship of the analytics-engine
extension set (the pattern spectral methods follow on Spark: exact
sufficient statistics distributed, bounded model state iterated).

Why it hash-matches a SQL oracle exactly
----------------------------------------

* Inputs quantize ONCE to integers ``q_i = round(e_i * QSCALE)``; the
  Gram matrix ``G[i,j] = sum_rows q_i * q_j`` is an exact BIGINT
  aggregate — order-free, so partitioning cannot change it. Each task
  accumulates its partial Gram with ONE int64 numpy matmul and emits
  dim^2 rows; the global sum is a (i,j)-keyed aggregation.
* The power iteration stays in integers: ``u = G @ v`` (exact products,
  order-free sums), then L-infinity normalization with integer division
  ``v' = u div (max|u| div VSCALE)`` — divide-by-quotient instead of
  multiply-then-divide so no intermediate exceeds |u| (BIGINT-safe), no
  sqrt, no floats. Every division truncates toward zero, as DuckDB's
  ``//`` and Spark's ``div`` do (Python's ``//`` floors, so the driver
  steps use ``_tdiv``); Gram entries and ``u`` can be negative.
* Start vector all-ones fixes the sign deterministically.

Scale design (100 TB)
---------------------

* ONE corpus pass builds the Gram and counts the rows (map-side numpy
  matmul per Arrow batch, dim^2 partial rows plus one count row per
  task — bounded by dim, not rows).
* The driver collects the summed Gram once and runs the power steps in
  Python integers: it holds dim^2 BIGINTs, bounded by the model, never
  by the corpus (a Spark loop paid two jobs per step for a 64x64 matvec).
* Overflow headroom is row-count-INDEPENDENT: the summed Gram is
  divided by n (exact integer division — the mean outer product, same
  eigenvectors) before iterating, so |G'| <= QSCALE^2 and each matvec
  term <= dim * QSCALE^2 * VSCALE ~ 6e13 regardless of corpus size.
  Only the raw Gram sum itself grows with n (BIGINT-safe to ~9e12 rows
  at QSCALE=1e3; the oracle's HUGEINT is wider still).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QSCALE = 1_000
VSCALE = 1_000_000


def _dim(emb: DataFrame, vec_col: str, dim: int | None) -> int:
    if dim is not None:
        return dim
    head = emb.select(F.size(F.col(vec_col)).alias("d")).head()
    if head is None:
        raise ValueError("empty embedding table")
    return int(head["d"])


def _partial_grams(emb: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-task partial Grams (i, j, g) with 1-based dimension indices,
    plus one (0, 0, rows) count row per task: the Gram and its
    normalizer n come from the same corpus pass."""
    import numpy as np
    import pandas as pd

    q = F.transform(
        F.col(vec_col),
        lambda e: F.round(e.cast("double") * F.lit(float(QSCALE))).cast("long"),
    )
    src = emb.select(q.alias("q"))
    d = dim

    def partial(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        rows = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows += len(pdf)
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            acc += X.T @ X
        if rows:
            ii, jj = np.meshgrid(np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij")
            yield pd.DataFrame(
                {"i": np.append(ii.ravel(), 0).astype("int32"),
                 "j": np.append(jj.ravel(), 0).astype("int32"),
                 "g": np.append(acc.ravel(), rows)}
            )

    return src.mapInPandas(partial, "i int, j int, g long")


def gram_matrix(
    emb: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Exact integer Gram matrix of the quantized vectors: (i, j, g) with
    1-based dimension indices."""
    parts = _partial_grams(emb, vec_col, _dim(emb, vec_col, dim))
    return parts.filter(F.col("i") > 0).groupBy("i", "j").agg(F.sum("g").alias("g"))


def _tdiv(a: int, b: int) -> int:
    """a div b (b > 0), truncating toward zero like DuckDB's ``//``."""
    return -(-a // b) if a < 0 else a // b


def top_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Top principal direction after `iterations` integer power steps:
    (i, loading) with loading = v_i / VSCALE as one fixed division."""
    dim = _dim(emb, vec_col, dim)
    parts = _partial_grams(emb, vec_col, dim).groupBy("i", "j").agg(F.sum("g"))
    sums = {(i, j): g for i, j, g in parts.collect()}
    n = sums.pop((0, 0), 0)
    v: list[int] = []
    if n:
        dims = range(1, dim + 1)
        G = [[_tdiv(sums[i, j], n) for j in dims] for i in dims]
        v = [VSCALE] * dim
        for _ in range(iterations):
            u = [sum(g * x for g, x in zip(row, v)) for row in G]
            scale = max(max(abs(x) for x in u) // VSCALE, 1)
            v = [_tdiv(x, scale) for x in u]
    vec = emb.sparkSession.createDataFrame(
        list(enumerate(v, start=1)), "i int, v long"
    )
    return vec.select(
        "i",
        F.round(F.col("v").cast("double") / F.lit(float(VSCALE)), 6).alias(
            "loading"
        ),
    )


def oracle_sql(iterations: int = 3, dim: int = 64) -> str:
    """DuckDB oracle: identical quantization, Gram, and integer power
    steps unrolled (HUGEINT intermediates are exact, values equal)."""
    parts = [
        f"""
WITH qp AS MATERIALIZED (
  SELECT list_transform(embedding,
           e -> CAST(round(CAST(e AS DOUBLE) * {float(QSCALE)}) AS BIGINT)) AS q
  FROM embeddings
), dims AS (SELECT unnest(range(1, {dim + 1})) AS i),
gram AS MATERIALIZED (
  SELECT i, j, g // (SELECT count(*) FROM qp) AS g FROM (
    SELECT di.i AS i, dj.i AS j, sum(q[di.i] * q[dj.i]) AS g
    FROM qp CROSS JOIN dims di CROSS JOIN dims dj
    GROUP BY 1, 2
  )
), v0 AS (SELECT i, CAST({VSCALE} AS BIGINT) AS v FROM dims)"""
    ]
    prev = "v0"
    for it in range(1, iterations + 1):
        parts.append(
            f""", u{it} AS MATERIALIZED (
  SELECT g.i, sum(g.g * v.v) AS u FROM gram g JOIN {prev} v ON v.i = g.j
  GROUP BY 1
), m{it} AS (SELECT max(abs(u)) AS m FROM u{it}),
v{it} AS MATERIALIZED (
  SELECT i, u // (CASE WHEN (m // {VSCALE}) = 0 THEN 1
                  ELSE m // {VSCALE} END) AS v
  FROM u{it} CROSS JOIN m{it}
)"""
        )
        prev = f"v{it}"
    parts.append(
        f"""
SELECT i, round(CAST(v AS DOUBLE) / {float(VSCALE)}, 6) AS loading FROM {prev}"""
    )
    return "".join(parts)
