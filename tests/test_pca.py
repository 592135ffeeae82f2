"""Integer power-iteration PCA: recovers a planted dominant direction,
gram matrix matches numpy exactly, the result is partition-invariant
(the bit-identical-across-cluster-sizes claim) and equals a pure-Python
mirror of the oracle's unrolled integer steps."""

from __future__ import annotations

from fractions import Fraction

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

from imposm3_spark.datapipe.pca import QSCALE, VSCALE, gram_matrix, top_component


def _df(spark, X, partitions=None):
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    return df.repartition(partitions) if partitions else df


def test_gram_matches_numpy(spark):
    rng = np.random.RandomState(2)
    X = rng.randn(50, 4).astype("float32")
    got = {(r.i, r.j): r.g for r in gram_matrix(_df(spark, X)).collect()}
    Q = np.round(X.astype("float64") * QSCALE).astype("int64")
    G = Q.T @ Q
    assert got == {
        (i + 1, j + 1): int(G[i, j]) for i in range(4) for j in range(4)
    }


def test_recovers_planted_direction(spark):
    rng = np.random.RandomState(7)
    direction = np.array([0.8, 0.6, 0.0, 0.0])
    X = (
        rng.randn(200, 1) * direction[None, :] * 0.9
        + rng.randn(200, 4) * 0.05
    ).astype("float32")
    out = {r.i: r.loading for r in top_component(_df(spark, X), iterations=5).collect()}
    v = np.array([out[i + 1] for i in range(4)])
    v = v / np.linalg.norm(v)
    cos = abs(float(v @ direction / np.linalg.norm(direction)))
    assert cos > 0.99


def test_partition_invariant(spark):
    rng = np.random.RandomState(3)
    X = rng.randn(120, 6).astype("float32")
    a = sorted(top_component(_df(spark, X), iterations=3).collect())
    b = sorted(top_component(_df(spark, X, partitions=11), iterations=3).collect())
    assert a == b


def test_top_component_fires_at_most_four_jobs(spark, jobs_fired):
    rng = np.random.RandomState(3)
    emb = _df(spark, rng.randn(120, 6).astype("float32"))
    rows, jobs = jobs_fired(
        "pca-top-component", lambda: top_component(emb, iterations=3).collect()
    )
    assert len(rows) == 6
    assert 1 <= jobs <= 4


def _mirror(Q, iterations):
    """The oracle's unrolled integer steps over quantized rows Q: every
    division truncates toward zero (int(Fraction) truncates), as DuckDB's
    // does."""
    n, d = len(Q), len(Q[0])
    G = [[int(Fraction(sum(q[i] * q[j] for q in Q), n)) for j in range(d)]
         for i in range(d)]
    v = [VSCALE] * d
    for _ in range(iterations):
        u = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        s = int(Fraction(m, VSCALE)) or 1
        v = [int(Fraction(x, s)) for x in u]
    return [(i + 1, round(x / VSCALE, 6)) for i, x in enumerate(v)]


def _run(spark, Q, iterations=3):
    # k / QSCALE quantizes back to exactly k
    X = np.array(Q, dtype="float64") / QSCALE
    out = top_component(_df(spark, X), iterations=iterations).collect()
    return sorted(tuple(r) for r in out)


@given(
    Q=st_.integers(min_value=1, max_value=4).flatmap(
        lambda d: st_.lists(
            st_.lists(st_.integers(min_value=-2000, max_value=2000), min_size=d, max_size=d),
            min_size=1,
            max_size=8,
        )
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_top_component_matches_integer_mirror(spark, Q):
    assert _run(spark, Q) == _mirror(Q, 3)


def test_top_component_zero_scale_step(spark):
    """Rows (a, -a) give a Gram with zero row sums, so the first u is 0
    and max|u| div VSCALE is 0: the step divides by 1, not by 0."""
    Q = [[700, -700], [-300, 300], [1200, -1200]]
    assert _run(spark, Q) == _mirror(Q, 3) == [(1, 0.0), (2, 0.0)]
