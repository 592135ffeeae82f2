"""Property-based tests for round-4 session-2 operators: global cumsums
under random partitioning, Kendall tau-b vs brute force, k-core peel vs
a sequential reference, and Gini vs the direct formula."""

from __future__ import annotations

import itertools
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st_.lists(
        st_.tuples(
            st_.integers(min_value=-1000, max_value=1000),
            st_.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=120,
    ),
    parts=st_.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_global_cumsums_any_partitioning(spark, vals, parts):
    from imposm3_spark.datapipe.sampling import with_global_cumsums

    rows = [(i, v, w) for i, (v, w) in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v long, w long").repartition(parts)
    out = with_global_cumsums(df, ["v", "i"], ["w"], num_partitions=parts)
    got = [(r.v, r.i, r.cum_w) for r in out.collect()]
    got.sort(key=lambda t: (t[0], t[1]))
    acc = 0
    expect = []
    for i, (v, w) in sorted(enumerate(vals), key=lambda t: (t[1][0], t[0])):
        acc += w
        expect.append((v, i, acc))
    assert got == expect


@given(
    pts=st_.lists(
        st_.tuples(
            st_.integers(min_value=0, max_value=8),
            st_.integers(min_value=0, max_value=3),
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_kendall_matches_bruteforce(spark, pts):
    from imposm3_spark.datapipe.stats import kendall_tau_b

    df = spark.createDataFrame(pts, "x long, y long")
    rows = kendall_tau_b(df, "x", "y", n_y=4).collect()
    C = D = 0
    for (xa, ya), (xb, yb) in itertools.combinations(pts, 2):
        s = (xa - xb) * (ya - yb)
        C += s > 0
        D += s < 0
    n = len(pts)
    n0 = n * (n - 1) // 2
    from collections import Counter

    n1 = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in pts).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(y for _, y in pts).values())
    if not (n0 > n1 and n0 > n2):
        assert rows == []  # degenerate (all-tied) input: tau undefined
        return
    r = rows[0]
    assert (r.concordant, r.discordant) == (float(C), float(D))
    tau = (C - D) / math.sqrt((n0 - n1) * (n0 - n2))
    assert r.tau_b == round(tau, 6)


def _peel_ref(edges, k, rounds):
    e = set(edges)
    for _ in range(rounds):
        deg: dict = {}
        for s, d in e:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        alive = {n for n, c in deg.items() if c >= k}
        e = {(s, d) for s, d in e if s in alive and d in alive}
    deg = {}
    for s, d in e:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    return deg


@given(
    edges=st_.sets(
        st_.tuples(
            st_.integers(min_value=0, max_value=12),
            st_.integers(min_value=0, max_value=12),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    ),
    k=st_.integers(min_value=2, max_value=4),
)
@settings(**SETTINGS)
def test_kcore_matches_sequential_peel(spark, edges, k):
    from imposm3_spark.datapipe.graph import kcore_peel

    df = spark.createDataFrame(
        [(f"n{s}", f"n{d}") for s, d in edges], "s string, d string"
    )
    got = {r.node: r.degree for r in kcore_peel(df, k=k, rounds=5).collect()}
    expect = {
        f"n{n}": c for n, c in _peel_ref(edges, k, 5).items()
    }
    assert got == expect


@given(
    vals=st_.lists(st_.integers(min_value=0, max_value=10_000), min_size=1, max_size=80)
)
@settings(**SETTINGS)
def test_gini_matches_direct_formula(spark, vals):
    from imposm3_spark.datapipe.stats import gini_coefficient

    if sum(vals) == 0:
        return
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    r = gini_coefficient(df, "k", "v").collect()[0]
    sv = sorted(vals)
    n, s = len(sv), sum(sv)
    g = (2 * sum((i + 1) * v for i, v in enumerate(sv)) - (n + 1) * s) / (n * s)
    assert r.n_keys == n and r.total == s
    assert r.gini == round(g, 6)
