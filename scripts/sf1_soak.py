"""sf1 (10x) scale soak of the heaviest registered queries (round-9
verdict task 5): the cheapest way to catch a 100x-scale cliff the sf0.1
bench cannot see.

Builds a synthetic sf1 directory in /tmp — documents and embeddings
replicated REPLICAS x with deterministic variation, every other table
copied verbatim — then times each soak query at sf0.1 and at sf1 and
reports the wall-time ratio. For the banded/LSH/sampled paths the pass
bar is ratio < REPLICAS (sub-linear-per-row work — a quadratic path
would come in at ~REPLICAS^2); quadratic-truth unsampled pair queries
are expected to exceed it and are labeled as such.

Replication design (verbatim copies would make every doc a near-dup of
its siblings, so the LSH bucket join and the component pass would measure
a quadratic artifact of the fixture, not the engine):

* documents: each replica's text is a per-replica deterministic token
  permutation (xxhash64(token, pos, replica) sort key, doc_id excluded
  so intra-replica exact-dup structure survives). lang/source carry
  over; n_chars is recomputed from the permuted text (single-space
  joined). doc_id = replica * N + row index — dense, collision-free.
* embeddings: per-replica deterministic jitter on every coordinate
  (xxhash64(vec_id, dim, replica) mapped to [-0.05, 0.05)) so replicas
  are near but not equal — LSH buckets and kNN neighborhoods grow with
  corpus size instead of degenerating into exact-tie stacks.

Usage: python scripts/sf1_soak.py [replicas] [query ...]
Writes the markdown table to stdout; the round doc pastes it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from imposm3_spark import benchqueries as bq
from imposm3_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

# the 15 heaviest doc_/emb_ queries by BENCH_HISTORY sf0.1 median
# (scripts/bench_medians.py), plus emb_kmeans per the verdict's list.
# quadratic-truth pair queries are labeled — their sf1 blowup is the
# algorithm's contract, not a plan regression.
# doc_lsh_pr / doc_lsh_pr_curve (UNSAMPLED) are deliberately absent:
# their ground-truth side is all-pairs Jaccard BY CONTRACT (~100x work at
# 10x docs) — the _sampled variants below are their scale path and stand
# in for them here.
SOAK = [
    ("doc_simhash_pairs", "banded"),
    ("doc_curate", "banded"),
    ("emb_knn_graph", "quadratic-blocked"),
    ("emb_cluster_ari", "linear-iterative"),
    ("doc_winnow_pairs", "banded"),
    ("doc_ppjoin", "prefix-filtered"),
    ("doc_lsh_pr_curve_sampled", "sampled-truth"),
    ("doc_cosine_pairs", "quadratic-blocked"),
    ("doc_containment", "banded"),
    ("doc_cdc_dedup", "banded"),
    ("doc_cdc_chunks", "linear"),
    ("doc_lsh_pr_sampled", "sampled-truth"),
    ("emb_neardup", "quadratic-blocked"),
    ("emb_neardup_clusters", "banded"),
    ("doc_bloom_decontaminate", "linear"),
    ("emb_kmeans", "linear-iterative"),
]


def build_sf1(spark: SparkSession, out_dir: str, replicas: int) -> None:
    # verbatim tables: parquet file copy, no Spark involved
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        src = f"{SF01}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, f"{out_dir}/{t}.parquet")
        else:
            shutil.copy(src, f"{out_dir}/{t}.parquet")

    par = spark.sparkContext.defaultParallelism
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("_rep")

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    n = docs.count()
    base = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("j"),
        F.split(F.col("text"), " ").alias("toks"),
        "lang",
        "source",
    )
    keyed = F.transform(
        F.col("toks"),
        lambda t, i: F.struct(F.xxhash64(t, i, F.col("_rep")).alias("k"), t.alias("t")),
    )
    text = F.array_join(F.transform(F.array_sort(keyed), lambda s: s["t"]), " ")
    (
        base.select("j", "toks", "lang", "source", rep)
        .repartition(par)
        .select(
            (F.col("_rep").cast("bigint") * n + F.col("j")).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("bigint").alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    m = emb.count()
    jit = F.transform(
        F.col("embedding"),
        lambda v, i: (
            v
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), i, F.col("_rep")), F.lit(1000))
                .cast("double")
                / 1000.0
                - 0.5
            )
            * 0.1
        ).cast("float"),
    )
    (
        emb.select("vec_id", "embedding", "label", rep)
        .repartition(par)
        .select(
            (F.col("_rep").cast("bigint") * m + F.col("vec_id")).alias("vec_id"),
            F.when(F.col("_rep") == 0, F.col("embedding")).otherwise(jit).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )


def main() -> int:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    soak = [(q, kind) for q, kind in SOAK if not only or q in only]

    spark = get_spark("sf1-soak")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = tempfile.mkdtemp(prefix="imposm3_sf1_")
    try:
        t0 = time.perf_counter()
        build_sf1(spark, out_dir, replicas)
        print(f"sf1 fixture built in {time.perf_counter() - t0:.1f} s at {out_dir}")

        # one warmup each at sf0.001 so codegen/JIT is out of the clocks
        for q, _ in soak:
            try:
                bq.QUERIES[q](spark, "/root/testdata/sf0.001").count()
            except Exception:
                pass

        import gc

        rows = []
        for q, kind in soak:
            gc.collect()
            t = time.perf_counter()
            n01 = bq.QUERIES[q](spark, SF01).count()
            w01 = time.perf_counter() - t
            gc.collect()
            t = time.perf_counter()
            n1 = bq.QUERIES[q](spark, out_dir).count()
            w1 = time.perf_counter() - t
            ratio = w1 / w01 if w01 else float("inf")
            # pass bar: wall ratio < replicas (work-per-row did not grow).
            # quadratic-blocked queries are EXPECTED above it — their pair
            # count grows replicas^2 by contract; flag them only if the
            # wall exceeds even that (a genuine plan regression).
            if ratio < replicas:
                verdict = "sub-linear ok"
            elif kind == "quadratic-blocked" and ratio < replicas * replicas:
                verdict = "quadratic-contract"
            else:
                verdict = "SUPER-LINEAR"
            rows.append((q, kind, w01, w1, ratio, n01, n1, verdict))
            print(
                f"{q:32s} {kind:18s} sf0.1 {w01:7.2f}s  sf1 {w1:8.2f}s  "
                f"ratio {ratio:6.2f}x  rows {n01}->{n1}  {verdict}",
                flush=True,
            )

        print("\n| query | class | sf0.1 s | sf1 s | ratio | rows sf0.1 | rows sf1 | verdict |")
        print("|---|---|---|---|---|---|---|---|")
        for q, kind, w01, w1, ratio, n01, n1, verdict in rows:
            print(
                f"| {q} | {kind} | {w01:.2f} | {w1:.2f} | {ratio:.2f}x "
                f"| {n01} | {n1} | {verdict} |"
            )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
