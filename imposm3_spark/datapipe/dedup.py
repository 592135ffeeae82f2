"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup is a hash-groupBy (one shuffle on the content hash).
- near-dup never does the O(n^2) self-join: MinHash signatures are computed
  per row (scan-speed, no shuffle), then candidates come from an equi-join
  on (band_index, band_key) — shuffle proportional to docs x bands, and the
  quadratic blowup is confined to same-bucket collisions.
- all hashing is md5-based so the DuckDB oracle computes bit-identical
  values (no engine-private hash functions in results).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from imposm3_spark.datapipe.sampling import spread_small_input
from imposm3_spark.datapipe.text import tokens


def content_hash(text: Column) -> Column:
    return F.md5(text)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per distinct content hash."""
    h = content_hash(F.col(text_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_h")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles.

    Built with zip_with over k shifted slices of the token array — the
    lambdas reference ONLY their lambda variables. The naive
    transform(sequence(1,n), i -> concat_ws(' ', slice(toks, i, k)))
    re-evaluates the outer `toks` subtree (a regexp split) once PER
    ELEMENT — Spark's higher-order functions bind lambda variables but
    re-evaluate captured expressions, an O(n^2) trap on the hot path."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        nxt = F.slice(toks, 1 + j, m)
        out = F.zip_with(out, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def minhash_signatures_relational(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, s0..s{k-1}) MinHash signature table.

    Performance-critical shape: higher-order array functions are interpreted
    (not whole-stage-codegen'd) and every column referencing the shingle
    subtree re-evaluates it — naive per-column array_min signatures
    re-tokenize and re-shingle the text num_hashes times (~50x slower).
    Instead, ONE ``aggregate`` fold over the per-shingle md5 array computes
    all num_hashes mins in a single pass (struct accumulator of running
    mins; ``least`` skips the NULL init, so docs with no shingles keep
    NULL signatures exactly like the old per-column ``array_min``). ONE
    md5 per shingle (sub-hash slices, see _minhash_fold) instead of
    num_hashes md5s. ZERO exchanges: the round-2 formulation repartitioned
    by doc id purely to materialize the md5 array against CollapseProject
    re-evaluation — the fold reads the array once by construction, so the
    exchange (which shuffled the full fat hash arrays) is deleted. Value
    equality with the round-2 formulation is pinned by
    test_curation.py::test_minhash_fold_matches_round2_formulation; warm
    sf0.1x64 sigs pass measured 5.8 s -> 4.7 s (docs/ROUND9.md)."""
    sig = _minhash_fold(text_col, num_hashes, shingle_k)
    df = spread_small_input(df)
    return df.select(
        F.col(id_col).alias("doc"),
        *[sig[f"s{i}"].alias(f"s{i}") for i in range(num_hashes)],
    )


def _minhash_fold(
    text_col: str, num_hashes: int, shingle_k: int, finish=None
) -> Column:
    """The one-pass MinHash fold: aggregate over the per-shingle md5 array
    with a struct accumulator of running per-slice mins. ``finish``
    optionally post-processes the accumulator INSIDE the aggregate — the
    caller then holds a single aggregate occurrence, which matters under
    Generate (see minhash_lsh_pairs).

    sig_i is the min over shingles of the i-th fixed-width slice of
    md5(shingle): ONE md5 split into num_hashes sub-hashes (the slices are
    independent under the random-oracle assumption). Hex-string min —
    lexicographic order on fixed-width hex equals numeric order, so any
    engine with md5() reproduces it."""
    width = 32 // num_hashes
    mh = F.transform(shingles(F.col(text_col), shingle_k), lambda s: F.md5(s))
    init = F.struct(
        *[F.lit(None).cast("string").alias(f"s{i}") for i in range(num_hashes)]
    )

    def fold(acc: Column, m: Column) -> Column:
        return F.struct(
            *[
                F.least(acc[f"s{i}"], m.substr(1 + i * width, width)).alias(f"s{i}")
                for i in range(num_hashes)
            ]
        )

    if finish is None:
        return F.aggregate(mh, init, fold)
    return F.aggregate(mh, init, fold, finish)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH.

    Shape for scale: signatures are computed ONCE (one groupBy(doc) pass),
    then pairs are generated bucket-locally — groupBy(band) collects the
    colliding doc ids and expands the pairs with array expressions. This
    replaces the banded self-join, which would re-evaluate the signature
    subtree on both sides and shuffle it twice; here the shuffle volume is
    exactly docs x bands rows. Pair blowup stays confined to same-bucket
    collisions either way (that is the LSH contract: band width bounds the
    collision probability).

    `max_bucket_size`: at corpus scale a degenerate band (boilerplate,
    empty-ish docs) can collect millions of ids -> a quadratic pair
    explosion in ONE task. The cap drops buckets larger than it (the same
    move as the reference's fixed fan-out thresholds, e.g. the 64/500-tile
    expiry caps) — an oversized bucket means the band carries ~no
    information; its true duplicates still collide in the other bands.
    None (default) keeps exact LSH semantics."""
    # ONE aggregate occurrence producing the band-key ARRAY directly via the
    # fold's finish lambda. Two round-9 findings drive this shape:
    # (1) raw concat band keys (injective on the fixed-width slices —
    #     identical bucketing to the round-2 md5(concat), minus the hash and
    #     the 4x key bytes in the banding shuffle; a NULL slice still
    #     makes the key NULL, as md5(concat) did);
    # (2) runtime subexpression elimination covers repeated aggregate
    #     references in a plain Project but NOT in a Generate input — 8
    #     references under posexplode re-ran the whole shingle+md5 fold 8x
    #     (measured 24 s vs 4.4 s warm at sf0.1x64). The finish lambda keeps
    #     exactly one occurrence regardless of the consumer's plan shape.
    assert num_hashes % rows_per_band == 0

    def _finish(acc: Column) -> Column:
        return F.array(
            *[
                F.concat(
                    *[acc[f"s{b * rows_per_band + j}"] for j in range(rows_per_band)]
                )
                for b in range(num_hashes // rows_per_band)
            ]
        )

    bands_arr = _minhash_fold(text_col, num_hashes, shingle_k, finish=_finish)
    # spread: the fold is one interpreted md5 per shingle (~one per input
    # token) — at scan parallelism a sub-split corpus runs it on one task
    banded = spread_small_input(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(bands_arr).alias("band_idx", "band_key"),
    ).filter(F.col("band_key").isNotNull())
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket_size)
    # all ordered pairs from the sorted id array: docs[i-1] x docs[i:]
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(docs) - 1), "
        "i -> transform(slice(docs, i + 1, size(docs) - i), "
        "d -> struct(docs[i - 1] AS id_a, d AS id_b))))"
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash over whitespace tokens with md5-derived token hashes.

    Token hash = first 15 hex chars of md5 as a 60-bit int; bit b of the
    simhash is 1 iff the (+1/-1) vote sum over tokens is positive."""
    toks = tokens(F.lower(text))

    def tok_hash(t: Column) -> Column:
        return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")

    def make_vote(bit: int):
        def merge(acc: Column, t: Column) -> Column:
            is_set = F.shiftright(tok_hash(t), bit).bitwiseAND(F.lit(1)) == 1
            return acc + F.when(is_set, F.lit(1)).otherwise(F.lit(-1))

        return merge

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = F.aggregate(toks, F.lit(0), make_vote(b))
        out = out + F.when(vote > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(doc_id, simhash) with the same semantics as simhash() — one md5 per
    token, bit b set iff the (+1/-1) vote sum over tokens is positive.

    The token hashes are computed JVM-side as a `transform()` expression
    (conv(substring(md5(tok),1,15),16,10) — byte-identical to hashlib.md5's
    first 15 hex chars, 60 usable bits), so whole-stage codegen does the
    hashing and only the vote matrix crosses into Python: the pandas UDF
    receives list<bigint> through Arrow (contiguous buffers, no string
    materialization) and runs one numpy pass per row. Measured ~2x faster
    than md5-in-Python at sf0.1; semantics unchanged (oracle parity).
    The per-bit vote accumulation stays numpy: `bits` interpreted
    higher-order aggregates measured ~5x slower at bits=60 (each HOF
    re-traverses every token array). Zero-shuffle: tokenize, hash, vote
    all happen in the scan stage."""
    toks = tokens(F.lower(F.col(text_col)))
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
    )
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf("bigint")
    def sh(hash_series: pd.Series) -> pd.Series:
        n = len(hash_series)
        if n == 0:
            return pd.Series([], dtype="int64")
        # one flat (total_tokens, bits) vote matrix for the WHOLE Arrow
        # batch, segmented back per document with add.reduceat — no
        # per-row python beyond building the offsets
        arrs = [
            np.asarray(h, dtype=np.int64)
            if h is not None and len(h)
            else np.empty(0, dtype=np.int64)
            for h in hash_series
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        flat = np.concatenate(arrs) if lens.sum() else np.empty(0, dtype=np.int64)
        out = np.zeros(n, dtype=np.int64)
        nz = lens > 0
        if flat.size:
            votes_tok = ((flat[:, None] >> shifts) & 1) * 2 - 1  # (T, bits)
            starts = np.zeros(n, dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            # reduceat needs strictly valid segment starts; restrict to
            # non-empty docs (empty ones keep simhash 0)
            seg = np.add.reduceat(votes_tok, starts[nz], axis=0)
            out[nz] = (seg > 0) @ weights
        return pd.Series(out, dtype="int64")

    return spread_small_input(df).select(F.col(id_col), hashes.alias("toks")).select(
        id_col, sh(F.col("toks")).alias("simhash")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    max_distance: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance: (a_id, b_id,
    hamming) with a_id < b_id and hamming <= max_distance.

    EXACT w.r.t. the threshold via the pigeonhole band join: the simhash
    splits into max_distance+1 equal bands, and any pair within hamming
    max_distance must agree on at least one whole band — so the per-band
    equi-join has recall 1 by construction (unlike MinHash-LSH's
    probabilistic recall). Candidates then verify with one
    bit_count(a XOR b) expression. Scale shape: the band join shuffles on
    (band_idx, band_key) — bits/(d+1)-bit keys keep buckets selective —
    and no stage ever materializes the full pair matrix. 60 bits because
    the md5-derived token hash yields 60 usable bits (15 hex chars)."""
    nb = max_distance + 1
    width = bits // nb
    assert width * nb == bits, "bits must divide into max_distance+1 bands"
    # materialize the (id, simhash) table once: both sides of the band
    # self-join read it, and at scale re-tokenizing + re-hashing the full
    # corpus per side costs far more than storing 16 bytes/doc (lazy local
    # checkpoint: computed on first action, no extra job)
    sims = simhash_table(df, text_col=text_col, id_col=id_col, bits=bits).localCheckpoint(
        eager=False
    )
    bands = sims.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_key"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_idx", "band.band_key")
    a = bands.select(
        F.col("id").alias("a_id"), F.col("simhash").alias("a_sim"), "band_idx", "band_key"
    )
    b = bands.select(
        F.col("id").alias("b_id"), F.col("simhash").alias("b_sim"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("a_id", "b_id", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_k: int = 3,
    **lsh_kwargs,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidates (two-stage: cheap recall via
    LSH, exact verify on the candidate set only).

    The candidate pair set is materialized (it is tiny — LSH's whole point)
    and the exact-verify side shingles ONLY candidate documents: a semi
    join restricts the corpus before the tokenize+shingle projection runs,
    so the expensive text processing happens once corpus-wide (inside LSH)
    instead of three times."""
    cands = minhash_lsh_pairs(
        df, text_col, id_col, shingle_k=shingle_k, **lsh_kwargs
    ).localCheckpoint(eager=True)
    cand_ids = (
        cands.select(F.col("id_a").alias("cid"))
        .union(cands.select("id_b"))
        .distinct()
    )
    sets = df.join(
        cand_ids, df[id_col] == F.col("cid"), "leftsemi"
    ).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    ).localCheckpoint(eager=False)
    # ^ lazy checkpoint: both sides of the pair join read the candidate
    # shingle sets from ONE materialization (candidate-sized, tiny) instead
    # of re-running the semi join + shingle projection per side
    j = (
        cands.join(sets.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return j


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents that share any word
    k-gram with a held-out benchmark/eval set (the standard n-gram-overlap
    contamination test run before training).

    Returns (id_col, n_shared) for contaminated corpus docs only — callers
    anti-join this against the corpus to drop them.

    Scale design: the benchmark side is eval-set-sized (thousands of docs),
    so its distinct shingle set broadcasts; the corpus side is one
    scan-speed shingle projection + explode, and the join is a broadcast
    hash join — no corpus-wide shuffle at all. The only aggregation is the
    per-doc match count, a shuffle on contaminated doc ids (tiny).
    """
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh")
        )
        .distinct()
    )
    corpus_sh = spread_small_input(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def contamination_score(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Graded contamination: for every corpus document, the fraction of its
    DISTINCT word k-gram shingles that appear in the benchmark/eval set —
    the score behind threshold-based decontamination policies (drop > 0.8,
    downweight > 0.2, ...) where the binary `decontaminate` gate is too
    blunt. Returns (id_col, n_shingles, n_shared, overlap_frac) for every
    doc with at least one shingle; overlap_frac rounds to 6 decimals of an
    exact integer ratio, so the oracle hash-matches bit-for-bit.

    Scale: identical shape to `decontaminate` — the eval shingle set
    broadcasts, the corpus contributes one scan + explode, the per-doc agg
    shuffles only (doc, counts). Unlike a join-then-count-left-join
    formulation, the single aggregate counts both totals in one pass.
    """
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus_sh = spread_small_input(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_shared"),
        )
        .withColumn(
            "overlap_frac",
            F.round(F.col("n_shared").cast("double") / F.col("n_shingles"), 6),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:

    - ``distinct_ratio``   distinct tokens / tokens (expression, no shuffle)
    - ``top_token_frac``   occurrences of the most frequent token / tokens
    - ``top_bigram_frac``  occurrences of the most frequent word bigram /
                           total bigrams

    The top-k fractions need per-(doc, term) counts: explode + two-level
    aggregation, i.e. shuffles keyed on (doc, term) then doc. That is the
    scalable shape — the O(n^2)-per-doc alternative (array_transform
    counting occurrences of each distinct token inside the row) blows up
    on long documents, while the explode path is linear and spills.
    Repetitious machine-generated text scores distinct_ratio low and
    top_*_frac high; the standard Gopher cut is roughly
    top_bigram_frac > 0.18 or distinct_ratio < 0.5.
    """
    from imposm3_spark.datapipe.text import distinct_token_ratio, tokens

    base = df.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens"),
        distinct_token_ratio(F.col(text_col)).alias("distinct_ratio"),
        F.greatest(
            F.size(tokens(F.lower(F.col(text_col)))) - 1, F.lit(0)
        ).alias("n_bigrams"),
    )
    tok_max = (
        df.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("max_tok"))
    )
    bg_max = (
        df.select(F.col(id_col), F.explode(shingles(F.col(text_col), 2)).alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("max_bg"))
    )
    return (
        base.join(tok_max, id_col, "left")
        .join(bg_max, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.round("distinct_ratio", 6).alias("distinct_ratio"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce(F.col("max_tok"), F.lit(0)).cast("double") / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("top_token_frac"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(F.coalesce(F.col("max_bg"), F.lit(0)).cast("double") / F.col("n_bigrams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    m_bits: int = 65536,
    k_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter benchmark decontamination: like `decontaminate`, but the
    membership structure is a Bloom filter over the eval set's shingles —
    m_bits bits, k_hashes set per shingle — so the broadcast side is a FIXED
    size (m_bits bits) no matter how large the eval suite grows, at the cost
    of (deterministic, hash-collision) false positives. A flagged doc might
    be clean; a clean verdict is always true — exactly the guarantee a
    pre-training contamination gate needs (flags go to the exact checker or
    get dropped outright).

    The k hash functions are disjoint 8-hex-char windows of md5(shingle)
    mod m_bits — engine-reproducible, so the whole filter (bit set AND
    verdicts) is deterministic and SQL-checkable. Returns (id_col, n_hits):
    corpus docs with >=1 Bloom-positive shingle and their positive-shingle
    count.

    Scale shape — the filter IS a constant bit array, not a join: the
    bench side reduces to <= m_bits distinct set bits, collected into an
    m_bits/64-long word array (bounded by construction, like the
    reference's fixed-size caches) and embedded as an array literal in
    the corpus plan; the membership test is a pure JVM expression inside
    whole-stage codegen. Zero corpus shuffle; the only exchange
    aggregates the (rare) hit rows per doc."""
    assert 8 * k_hashes <= 32, "md5 yields 32 hex chars = at most 4 8-char windows"

    def bits_of(col):
        # k_hashes bucket ids from disjoint md5 windows
        return F.array(
            *[
                F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10).cast("bigint")
                % m_bits
                for j in range(k_hashes)
            ]
        )

    bench_bits = (
        benchmark.select(F.explode(shingles(F.col(text_col), k=shingle_k)).alias("s"))
        .select(F.explode(bits_of(F.col("s"))).alias("bit"))
        .distinct()
    )
    # build the filter: <= m_bits rows cross the driver (bounded by
    # construction — m_bits is a config constant, not data-sized)
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in bench_bits.collect():
        b = int(r["bit"])
        words[b >> 6] |= np.uint64(1) << np.uint64(b & 63)

    # ship the filter as an m_bits/64-long ARRAY LITERAL and test
    # membership as a pure JVM expression: word = mask[bit>>6],
    # hit-bit = pow2[bit&63], member iff word & hit-bit != 0. This keeps
    # the whole corpus pass inside whole-stage codegen — the earlier
    # numpy-over-broadcast pandas UDF paid an Arrow round trip for every
    # (doc, shingle) row and ran ~3x slower end-to-end. The literal is
    # 8 KB of plan, constant per query — same bounded-size guarantee as
    # the broadcast it replaces.
    mask = F.lit([int(w) for w in words.view(np.int64)]).cast("array<bigint>")
    pow2 = F.lit(
        [int(np.int64(np.uint64(1) << np.uint64(i))) for i in range(64)]
    ).cast("array<bigint>")

    def member(bit: Column) -> Column:
        # bit < m_bits (a power of two), so /64 is exact in double and the
        # int cast is a true >>6
        word = F.element_at(mask, (bit / 64).cast("int") + 1)
        return word.bitwiseAND(F.element_at(pow2, (bit % 64).cast("int") + 1)) != 0

    def bloom_hit(s: Column) -> Column:
        md5c = F.md5(s)
        tests = [
            member(
                F.conv(F.substring(md5c, 1 + 8 * j, 8), 16, 10).cast("bigint") % m_bits
            )
            for j in range(k_hashes)
        ]
        out = tests[0]
        for t in tests[1:]:
            out = out & t
        return out  # hit iff ALL k bits set

    # per-doc shingle dedup via array_distinct BEFORE exploding — a
    # row-level expression, unlike .distinct() after the explode, which
    # would shuffle every (doc, shingle) pair corpus-wide
    corp = spread_small_input(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), k=shingle_k))).alias("s"),
    )
    hits = corp.filter(bloom_hit(F.col("s")))
    return hits.groupBy(id_col).agg(F.count("*").alias("n_hits"))
