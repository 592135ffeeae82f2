"""Distributed BPE tokenizer induction (byte-pair-encoding merge
learning) over a document corpus.

The classic Sennrich et al. algorithm: spell every distinct word as a
space-separated symbol sequence, then repeatedly (a) count adjacent
symbol pairs weighted by word frequency, (b) merge the most frequent
pair everywhere. The artifact is the ordered merge list — the tokenizer.

Scale shape (the part that matters at 100 TB):
- the CORPUS is scanned exactly once, to build the word-frequency table
  (one map-side-combinable groupBy) and spell each distinct word.
- the driver collects that vocab table once (one spelled string per
  distinct word: bounded by the vocabulary, not the corpus) and runs the
  merge loop in Python — the vocabulary-on-the-driver shape of Spark
  MLlib's Word2Vec and CountVectorizer and of the classic Sennrich,
  SentencePiece and HF trainers.
- the merge is a literal string replace, left to right without overlap,
  in the driver loop (str.replace) and in the encode pass (a pure JVM
  expression, bpe_segment) alike.

Determinism: ties break (count desc, pair asc); the merge application
is classic BPE's left-to-right greedy sweep, realized as ONE plain
string replace over a DOUBLE-SPACE-separated spelling (see _spell /
_merge_pair) — bit-identical to the SQL oracle's `replace`.

Round-8 note: the previous single-space spelling used two replace
passes, and back-to-back occurrences sharing a boundary space made the
first pass SKIP the second occurrence of a run — an odd run of 5+
identical symbols segmented (xx)(x)(xx) instead of classic BPE's
(xx)(xx)(x) (hypothesis found 'bbbbb'; test_stats_properties pins the
pure-python classic reference). With double-space separators the
pattern ' l  r ' consumes only the inner halves of the two boundary
separators, so adjacent occurrences never overlap and one
left-to-right pass IS the classic greedy sweep.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imposm3_spark.datapipe.text import tokens


def _spell(word: Column) -> Column:
    """'  c  h  a  r  s  ' — DOUBLE-space padded and separated symbols.

    The double separator is what makes one plain `replace` equal to the
    classic greedy sweep: the merge pattern ' l  r ' (single space, l,
    double space, r, single space) consumes only the INNER half of each
    boundary separator, so the occurrence that starts right after shares
    no characters with it and matches in the same pass."""
    return F.concat(
        F.lit("  "),
        F.concat_ws("  ", F.regexp_extract_all(word, F.lit("."), 0)),
        F.lit("  "),
    )


def _merge_pair(spelled: Column, left: str, right: str) -> Column:
    """Merge every adjacent (left, right) into one symbol — one
    left-to-right non-overlapping replace == the classic BPE sweep (see
    _spell). Replacing ' l  r ' with ' lr ' restores the double-separator
    invariant: the two untouched outer half-spaces complete ' lr ' to
    '  lr  '."""
    return F.replace(
        spelled, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
    )


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the lowered whitespace tokens — the ONE corpus
    scan of BPE learning."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_merges(
    df: DataFrame, text_col: str = "text", num_merges: int = 8
) -> list[tuple[int, str, str, str, int]]:
    """Learn `num_merges` BPE merges; returns the ordered merge list
    (step, left, right, merged, pair_count) — step 0 is the first merge.

    Ties break on (-count, 'left right') in code-point order, which is
    Spark's UTF-8 binary string order. Stops early if no adjacent pair
    remains (fully merged vocab)."""
    vocab = [
        (r["spelled"], int(r["cnt"]))
        for r in word_freqs(df, text_col)
        .select(_spell(F.col("w")).alias("spelled"), "cnt")
        .collect()
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(num_merges):
        counts: Counter[str] = Counter()
        for spelled, cnt in vocab:
            sym = spelled.strip(" ").split("  ")
            for a, b in zip(sym, sym[1:]):
                counts[f"{a} {b}"] += cnt
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ")
        merged = left + right
        merges.append((step, left, right, merged, cnt))
        vocab = [
            (spelled.replace(f" {left}  {right} ", f" {merged} "), c)
            for spelled, c in vocab
        ]
    return merges


def bpe_learn(
    df: DataFrame, text_col: str = "text", num_merges: int = 8
) -> DataFrame:
    """bpe_merges as a table (step, left, right, merged, pair_count)."""
    return df.sparkSession.createDataFrame(
        bpe_merges(df, text_col, num_merges),
        "step int, left string, right string, merged string, pair_count bigint",
    )


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ordered merge list to a corpus: (id, n_tokens, n_pieces) —
    pieces = BPE symbols after all merges, applied per word in merge
    order. Pure expressions (replace chain over the spelled word), so the
    encode pass runs at scan speed with zero shuffle."""

    def encode_word(w: Column) -> Column:
        s = _spell(w)
        for left, right in merges:
            s = _merge_pair(s, left, right)
        return F.size(F.split(F.trim(s), "  "))

    toks = tokens(F.lower(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(toks, encode_word), F.lit(0), lambda acc, x: acc + x
        ).alias("n_pieces"),
    )
