"""BPE tokenizer induction: hand-checked merges, greedy overlap
semantics, and the encode pass."""

from __future__ import annotations

from imposm3_spark.datapipe.bpe import bpe_learn, bpe_segment


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_hand_example(spark):
    # corpus: 'abab' x3, 'ab' x2 -> pair (a,b) count 3*2+2*1 = 8 dominates;
    # after merging 'ab', pair (ab,ab) has count 3
    df = _docs(spark, ["abab abab abab ab ab"])
    out = bpe_learn(df, num_merges=2).collect()
    assert [(r.step, r.left, r.right, r.merged, r.pair_count) for r in out] == [
        (0, "a", "b", "ab", 8),
        (1, "ab", "ab", "abab", 3),
    ]


def test_greedy_overlap(spark):
    # 'aaa': pairs (a,a) twice -> merge 'a a' greedy left-to-right gives
    # (aa, a), not (a, aa); second merge must see pair (aa, a)
    df = _docs(spark, ["aaa aaa"])
    out = bpe_learn(df, num_merges=2).collect()
    assert (out[0].left, out[0].right) == ("a", "a")
    assert (out[1].left, out[1].right, out[1].pair_count) == ("aa", "a", 2)


def test_tie_breaks_lexicographic(spark):
    # 'xy' and 'ab' both occur once -> counts tie at 1; 'a b' < 'x y'
    df = _docs(spark, ["xy ab"])
    out = bpe_learn(df, num_merges=1).collect()
    assert (out[0].left, out[0].right) == ("a", "b")


def test_early_stop_when_fully_merged(spark):
    df = _docs(spark, ["ab ab"])  # one merge exhausts all pairs
    out = bpe_learn(df, num_merges=5).collect()
    assert len(out) == 1


def test_segment_counts(spark):
    df = _docs(spark, ["abab cd"])
    merges = [(r.left, r.right) for r in bpe_learn(df, num_merges=2).collect()]
    seg = bpe_segment(df, merges).collect()[0]
    # 'abab' -> after (a,b) and (ab,ab): 1 piece; 'cd' stays 2 chars
    assert seg.n_tokens == 2
    assert seg.n_pieces == 1 + 2


def test_encode_piece_count_monotone_in_merges(spark):
    """Every applied merge can only reduce (or keep) the piece count of
    every document — encode with k merges dominates k+1 merges."""
    rows = [(i, "low lower lowest low low newer new") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r["left"], r["right"]) for r in bpe_learn(df, num_merges=6).orderBy("step").collect()
    ]
    prev = None
    for k in range(len(merges) + 1):
        out = {r.doc_id: r.n_pieces for r in bpe_segment(df, merges[:k]).collect()}
        if prev is not None:
            assert all(out[d] <= prev[d] for d in out)
        prev = out


def test_bpe_learn_fires_at_most_four_jobs(spark, jobs_fired):
    df = _docs(spark, ["low lower lowest low low newer new", "abab abab ab"])
    rows, jobs = jobs_fired(
        "bpe-learn", lambda: bpe_learn(df, num_merges=3).collect()
    )
    assert len(rows) == 3
    assert 1 <= jobs <= 4
