"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Spark SQL expressions (JVM-side, codegen'd — no UDFs)
over a `text` string column: tokenization, token counting, quality scoring,
language-id heuristic, document fingerprinting. Each has an exactly-matching
ANSI-SQL formulation used by the DuckDB oracle (see benchqueries.py), so the
semantics are pinned engine-independently.

Scale: every op is embarrassingly parallel over rows — no shuffle at all.
At 100 TB these run at scan speed; only the aggregations a caller adds
(group by lang, histograms) shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/number/symbol pieces (shared with the oracle SQL)
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def eval_once(col: Column) -> Column:
    """Pin an expensive expression to ONE evaluation per row when a filter
    references its projected alias.

    Catalyst pushes a deterministic predicate through a Project by
    SUBSTITUTING the aliased expression into it — the projection then
    evaluates the tree again above the filter with no subexpression reuse
    across the two operators (the same duplication the optimization guide
    documents for UDFs under pushed filters). For a multi-regex scorer
    like quality_score that doubles the scan cost of the stage (measured
    2.34 s -> 1.05 s on the sf0.1 quality gate).

    The guard is a trivially-true nondeterministic wrapper
    (spark_partition_id() is never negative), so the VALUE is unchanged
    while substitution through the Project is barred — the filter stays
    above and reads the computed column. Only the projected column
    becomes nullable in the schema; callers that filter on it drop the
    impossible-NULL rows identically either way. Use ONLY on expressions
    whose re-evaluation is the dominant cost: the wrapper also blocks
    pushing OTHER filters past the projection (guide §4.4's trade-off).

    The same guard keeps a cheap pruning join below an expensive
    predicate: diff/update._match_after_prune filters the expiry
    branches' blast-radius rows only, not the whole element state."""
    return F.when(F.spark_partition_id() >= 0, col)

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "los", "y", "de", "que", "un", "es"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty string -> empty array)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, TOKEN_SPLIT_RE)
    )


def token_count(text: Column) -> Column:
    """Whitespace token count WITHOUT materializing the token array —
    identical to size(tokens(text)) bit-for-bit (property-pinned), but
    allocation-free (the split path builds ~n_tokens UTF8Strings per row
    just to take the array's size; the round-8 curation bench caught the
    score stage running at ~1.4k docs/s/core because of exactly this).

    size(split(trim(text), \\s+)) counts non-whitespace runs PLUS a
    phantom empty token for tab/newline whitespace surviving the
    space-only trim() at either end (split keeps leading/trailing empty
    strings) — the DuckDB oracles pin those phantom semantics (same
    space-only trim there), so they are replicated, not cleaned up."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\S+"))
        + t.rlike(r"^\s").cast("int")
        + t.rlike(r"\s$").cast("int")
    )


def _stopword_hits(lowered: Column, sw: list[str]) -> Column:
    """Count of whitespace tokens of ``lowered`` that are stopwords.

    regexp_count with zero-width boundary assertions over the raw string —
    one pass, no token array — replacing the interpreted per-token
    `filter(toks, isin(*sw))` HOF. Identical counts: tokens are maximal
    non-whitespace runs, so token == sw exactly when sw appears with
    start-or-whitespace on the left and whitespace-or-end on the right
    (assertions are zero-width, so adjacent single-space stopwords all
    count; property-pinned against the HOF formulation).

    Words are regex-escaped when building the alternation: every current
    LANG_STOPWORDS entry is plain ASCII letters (``re.escape`` is the
    identity on those, so the pattern string — and thus every executed
    plan — is byte-identical to the unescaped form), but a future word
    containing a metacharacter would now count literally instead of
    silently corrupting stopword_ratio/quality_score/langid."""
    import re

    pat = "(?:^|(?<=\\s))(?:" + "|".join(re.escape(w) for w in sw) + ")(?=\\s|$)"
    return F.regexp_count(F.trim(lowered), F.lit(pat))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pieces (letter runs / digit runs / single symbols)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-whitespace chars / token count (the sum of
    token lengths IS the non-whitespace char count) — two regex counts,
    no token array, no aggregate HOF."""
    n_tok = token_count(text)
    nonws = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    return F.when(n_tok > 0, nonws.cast("double") / n_tok).otherwise(F.lit(0.0))


def _punct_count(text: Column) -> Column:
    """Count of non-alphanumeric-non-space chars, as total length minus
    ALLOWED-char matches. Counting the complement of a class instead of a
    negated class is semantically identical for single-char patterns but
    ~20x faster here: Java regex scans a zero-match negated class
    pathologically slowly (round-8 measurement: 7.2 s vs 0.36 s over 48 MB
    of clean text on 32 cores), and clean text — the common case at
    100 TB — is exactly the zero-match case."""
    return F.length(text) - F.regexp_count(text, F.lit("[a-zA-Z0-9\\s]"))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    n = F.length(text)
    punct = _punct_count(text)
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    hits = _stopword_hits(F.lower(text), LANG_STOPWORDS[lang])
    n_tok = token_count(text)
    return F.when(n_tok > 0, hits.cast("double") / n_tok).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation + sane mean token length. Deterministic, documented in
    the oracle SQL of `doc_quality`.

    Value-identical to composing token_count/stopword_ratio/punct_ratio/
    avg_token_len (property-pinned), built entirely from regexp_count
    passes: no token array is ever materialized and no higher-order array
    expression runs (HOFs are interpreted, not codegen'd, and Catalyst
    does not CSE them). Round-8 measurement on 160k docs x 32 cores: the
    split+filter-isin formulation gated ~23k docs/s; this one ~8x that —
    at 100 TB the quality gate must run at scan speed."""
    n_tok = token_count(text)
    hits = _stopword_hits(F.lower(text), LANG_STOPWORDS["en"])
    n_chars = F.length(text)
    nonws = n_chars - F.regexp_count(text, F.lit(r"\s"))
    punct = _punct_count(text)
    len_score = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(0.25)).otherwise(F.lit(0.0))
    sw_score = F.when(
        F.when(n_tok > 0, hits.cast("double") / n_tok).otherwise(F.lit(0.0)) > 0.01,
        F.lit(0.25),
    ).otherwise(F.lit(0.0))
    punct_score = F.when(
        F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0)) < 0.2,
        F.lit(0.25),
    ).otherwise(F.lit(0.0))
    atl = F.when(n_tok > 0, nonws.cast("double") / n_tok).otherwise(F.lit(0.0))
    atl_score = F.when((atl >= 2.0) & (atl <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    return len_score + sw_score + punct_score + atl_score


def langid(text: Column) -> Column:
    """Stopword-vote language id: the language with the most stopword hits
    wins; ties broken by language code order; no hits -> 'und'."""
    lowered = F.lower(text)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # iterate in reverse code order so earlier codes win ties via >=
    for code in sorted(LANG_STOPWORDS, reverse=True):
        hits = _stopword_hits(lowered, LANG_STOPWORDS[code])
        take = (hits > 0) & (hits >= best_hits)
        best_lang = F.when(take, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def fingerprint(text: Column, ngram: int = 4) -> Column:
    """Document fingerprint: lexicographic-min md5 over word n-gram shingles
    (winnowing-style). Identical in any engine with md5()."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (ngram - 1), F.lit(0)))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, ngram))
    )
    return F.array_min(F.transform(shingles, F.md5))


# PII-scrub patterns — deliberately simple regexes valid in BOTH Java
# (Spark) and RE2 (DuckDB/Go) dialects: no backrefs, no lookaround
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^ \\t\\n]+"
LONG_NUM_RE = "[0-9]{6,}"


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, trim, collapse
    whitespace runs to single spaces. Pure expression, scan-speed."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def scrub_pii(text: Column) -> Column:
    """Redact email addresses, URLs, and long digit runs (ids, phone
    numbers, credit cards) with typed placeholder tokens — the standard
    pre-training scrub pass. Order matters: URLs first (they may contain
    digit runs), then emails, then bare digit runs."""
    t = F.regexp_replace(text, URL_RE, "<URL>")
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, LONG_NUM_RE, "<NUM>")


def distinct_token_ratio(text: Column) -> Column:
    """Gopher-style repetition signal: distinct tokens / total tokens.
    Pure expression (scan-speed); low values mean heavy repetition."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    return F.when(n > 0, F.size(F.array_distinct(toks)).cast("double") / n).otherwise(
        F.lit(1.0)
    )


def bigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document NLL under an interpolated bigram LM trained on the
    corpus itself (0.75·p(w|prev) + 0.25·p(w); the first token of each
    doc scores with the unigram alone) — a sharper perplexity proxy than
    `unigram_nll` for quality binning. Returns (id_col, n_tokens, nll)
    with nll = mean -ln p rounded to 4; empty docs drop out.

    Scale: corpus text scanned once into a first-token stream + a bigram
    stream (zip_with of shifted slices — no window, no lag); the unigram
    table is vocab-sized and broadcasts; the bigram table is
    vocab²-bounded and broadcasts here (at web scale it outgrows the
    broadcast and the join degrades gracefully to a shuffle on the bigram
    key — still linear). One per-doc aggregate at the end."""
    toks = tokens(F.lower(F.col(text_col)))
    # checkpoint the tokenized projection: five derivations read it (the
    # unigram/bigram count tables, the total, and the two scoring
    # streams) — without the pin each one re-scans and re-tokenizes the
    # corpus
    # NOT spread (round-11 negative result): the kernel here is one
    # whitespace split per row — repartitioning the pin input A/B-measured
    # 1.12 -> 1.52 s median at sf0.1 (the added exchange + 32-partition
    # pin make every downstream broadcast build pay micro-tasks, and
    # there is no heavy per-row compute to parallelize).
    base = (
        df.select(F.col(id_col), toks.alias("tk"))
        .filter(F.size("tk") > 0)
        .localCheckpoint(eager=False)
    )
    n = F.size(F.col("tk"))
    pairs = F.zip_with(
        F.slice(F.col("tk"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("tk"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("w")),
    )
    first = base.select(id_col, F.col("tk")[0].alias("w"))
    big_stream = base.select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, "p.prev", "p.w")

    all_toks = base.select(F.explode("tk").alias("w"))
    uni = all_toks.groupBy("w").agg(F.count("*").alias("c1"))
    total = all_toks.count()  # scalar N (one count job)
    big = (
        base.select(F.explode(pairs).alias("p"))
        .select("p.prev", "p.w")
        .groupBy("prev", "w")
        .agg(F.count("*").alias("c2"))
    )

    p_uni = F.col("c1").cast("double") / F.lit(float(total))
    first_nll = (
        first.join(F.broadcast(uni), "w")
        .select(id_col, (-F.log(p_uni)).alias("nll_tok"))
    )
    uni_prev = uni.select(F.col("w").alias("prev"), F.col("c1").alias("c1_prev"))
    uni_w = uni.select("w", "c1")
    p_interp = (
        F.lit(0.75) * (F.col("c2").cast("double") / F.col("c1_prev"))
        + F.lit(0.25) * (F.col("c1").cast("double") / F.lit(float(total)))
    )
    big_nll = (
        big_stream.join(F.broadcast(big), ["prev", "w"])
        .join(F.broadcast(uni_prev), "prev")
        .join(F.broadcast(uni_w), "w")
        .select(id_col, (-F.log(p_interp)).alias("nll_tok"))
    )
    return (
        first_nll.unionByName(big_nll)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll_tok"), 4).alias("nll"),
        )
    )


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style quality rule table: one boolean column per rule plus a
    conjunction `passes` flag — the standard pre-training document filter
    set (Rae et al., Gopher appendix A; C4 uses a similar family), with
    thresholds adapted to the synthetic corpus' short documents:

    - ``r_word_count``    10 <= tokens <= 100000
    - ``r_mean_word_len`` mean non-ws chars per token in [2, 12]
    - ``r_alpha_ratio``   >= 0.8 of tokens contain an alphabetic char
    - ``r_symbol_ratio``  non-alnum-non-ws chars / chars < 0.1
    - ``r_stopwords``     >= 2 DISTINCT English stopwords present

    Every rule is a pure Spark expression — zero shuffle, scan speed at
    100 TB; the ratios are exact integer ratios so the oracle
    hash-matches without tolerance. Most rules read one lowered token
    split; ``r_symbol_ratio`` instead uses the regexp_count-based
    ``_punct_count`` complement count over the raw text (the allocation-
    free round-8 formulation, value-pinned against the token form).
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t))
    n_tok = F.size(toks)
    nonws = F.length(F.regexp_replace(t, r"\s", ""))
    mean_len = F.when(n_tok > 0, nonws.cast("double") / n_tok).otherwise(F.lit(0.0))
    alpha_toks = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_ratio = F.when(n_tok > 0, alpha_toks.cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    n_chars = F.length(t)
    punct = _punct_count(t)  # complement count — see _punct_count's cliff note
    symbol_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    sw = LANG_STOPWORDS["en"]
    distinct_sw = F.size(F.array_distinct(F.filter(toks, lambda x: x.isin(*sw))))
    rules = {
        "r_word_count": (n_tok >= 10) & (n_tok <= 100000),
        "r_mean_word_len": (mean_len >= 2.0) & (mean_len <= 12.0),
        "r_alpha_ratio": alpha_ratio >= 0.8,
        "r_symbol_ratio": symbol_ratio < 0.1,
        "r_stopwords": distinct_sw >= 2,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes"),
    )


def unigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document negative log likelihood under a unigram LM trained on
    the corpus itself — the perplexity-proxy quality signal behind
    CCNet-style head/middle/tail binning (a real LM is better; the unigram
    self-model is the engine-side primitive that needs no external
    artifact). Returns (id_col, n_tokens, nll) with nll = mean -ln p(tok)
    rounded to 4 decimals; empty docs drop out (no tokens, no likelihood).

    Scale: one explode + vocab-sized count aggregate (map-side combined),
    log-probs broadcast back onto the token stream, one per-doc aggregate.
    The corpus text is scanned once; nothing shuffles except (token) pairs
    and the per-doc rows."""
    from pyspark.sql import Window

    t = df.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    w_all = Window.partitionBy()
    vocab = t.groupBy("tok").count()
    lp = vocab.withColumn(
        "logp", F.log(F.col("count") / F.sum("count").over(w_all))
    ).select("tok", "logp")
    return (
        t.join(F.broadcast(lp), "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("nll"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus diversity report per group: distinct-1 and distinct-2
    ratios (distinct n-grams over total n-grams — the "distinct-n"
    metric used to detect mode-collapsed or templated text; synthetic
    and boilerplate-heavy sources score low). Returns (group, n_docs,
    tokens_total, distinct1_ratio, distinct2_ratio).

    Exactness: integer counts from two map-side-combinable aggregations
    (one per n-gram order) joined on the tiny group key; each ratio is
    one double division.

    Scale: the unigram and bigram streams are linear explodes of one
    tokenized projection; distinct-counting shuffles (group, gram) —
    the same budget as vocabulary building, no corpus^2 anywhere."""
    toks = df.select(
        F.col(group_col).alias("grp"), tokens(F.col(text_col)).alias("toks")
    )
    uni = toks.select("grp", F.explode("toks").alias("g")).groupBy("grp").agg(
        F.count("*").alias("tokens_total"),
        F.countDistinct("g").alias("d1"),
    )
    bi = (
        toks.select(
            "grp",
            F.explode(
                F.filter(
                    F.transform(
                        F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                        lambda t, i: F.concat_ws(" ", t, F.get(F.col("toks"), i + 1)),
                    ),
                    lambda g: g.isNotNull(),
                )
            ).alias("g"),
        )
        .groupBy("grp")
        .agg(F.count("*").alias("bigrams_total"), F.countDistinct("g").alias("d2"))
    )
    docs = df.groupBy(F.col(group_col).alias("grp")).agg(F.count("*").alias("n_docs"))
    return (
        docs.join(uni, "grp", "left")
        .join(bi, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            F.coalesce("tokens_total", F.lit(0)).alias("tokens_total"),
            F.round(
                F.col("d1").cast("double") / F.col("tokens_total").cast("double"), 6
            ).alias("distinct1_ratio"),
            F.round(
                F.col("d2").cast("double") / F.col("bigrams_total").cast("double"), 6
            ).alias("distinct2_ratio"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    topn: int = 5,
) -> DataFrame:
    """Per-group distinctive vocabulary: the ``topn`` tokens with the
    highest smoothed log-odds of appearing in the group vs the REST of
    the corpus — the corpus-comparison primitive behind "what makes this
    source/domain different" reports (Monroe et al.'s fightin'-words
    shape with add-one smoothing).

        score = ln((c_g + 1)/(n_g + V)) - ln((c_r + 1)/(n_r + V))

    with c_g/c_r the token count inside/outside the group, n_g/n_r the
    token totals, and V the corpus vocabulary size — all exact integers
    feeding one fixed-order float expression, so scores hash-match.

    Scale: one (group, token) aggregation, a broadcast of the
    group-total and corpus-total tables, and a keyed top-n window on the
    group — vocabulary-sized data after the first aggregation.
    """
    toks = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("w")
    )
    gt = toks.groupBy("grp", "w").agg(F.count("*").alias("cg"))
    corpus = gt.groupBy("w").agg(F.sum("cg").alias("ct"))
    ng = gt.groupBy("grp").agg(F.sum("cg").alias("ng"))
    totals = corpus.agg(
        F.sum("ct").alias("nt"), F.count("*").alias("v")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    j = (
        gt.join(corpus, "w")
        .join(F.broadcast(ng), "grp")
        .crossJoin(F.broadcast(totals))
    )
    score = F.log((d("cg") + 1.0) / (d("ng") + d("v"))) - F.log(
        (d("ct") - d("cg") + 1.0) / (d("nt") - d("ng") + d("v"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("w"))
    return (
        j.withColumn("score", F.round(score, 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topn)
        .select(
            F.col("grp").alias(group_col),
            "rank",
            F.col("w").alias("token"),
            F.col("cg").alias("count_in_group"),
            "score",
        )
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 4,
    min_count: int = 5,
    topn: int = 20,
) -> DataFrame:
    """Pointwise-mutual-information co-occurrence pairs: the word2vec /
    GloVe statistics stage. Token pairs within a `window`-token span,
    scored  PMI = ln((c_ab/Tp) / ((c_a/Tt)·(c_b/Tt)))  from exact
    counts (c_ab pair occurrences, Tp total pairs, c_a/c_b unigram
    counts, Tt total tokens); unordered pairs keyed (min, max).

    Returns the `topn` pairs with c_ab >= `min_count` by (PMI desc,
    pair asc) — deterministic, one float expression.

    Scale: the pair stream is an equi-join of the exploded token table
    against itself on (doc, pos + d), d in 1..window — an exact LINEAR
    construction (window-factor fanout), never the per-doc quadratic
    join-on-doc-then-filter shape that blows up on long documents.
    """
    # the doc key only scopes the pair join, but determinism discipline
    # says derive it from the data (never monotonically_increasing_id,
    # which is partition-dependent)
    # NOT spread (round-11 negative result): A/B 1.53 -> 1.71 s median at
    # sf0.1 — the (doc, pos+d) equi-join re-shuffles right after the
    # scan, so the spread's exchange buys almost no parallel work.
    id_col = "doc_id" if "doc_id" in df.columns else df.columns[0]
    toks = df.select(
        F.col(id_col).alias("_d"), F.posexplode(tokens(F.col(text_col))).alias("pos", "w")
    )
    probe = toks.select(
        "_d", F.explode(F.sequence(F.lit(1), F.lit(window))).alias("d"), "pos", "w"
    ).select("_d", (F.col("pos") + F.col("d")).alias("pos2"), F.col("w").alias("wa"))
    index = toks.select("_d", F.col("pos").alias("pos2"), F.col("w").alias("wb"))
    pairs = (
        probe.join(index, ["_d", "pos2"])
        .select(
            F.least("wa", "wb").alias("a"), F.greatest("wa", "wb").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
    )
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    tt = uni.agg(F.sum("c").alias("tt"))
    tp = pairs.agg(F.sum("c_ab").alias("tp"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.log(
        (d("c_ab") / d("tp")) / ((d("ca") / d("tt")) * (d("cb") / d("tt")))
    )
    return (
        pairs.filter(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("w").alias("a"), F.col("c").alias("ca")), "a")
        .join(uni.select(F.col("w").alias("b"), F.col("c").alias("cb")), "b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tp))
        .select("a", "b", "c_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(topn)
    )


def pii_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """PII exposure report per group: documents containing each pattern
    class (URL / email / long digit run — the same regexes scrub_pii
    redacts) plus total match occurrences. The audit artifact published
    BEFORE a scrub pass (what's there) and after (should be all zeros).

    Pure expressions over one scan + one tiny keyed aggregation; counts
    are exact integers.
    """
    t = F.col(text_col)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.regexp_count(t, F.lit(URL_RE)).alias("urls"),
            F.regexp_count(t, F.lit(EMAIL_RE)).alias("emails"),
            F.regexp_count(t, F.lit(LONG_NUM_RE)).alias("long_nums"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("urls") > 0, 1).otherwise(0)).alias("docs_with_url"),
            F.sum(F.when(F.col("emails") > 0, 1).otherwise(0)).alias("docs_with_email"),
            F.sum(F.when(F.col("long_nums") > 0, 1).otherwise(0)).alias("docs_with_num"),
            F.sum("urls").alias("url_matches"),
            F.sum("emails").alias("email_matches"),
            F.sum("long_nums").alias("num_matches"),
        )
        .withColumnRenamed("grp", group_col)
    )
