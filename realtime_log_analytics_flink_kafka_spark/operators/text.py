"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, document fingerprinting.

All pure Catalyst expressions (split/regexp/higher-order functions) — no
Python UDFs, so the whole stage stays inside whole-stage codegen and
scales linearly with input splits.  Hashing is md5-folded for cross-engine
oracle parity (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.detmath import ceil_pow2, det_round, exact_round_div, \
    int_div, with_det_ln
from ..functions.hashing import md5_long
from ..functions.textnorm import (BPE_PATTERN, PUNCT_REGEX, WS_REGEX,
                                  ascii_lower)

#: Fingerprint modulus (1e9+7, prime): acc*31 + h stays < 2^35, no overflow.
FP_MOD = 1_000_000_007

#: Tiny per-language stopword lists for the n-gram/stopword langid
#: heuristic.  Deterministic tie-break: first list wins.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "men5"),
}


def ws_tokens(col: Column) -> Column:
    """ASCII-lowercased whitespace tokens, empties dropped (split on
    leading / trailing whitespace yields '' on both engines).  Uses the
    explicit separator class + codepoint lowercase from
    functions/textnorm — engine-native ``\\s`` / ``lower()`` are not
    cross-engine exact (U+000B, U+0130; see that module)."""
    return F.filter(F.split(ascii_lower(col), WS_REGEX), lambda t: t != "")


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counting: whitespace tokens + BPE-ish regex
    tokens + character count."""
    toks = ws_tokens(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("long")
            .alias("n_bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, mean token length.  Integer-ratio arithmetic throughout so the
    doubles are cross-engine exact.

    Zero-token / zero-char / NULL documents get NULL ratio metrics
    (guarded division) instead of raising — under ANSI mode a bare
    ``x / 0`` is a job-killing SparkArithmeticException, and one empty
    document in a 100 TB corpus must not abort the pass."""
    e = quality_exprs(text_col)
    return docs.select(
        "doc_id",
        e["n_tokens"].alias("n_tokens"),
        e["avg_token_len"].alias("avg_token_len"),
        e["punct_ratio"].alias("punct_ratio"),
        e["stopword_ratio"].alias("stopword_ratio"),
        e["quality_score"].alias("quality_score"),
    )


def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """The quality metrics as bare per-row expressions, so callers that
    need several row-level signals (e.g. the filter funnel) compose them
    into ONE projection instead of joining per-signal DataFrames — a
    doc_id self-join of row-wise projections is a full-corpus shuffle
    per signal at scale, for no reason."""
    toks = ws_tokens(F.col(text_col))
    n_toks = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0), lambda acc, x: acc + x,
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))) \
        .cast("long")
    n_punct = F.regexp_count(F.col(text_col), F.lit(PUNCT_REGEX)) \
        .cast("long")
    n_chars = F.length(text_col).cast("long")

    # quality_score = round(min(1, 0.5·min(1, n_toks/50) + 0.5·n_stop/n_toks
    #                            − 0.25·n_punct/n_chars), 4)
    # Every input is an integer count, so 10^4·score is the half-rounded
    # value of the exact rational  A + X/d  with
    #   A = 100·min(n_toks, 50)            (integer)
    #   X = 5000·n_stop·n_chars − 2500·n_punct·n_toks
    #   d = n_toks·n_chars
    # computed in BIGINT on both engines (see exact_round_div).  X can be
    # negative (all-punctuation docs), hence the sign-aware rounding term.
    # Overflow bound: |X| ≤ 5000·n_toks·n_chars must fit int64 →
    # n_toks·n_chars < 9.2e14, i.e. single documents far beyond 10 MB.
    big_a = 100 * F.least(n_toks, F.lit(50).cast("long"))
    x = 5000 * n_stop * n_chars - 2500 * n_punct * n_toks
    d = n_toks * n_chars
    s = big_a + int_div(
        2 * x + F.when(x < 0, -d).otherwise(d), 2 * d)
    e4 = F.when((n_toks > 0) & (n_chars > 0),
                F.least(s, F.lit(10000).cast("long")))
    return {
        "n_tokens": n_toks,
        # NULL (not 0) when the denominator is empty: an undefined
        # metric, not a zero one (exact_round_div guards den > 0)
        "avg_token_len": exact_round_div(tok_chars, n_toks),
        "punct_ratio": exact_round_div(n_punct, n_chars),
        "stopword_ratio": exact_round_div(n_stop, n_toks),
        # simple composite: long docs with some stopwords and low
        # punctuation score higher; clamped at 1.0 from above
        "quality_score": e4.cast("double") / 10000.0,
        # the same score as the exact 10^4-scaled BIGINT — aggregate THIS
        # (then divide once) so grouped means stay integer-exact end to
        # end instead of re-quantizing the double (curation_report)
        "quality_score_e4": e4,
    }


def language_scores(text_col: str = "text") -> dict[str, Column]:
    """Per-language stopword-hit counts as bare row expressions (keyed
    ``score_<lang>``) — composable into a single projection alongside
    other row-level signals (see quality_exprs rationale)."""
    toks = ws_tokens(F.col(text_col))

    def stop_hits(ws: tuple[str, ...]):
        # closure factory: a default-arg lambda would look like the
        # two-param (element, index) form to F.filter
        return F.size(F.filter(toks, lambda t: t.isin(*ws))).cast("long")

    return {f"score_{lang}": stop_hits(ws) for lang, ws in STOPWORDS.items()}


def language_pred(scores: dict[str, Column]) -> Column:
    """Argmax over ``language_scores`` with deterministic tie-break in
    STOPWORDS insertion order."""
    langs = list(STOPWORDS)
    best = F.greatest(*[scores[f"score_{l}"] for l in langs])
    pred = F.lit(None).cast("string")
    # reversed fold => earlier languages win ties
    for lang in reversed(langs):
        pred = F.when(scores[f"score_{lang}"] == best, F.lit(lang)) \
            .otherwise(pred)
    return pred


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID.  Scores = stopword hits per language;
    argmax with deterministic tie-break in STOPWORDS insertion order."""
    scores = language_scores(text_col)
    return docs.select(
        "doc_id", "lang",
        *[scores[f"score_{lang}"].alias(f"score_{lang}")
          for lang in STOPWORDS],
        language_pred(scores).alias("pred_lang"),
    )


def term_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id -> (term, tf).  One explode + one aggregation; partial
    aggregation combines map-side so the shuffle carries (doc, term)
    pairs, not token instances."""
    return (
        docs.select("doc_id", F.explode(ws_tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def tf_idf_top_terms(docs: DataFrame, text_col: str = "text", *,
                     k: int = 3) -> DataFrame:
    """Top-k terms per document by smoothed tf-idf (ln(N/df)).

    N and df are data-dependent aggregates: df by a term-keyed
    aggregation, N as a broadcast single-row cross join (never a driver
    collect).  Ranking happens on the rounded score so ordering is
    reproducible across engines.
    """
    from pyspark.sql import Window

    tf = term_frequencies(docs, text_col)
    df_counts = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    # deterministic ln, not F.log: JVM and DuckDB libm ln differ by 1 ulp
    # on ~7.5% of inputs (measured), which flips round(6) on boundary
    # rows and reorders rank ties — functions/detmath (staged form).
    # Evaluated once per VOCAB term (broadcast back), not per (doc, term)
    # row — measured 1.8x on the whole query at sf0.1.
    df_ln = with_det_ln(
        df_counts.crossJoin(F.broadcast(n_docs)),
        F.col("n_docs"), F.col("df"), "_lnv",
    ).select("term", "df", "_lnv")
    scored = (
        tf.join(F.broadcast(df_ln), "term")
        .withColumn("tfidf", det_round(F.col("tf") * F.col("_lnv"), 6))
        .drop("_lnv")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term", "tf", "tfidf", "term_rank")
    )


def top_terms_per_source(docs: DataFrame, text_col: str = "text", *,
                         k: int = 5) -> DataFrame:
    """Most frequent terms per corpus source — integer counts only, rank
    ties broken lexicographically."""
    from pyspark.sql import Window

    counts = (
        docs.select("source", F.explode(ws_tokens(F.col(text_col))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
    )


#: Repetition-filter thresholds (Gopher-style): docs where a single
#: token, the top bigram, or duplicated trigrams dominate are boilerplate.
MAX_UNIGRAM_FRAC = 0.20
TOP_BIGRAM_FRAC = 0.18
DUP_TRIGRAM_FRAC = 0.30
#: Each repetition test only applies with at least this many grams of its
#: size — a 2-token doc's single bigram is trivially 100% "top bigram",
#: which says nothing about boilerplate.  Short docs pass repetition
#: filtering (length itself is a separate quality signal).
REPEAT_MIN_GRAMS = 10


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality filters, per document:

    - ``max_unigram_frac``: most-frequent token's share of all tokens
    - ``top_bigram_frac``: most-frequent bigram's share of all bigrams
    - ``dup_trigram_frac``: share of trigram instances that are repeats
    - ``keep``: no metric with at least REPEAT_MIN_GRAMS grams exceeds
      its threshold (under-length metrics pass — see REPEAT_MIN_GRAMS)

    One explode of a tagged (n, gram) union for n=1..3, then two
    aggregations: (doc, n, gram) counts (partial aggregation combines
    map-side, so the shuffle carries distinct grams, not instances) and
    a (doc, n) rollup pivoted to columns by conditional max.  No joins,
    no HOF re-evaluation (token array materialized once, as in
    shingle_hashes), scales linearly in corpus size.

    Documents with zero tokens have no grams and are absent.
    """
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")

    def tagged_grams(n: int) -> Column:
        if n == 1:
            arr = toks
        else:
            arr = F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")))

    exploded = (
        toked.select(
            "doc_id",
            F.explode(F.concat(*[tagged_grams(n) for n in (1, 2, 3)])).alias("g"))
        .select("doc_id", "g.n", "g.gram")
    )
    stats = (
        exploded.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
        .groupBy("doc_id", "n")
        .agg(F.sum("c").alias("total"), F.count("*").alias("n_distinct"),
             F.max("c").alias("maxc"))
    )

    def pick(n: int, col: str) -> Column:
        return F.max(F.when(F.col("n") == n, F.col(col)))

    wide = stats.groupBy("doc_id").agg(
        pick(1, "total").alias("t1"), pick(1, "maxc").alias("m1"),
        pick(2, "total").alias("t2"), pick(2, "maxc").alias("m2"),
        pick(3, "total").alias("t3"), pick(3, "n_distinct").alias("d3"),
    )
    # exact integer rounding (see exact_round_div): the keep gate compares
    # these against thresholds, so a 1-ulp cross-engine round flip on a
    # boundary doc would silently flip keep — hash-breaking at sf scale
    muf = exact_round_div(F.col("m1"), F.col("t1"))
    tbf = exact_round_div(F.col("m2"), F.col("t2"))
    dtf = exact_round_div(F.col("t3") - F.col("d3"), F.col("t3"))
    def trips(total: str, metric: Column, threshold: float) -> Column:
        return F.coalesce(
            (F.col(total) >= REPEAT_MIN_GRAMS) & (metric > threshold),
            F.lit(False))

    keep = ~(
        trips("t1", muf, MAX_UNIGRAM_FRAC)
        | trips("t2", tbf, TOP_BIGRAM_FRAC)
        | trips("t3", dtf, DUP_TRIGRAM_FRAC)
    )
    return wide.select(
        "doc_id",
        F.col("t1").alias("n_tokens"),
        muf.alias("max_unigram_frac"),
        tbf.alias("top_bigram_frac"),
        dtf.alias("dup_trigram_frac"),
        keep.alias("keep"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling polynomial hash over token hashes — an order-sensitive
    document fingerprint (reordered tokens change it, unlike a bag hash)."""
    toks = ws_tokens(F.col(text_col))
    token_hashes = F.transform(toks, lambda t: md5_long(t) % FP_MOD)
    fp = F.aggregate(
        token_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FP_MOD,
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


def unigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean unigram surprisal against the corpus itself:
    ``mean_t[-ln p(t)]`` with ``p(t) = ctf(t) / T`` — the cheap KenLM
    stand-in quality signal (low = repetitive/common vocabulary, high =
    rare/garbled), computed with zero external model.

    Scale shape: term-count aggregation (map-side combined), the corpus
    term-frequency table broadcast back (vocabulary-sized, tiny vs the
    corpus), T via a broadcast single-row cross join — corpus rows never
    shuffle after the (doc, term) aggregation.  The ln itself is
    det_ln_ratio (functions/detmath) evaluated once per VOCAB entry —
    JVM Math.log and DuckDB libm differ by 1 ulp on ~7.5% of inputs
    (measured; VERDICT r3's hash failure), so the oracle can only match
    bit-for-bit with an engine-independent ln.  Per-doc contributions
    fold in sorted term order, so the float sum is deterministic under
    any partitioning and matches the oracle's ordered list_reduce
    bit-for-bit — no drift left for round(6) to absorb.
    """
    return surprisal_sums(docs, text_col).select(
        "doc_id", "n_tokens",
        # det_round, not F.round: the folded sum is bit-identical
        # cross-engine by construction, but engine-native double
        # rounding is not (detmath module docstring, class 1)
        det_round(F.col("c_sum") / F.col("n_tokens"), 6)
        .alias("mean_surprisal"),
    )


def surprisal_sums(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The per-doc layer under :func:`unigram_surprisal`:
    (doc_id, n_tokens, c_sum) where ``c_sum`` is the sorted-term-order
    fold of ``tf·ln(T/ctf)`` — bit-identical cross-engine by
    construction, exposed separately so the r6 driver-bisection
    diagnostics can hash its integer projection without the final
    rounding/division layer."""
    tf = term_frequencies(docs, text_col)
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("T"))
    ctf_ln = with_det_ln(
        ctf.crossJoin(F.broadcast(total)),
        F.col("T"), F.col("ctf"), "lnv",
    ).select("term", "lnv")
    contrib = (
        tf.join(F.broadcast(ctf_ln), "term")
        .select(
            "doc_id", "tf",
            F.struct(
                "term",
                (F.col("tf") * F.col("lnv")).alias("c"),
            ).alias("tc"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.array_sort(F.collect_list("tc")).alias("tcs"),
        )
        .select(
            "doc_id", "n_tokens",
            F.aggregate(F.transform("tcs", lambda x: x["c"]),
                        F.lit(0.0), lambda acc, v: acc + v).alias("c_sum"),
        )
    )


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Shannon entropy of the document's OWN unigram
    distribution: ``H = ln(n) - (1/n)·Σ_t c_t·ln(c_t)`` in nats — the
    lexical-diversity signal (low = repetitive/templated, ~ln(n) =
    every token distinct) that complements ``repetition_metrics``
    (which only sees the single worst gram) and ``unigram_surprisal``
    (which scores against the corpus model, not the doc itself).

    Determinism: every ln is det_ln (functions/detmath) — and both are
    factored over DISTINCT integer values, not rows: ln(c) is evaluated
    once per distinct per-doc count value (a handful of small integers
    corpus-wide) and broadcast back, ln(n) once per distinct doc length.
    The Σ c·ln(c) folds in sorted term order (array_sort struct list),
    so the double is bit-identical across engines under any
    partitioning; H is emitted UNROUNDED — identical 64-bit inputs
    through an identical op tree need no rounding.

    Scale shape: one (doc, term) aggregation (map-side combined), two
    tiny distinct-value ln tables broadcast back, one per-doc fold.
    Zero-token documents have no terms and are absent (the
    ``unigram_surprisal`` convention).
    """
    tf = term_frequencies(docs, text_col)
    ln_c = with_det_ln(
        tf.select("tf").distinct(), F.col("tf"), F.lit(1), "ln_c",
        pfx="_ec")
    contrib = (
        tf.join(F.broadcast(ln_c), "tf")
        .select(
            "doc_id", "tf",
            F.struct(
                "term",
                (F.col("tf") * F.col("ln_c")).alias("c"),
            ).alias("tc"),
        )
    )
    per_doc = (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.array_sort(F.collect_list("tc")).alias("tcs"),
        )
        .select(
            "doc_id", "n_tokens", "n_distinct",
            F.aggregate(F.transform("tcs", lambda x: x["c"]),
                        F.lit(0.0), lambda acc, v: acc + v).alias("s_sum"),
        )
    )
    ln_n = with_det_ln(
        per_doc.select("n_tokens").distinct(), F.col("n_tokens"),
        F.lit(1), "ln_n", pfx="_en")
    return (
        per_doc.join(F.broadcast(ln_n), "n_tokens")
        .select(
            "doc_id", "n_tokens", "n_distinct",
            (F.col("ln_n") - F.col("s_sum") / F.col("n_tokens"))
            .alias("entropy"),
        )
    )


def bigram_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id -> (w1, w2, bf): per-document bigram counts.

    The bigram array is built inside the row (transform-with-index +
    try_element_at — NULL, not an ANSI index error, past the end), so
    the explode ships (doc, bigram) pairs and the groupBy combines
    map-side — the same shuffle shape as ``term_frequencies``.

    The token array is staged in its own projection first (same reason
    as shingle_hashes): the lambda body references the array once per
    element, and interpreted HOF evaluation re-runs an inlined tokenizer
    expression on every reference — O(tokens²) regex work per document
    (measured 3.3 s -> 0.35 s at sf0.1 for the aggregate alone).
    """
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    pairs = F.filter(
        F.transform(
            toks,
            lambda t, i: F.struct(
                t.alias("w1"),
                F.try_element_at(toks, i + F.lit(2)).alias("w2"),
            ),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    return (
        toked.select("doc_id", F.explode(pairs).alias("bg"))
        .groupBy("doc_id", F.col("bg.w1").alias("w1"),
                 F.col("bg.w2").alias("w2"))
        .agg(F.count("*").alias("bf"))
    )


def bigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean bigram surprisal against the corpus itself:
    ``mean_(w1,w2)[-ln p(w2|w1)]`` with ``p(w2|w1) = c(w1,w2) / c(w1,·)``
    — one Markov order above ``unigram_surprisal``, so it scores word
    ORDER, not just vocabulary: shuffled text keeps its unigram surprisal
    but its bigram surprisal jumps.  The cheap KenLM-bigram stand-in.

    Scale shape: ONE scan + ONE explode.  The corpus marginals c(w1,w2)
    and c(w1,·) are window sums over the per-doc bigram table rather
    than separate aggregate+join subtrees — a join formulation
    re-computes the explode+aggregate subtree per consumer (measured:
    with the O(tokens²) tokenizer bug the window shape won 5.0 s vs
    3.5 s; after the staging fix in bigram_frequencies both dropped ~6×
    and one-pass still wins, ~0.6 s vs ~0.9 s at sf0.1).  Window order
    is deliberate: the ctx window partitions by w1 (forcing one Exchange
    on w1), and the (w1, w2) window then runs WITHOUT a new Exchange
    because HashPartitioning(w1) already satisfies
    ClusteredDistribution(w1, w2) — two marginals, one shuffle.  Skew
    note: a pathological head word (every doc "the ...") concentrates
    one w1 partition; AQE's skew handling does not split window
    partitions, so at 100 TB a salted two-level sum over w1 is the
    escape hatch (same trick as salted_join_revenue); det-ln would then
    also move to the distinct-bigram LM table (type-count evaluations
    instead of token-count) — at fixture vocab sizes the per-row form
    measures faster.
    Per-doc contributions fold in sorted (w1, w2) order, matching the
    oracle's ordered list_reduce bit-for-bit.

    Docs with fewer than 2 tokens have no bigrams and drop out — the
    same convention both engines produce from an empty group.
    """
    from pyspark.sql import Window

    bf = bigram_frequencies(docs, text_col)
    w_ctx = Window.partitionBy("w1")
    w_cbf = Window.partitionBy("w1", "w2")
    contrib = with_det_ln(
        bf.withColumn("ctx", F.sum("bf").over(w_ctx))
        .withColumn("cbf", F.sum("bf").over(w_cbf)),
        # engine-independent ln (see unigram_surprisal / functions/detmath)
        F.col("ctx"), F.col("cbf"), "lnv",
    ).select(
        "doc_id", "bf",
        F.struct(
            "w1", "w2",
            (F.col("bf") * F.col("lnv")).alias("c"),
        ).alias("tc"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("bf").alias("n_bigrams"),
            F.array_sort(F.collect_list("tc")).alias("tcs"),
        )
        .select(
            "doc_id", "n_bigrams",
            det_round(
                F.aggregate(F.transform("tcs", lambda x: x["c"]),
                            F.lit(0.0), lambda acc, v: acc + v)
                / F.col("n_bigrams"), 6).alias("mean_surprisal"),
        )
    )


def ngram_spans(docs: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """doc_id -> every n-token span (as a joined string) — the unit of
    exact-substring duplicate analysis (boilerplate headers, license
    blocks, templated spam repeat verbatim across documents long before
    whole documents do).

    Spans are built in-row (sequence + slice + array_join) then
    exploded, so the shuffle carries (doc, span) pairs.  Docs shorter
    than n contribute nothing: the sequence is guarded, because
    F.sequence(1, k) with k < 1 would generate a DESCENDING sequence,
    not an empty one.  The token array is staged in its own projection
    (same reason as shingle_hashes/bigram_frequencies): the transform
    lambda references it per span index, and interpreted HOF evaluation
    re-runs an inlined tokenizer on every reference — O(tokens²) regex
    per document.
    """
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.explode(grams).alias("gram"))


def token_windows(docs: DataFrame, text_col: str = "text", *,
                  width: int, stride: int) -> DataFrame:
    """Shared fixed-geometry token windowing: every non-empty document
    cut into ``width``-token windows advancing ``stride`` tokens — one
    row per window: (doc_id, win_idx, win_text, n_tok).  Overlapping
    (stride < width) gives retrieval chunks (:func:`doc_chunks`);
    stride == width gives the non-overlapping segments of
    :func:`~..operators.dedup.segment_dedup`.

    Window count is ceil(max(n_toks - width, 0) / stride) + 1: the final
    window always reaches the last token, none starts past it, and
    short docs yield exactly one window.  That invariant requires
    stride <= width — a larger stride would emit phantom windows past
    the end (negative n_tok), so it raises instead.  The token array is
    staged (`_toks`) so interpreted HOF evaluation never re-runs the
    tokenizer per window index.
    """
    if stride > width or stride < 1:
        raise ValueError(
            f"token_windows requires 1 <= stride <= width, got "
            f"stride={stride}, width={width}")
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    nwin = (F.ceil(F.greatest(F.size(toks) - width, F.lit(0))
                   / F.lit(float(stride))).cast("int") + 1)
    windows = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1,
                                               F.lit(width))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select("doc_id", F.size(toks).alias("_ntoks"),
                     F.posexplode(windows).alias("win_idx", "win_text"))
        .select(
            "doc_id", "win_idx", "win_text",
            F.least(F.lit(width),
                    F.col("_ntoks") - F.col("win_idx") * stride)
                .alias("n_tok"),
        )
    )


def doc_chunks(docs: DataFrame, text_col: str = "text", *,
               chunk: int = 32, stride: int = 16) -> DataFrame:
    """Overlapping retrieval-index chunking: every document cut into
    ``chunk``-token windows advancing ``stride`` tokens (50 % overlap at
    the defaults) — the table an embedding/RAG pipeline feeds to the
    encoder.  One row per chunk: (doc_id, chunk_idx, n_tok, chunk_hash),
    the hash standing in for the chunk key a vector index stores.

    Geometry (and its invariants) live in :func:`token_windows`; the
    explode output is the only data growth (~n_toks/stride rows per
    doc), and downstream consumers shuffle on the 8-byte chunk_hash,
    never chunk text.
    """
    return token_windows(docs, text_col, width=chunk, stride=stride).select(
        "doc_id",
        F.col("win_idx").alias("chunk_idx"),
        "n_tok",
        md5_long(F.col("win_text")).alias("chunk_hash"),
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text", *,
                    top: int = 50) -> DataFrame:
    """The first BPE merge iteration as a query: corpus-wide counts of
    adjacent character pairs, weighted by token frequency — the table
    whose argmax a tokenizer trainer merges next.

    Efficiency is the point of the formulation: pair explosion runs over
    the DISTINCT vocabulary (each type once, carrying its corpus
    frequency), not over every corpus token — at 100 TB the vocabulary
    is millions of rows where the corpus is trillions, so the heavy
    explode shrinks by the type/token ratio.  The top-k is
    TakeOrderedAndProject (per-partition partial top-k, no global sort);
    rank is applied after the limit, a window over ``top`` rows.
    """
    vocab = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("token"))
        .groupBy("token").agg(F.count("*").alias("tf"))
    )
    tok = F.col("token")
    pairs = (
        vocab.filter(F.length(tok) >= 2)
        .select(
            "tf",
            F.explode(F.transform(
                F.sequence(F.lit(1), F.length(tok) - 1),
                lambda i: tok.substr(i, F.lit(2)),
            )).alias("pair"),
        )
    )
    counts = (
        pairs.groupBy("pair").agg(F.sum("tf").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(top)
    )
    from pyspark.sql import Window
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return counts.select(
        "pair", "pair_count",
        F.row_number().over(w).cast("int").alias("rank"),
    )


#: DSIR hashed-feature space size (buckets).
DSIR_BUCKETS = 256


def dsir_log_weights(docs: DataFrame, is_target: Column,
                     text_col: str = "text", *,
                     buckets: int = DSIR_BUCKETS) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much more likely its hashed n-gram
    features are under the TARGET distribution (docs where ``is_target``)
    than under the source distribution (the rest) —
    ``log w(d) = sum_f tf_f * [ln p_tgt(f) - ln p_src(f)]`` with
    Laplace-smoothed bucket unigram models over ``buckets`` hashed
    features.  Selecting/resampling by this weight upweights data that
    "looks like" the target domain.

    Scale shape mirrors unigram_surprisal: one (doc, bucket) aggregation
    (map-side combined), bucket-level target/source counts (a
    ``buckets``-row table) scored ONCE with the engine-independent ln —
    the two smoothed logs collapse to one det-ln of an integer ratio,
    ln[(ct+1)(S+B) / ((cs+1)(T+B))] — then broadcast back; corpus rows
    never shuffle after the first aggregation.  Per-doc contributions
    fold in sorted bucket order, bit-identical to the oracle's ordered
    list_reduce.
    """
    feats = (
        docs.select("doc_id", is_target.alias("_tgt"),
                    F.explode(ws_tokens(F.col(text_col))).alias("term"))
        .select("doc_id", "_tgt", (md5_long(F.col("term")) % buckets).alias("b"))
    )
    tfb = feats.groupBy("doc_id", "b").agg(F.count("*").alias("tf"))
    side = feats.groupBy("b").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(1)).alias("cs"),
    )
    totals = side.agg(F.sum("ct").alias("T"), F.sum("cs").alias("S"))
    lnt = with_det_ln(
        side.crossJoin(F.broadcast(totals)),
        (F.col("ct") + 1) * (F.col("S") + buckets),
        (F.col("cs") + 1) * (F.col("T") + buckets),
        "lnv",
    ).select("b", "lnv")
    contrib = (
        tfb.join(F.broadcast(lnt), "b")
        .select("doc_id", "tf",
                F.struct("b", (F.col("tf") * F.col("lnv")).alias("c"))
                    .alias("tc"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tokens"),
             F.array_sort(F.collect_list("tc")).alias("tcs"))
        .select(
            "doc_id", "n_tokens",
            det_round(
                F.aggregate(F.transform("tcs", lambda x: x["c"]),
                            F.lit(0.0), lambda acc, v: acc + v),
                6).alias("log_weight"),
        )
    )


def blocklist_stats(docs: DataFrame, blocklist: tuple[str, ...],
                    text_col: str = "text", *,
                    max_hit_ratio_e4: int = 0) -> DataFrame:
    """C4-style blocklist filtering: per-document hit counts against a
    fixed token blocklist and a keep/drop verdict (C4 dropped any page
    containing a listed word, i.e. ``max_hit_ratio_e4 = 0``; a ratio
    threshold generalizes to the softer variants).

    The blocklist is a compile-time IN-list inside one row-wise
    projection — at realistic blocklist sizes (hundreds of terms) this
    stays a codegen'd hash-set probe per token, no join, no shuffle, no
    broadcast needed; the ratio is exact integer arithmetic
    (hits*10^4 // tokens, see exact_round_div) so the verdict is
    engine-exact.  Zero-token docs keep (nothing to match), with NULL
    ratio — the same undefined-not-zero convention as quality_scores.
    """
    toks = ws_tokens(F.col(text_col))
    n_toks = F.size(toks).cast("long")
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*blocklist))).cast("long")
    ratio = exact_round_div(n_hits, n_toks, scale=4)
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        n_hits.alias("n_hits"),
        ratio.alias("hit_ratio"),
        F.coalesce(ratio <= max_hit_ratio_e4 / 10_000.0, F.lit(True))
            .alias("keep"),
    )


# --- Zipf rank-frequency fit -------------------------------------------------

#: Ranks used for the log-log OLS fit.  Top-R bounds the per-source
#: collect_list to R structs (constant driver-side state per group);
#: fitting the head is also statistically standard — the rank tail is
#: dominated by hapax noise.
ZIPF_TOP_R = 128


def zipf_fit(docs: DataFrame, text_col: str = "text", *,
             top_r: int = ZIPF_TOP_R) -> DataFrame:
    """Per-source Zipf fit: OLS slope/intercept/r² of ln(freq) on
    ln(rank) over the top ``top_r`` term ranks — the corpus-health
    audit that flags template/generated text (|slope| far from ~1) and
    vocabulary collapse (r² near 1 with a cliff), per source.

    Determinism: x = ln(rank) and y = ln(count) via det_ln (identical
    arithmetic DAG both engines, functions/detmath); the six OLS moment
    sums fold per source in rank order over an array_sort'ed struct
    list (≤ top_r elements — bounded state), so every downstream double
    (slope, intercept, r²) is a chain of IEEE ops on bit-identical
    inputs.  Outputs are emitted UNROUNDED: rounding is the one step
    where engines could still disagree, and identical 64-bit doubles
    need none.

    Scale shape: (source, term) counts aggregate map-side; the rank
    window partitions by source — per-source vocabulary fits a task at
    any corpus size because vocabulary grows ~sublinearly (Heaps' law),
    and only the top-R rows survive into the fold.
    """
    from pyspark.sql import Window

    ranked = top_terms_per_source(docs, text_col, k=top_r)
    ranked = with_det_ln(ranked, F.col("term_rank"), F.lit(1), "x",
                         pfx="_zx")
    ranked = with_det_ln(ranked, F.col("n"), F.lit(1), "y", pfx="_zy")
    x, y = F.col("x"), F.col("y")
    elem = F.struct(
        F.col("term_rank").cast("double").alias("r"),
        x.alias("sx"), y.alias("sy"),
        (x * y).alias("sxy"), (x * x).alias("sxx"), (y * y).alias("syy"),
    )
    fields = ("r", "sx", "sy", "sxy", "sxx", "syy")
    zero = F.struct(*[F.lit(0.0).alias(f) for f in fields])
    agged = (
        ranked.groupBy("source")
        .agg(F.count("*").alias("n_terms"),
             F.array_sort(F.collect_list(elem)).alias("_es"))
        .withColumn("_acc", F.aggregate(
            F.col("_es"), zero,
            lambda a, e: F.struct(*[(a[f] + e[f]).alias(f)
                                    for f in fields])))
    )
    # OLS staged through named columns so the Spark and SQL operation
    # trees are the same shape (cf. with_det_ln's staging rationale).
    agged = agged.withColumns({
        "_n": F.col("n_terms").cast("double"),
        "_sx": F.col("_acc.sx"), "_sy": F.col("_acc.sy"),
        "_sxy": F.col("_acc.sxy"), "_sxx": F.col("_acc.sxx"),
        "_syy": F.col("_acc.syy"),
    }).withColumns({
        "_num1": F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
        "_den1": F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
        "_den2": F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy"),
    }).withColumn(
        "slope",
        F.when(F.col("_den1") != 0.0, F.col("_num1") / F.col("_den1")),
    )
    return agged.select(
        "source",
        F.col("n_terms").cast("long").alias("n_terms"),
        "slope",
        F.when(F.col("_den1") != 0.0,
               (F.col("_sy") - F.col("slope") * F.col("_sx")) / F.col("_n"))
            .alias("intercept"),
        F.when((F.col("_den1") != 0.0) & (F.col("_den2") != 0.0),
               (F.col("_num1") * F.col("_num1"))
               / (F.col("_den1") * F.col("_den2")))
            .alias("r2"),
    )


def heaps_law_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source Heaps'-law fit: OLS slope (β) / intercept (ln K) / r²
    of ln(vocabulary size) on ln(corpus tokens) over log-spaced corpus
    prefixes — the vocabulary-growth audit that complements
    :func:`zipf_fit` (a healthy natural-language source grows V ≈ K·N^β
    with β ≈ 0.4-0.6; β near 0 = closed template vocabulary, β near 1 =
    id/hash-like unbounded vocabulary).

    Prefixes are the ingestion order (doc_id), checkpointed at
    power-of-two positions: bucket k = ceil_pow2(doc_id + 1) is a pure
    per-row compare ladder (functions/detmath.ceil_pow2 — no libm
    log2), so cumulative (tokens, vocab) at each checkpoint needs only a
    per-(source, bucket) aggregation plus a cumsum over the ≤ ~40
    buckets a source can have.  NO per-source row_number/global sort
    anywhere — the naive rank-based formulation would single-task-sort
    each source's documents at 100 TB.  A term enters the vocabulary at
    its min doc_id, i.e. at bucket ceil_pow2(min_doc_id + 1); the last
    (partial) bucket is exactly the full-corpus point (N_total,
    V_total).

    Determinism: x/y via det_ln over checkpoint rows (≤ ~40 per
    source), BIGINT cumsums exact, the six OLS moments fold in bucket
    order over an array_sort'ed struct list (zipf_fit's scheme), outputs
    emitted UNROUNDED.
    """
    from pyspark.sql import Window

    toked = docs.select("doc_id", "source",
                        ws_tokens(F.col(text_col)).alias("_toks"))
    tok_b = (
        toked.select("source",
                     ceil_pow2(F.col("doc_id") + 1).alias("k"),
                     F.size("_toks").cast("long").alias("nt"))
        .groupBy("source", "k").agg(F.sum("nt").alias("tok_sum"))
    )
    first = (
        toked.select("doc_id", "source", F.explode("_toks").alias("term"))
        .groupBy("source", "term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    voc_b = (
        first.select("source",
                     ceil_pow2(F.col("first_doc") + 1).alias("k"))
        .groupBy("source", "k").agg(F.count("*").alias("new_terms"))
    )
    spine = (
        tok_b.join(voc_b, ["source", "k"], "full")
        .select("source", "k",
                F.coalesce("tok_sum", F.lit(0)).alias("tok_sum"),
                F.coalesce("new_terms", F.lit(0)).alias("new_terms"))
    )
    w = (Window.partitionBy("source").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, 0))
    pts = (
        spine.select(
            "source", "k",
            F.sum("tok_sum").over(w).alias("cum_tokens"),
            F.sum("new_terms").over(w).alias("cum_vocab"))
        .filter((F.col("cum_tokens") >= 1) & (F.col("cum_vocab") >= 1))
    )
    pts = with_det_ln(pts, F.col("cum_tokens"), F.lit(1), "x", pfx="_hx")
    pts = with_det_ln(pts, F.col("cum_vocab"), F.lit(1), "y", pfx="_hy")
    x, y = F.col("x"), F.col("y")
    elem = F.struct(
        F.col("k").cast("double").alias("r"),
        x.alias("sx"), y.alias("sy"),
        (x * y).alias("sxy"), (x * x).alias("sxx"), (y * y).alias("syy"),
    )
    fields = ("r", "sx", "sy", "sxy", "sxx", "syy")
    zero = F.struct(*[F.lit(0.0).alias(f) for f in fields])
    agged = (
        pts.groupBy("source")
        .agg(F.count("*").alias("n_points"),
             F.array_sort(F.collect_list(elem)).alias("_es"))
        .withColumn("_acc", F.aggregate(
            F.col("_es"), zero,
            lambda a, e: F.struct(*[(a[f] + e[f]).alias(f)
                                    for f in fields])))
    )
    agged = agged.withColumns({
        "_n": F.col("n_points").cast("double"),
        "_sx": F.col("_acc.sx"), "_sy": F.col("_acc.sy"),
        "_sxy": F.col("_acc.sxy"), "_sxx": F.col("_acc.sxx"),
        "_syy": F.col("_acc.syy"),
    }).withColumns({
        "_num1": F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
        "_den1": F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
        "_den2": F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy"),
    }).withColumn(
        "beta",
        F.when(F.col("_den1") != 0.0, F.col("_num1") / F.col("_den1")),
    )
    return agged.select(
        "source",
        F.col("n_points").cast("long").alias("n_points"),
        "beta",
        F.when(F.col("_den1") != 0.0,
               (F.col("_sy") - F.col("beta") * F.col("_sx")) / F.col("_n"))
            .alias("ln_k"),
        F.when((F.col("_den1") != 0.0) & (F.col("_den2") != 0.0),
               (F.col("_num1") * F.col("_num1"))
               / (F.col("_den1") * F.col("_den2")))
            .alias("r2"),
    )


# --- BM25 retrieval scoring --------------------------------------------------

#: Okapi BM25 parameters, fixed at the literature defaults k1 = 1.2 and
#: b = 0.75.  With these the per-term factor reduces to the exact
#: rational  22·tf·L / (10·tf·L + 3·L + 9·dl·D)  (multiply numerator and
#: denominator of  tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl·D/L)  by 10·L),
#: evaluated below in double arithmetic with an explicitly parenthesized
#: operation tree — IEEE ops on identical inputs are deterministic even
#: once the products stop being exactly representable, so the scores are
#: bit-identical cross-engine at ANY corpus size (no int64 overflow
#: cliff at 100 TB token counts).
BM25_TOP_K = 20


def bm25_scores(docs: DataFrame, query_terms: tuple[str, ...],
                text_col: str = "text", *, k: int = BM25_TOP_K) -> DataFrame:
    """Okapi BM25 top-k retrieval for a bag-of-terms query: classic
    lexical search over the corpus, the retrieval counterpart of the
    embedding ANN family.

    idf is the Robertson–Spärck-Jones form ln((N−df+0.5)/(df+0.5)) —
    doubled to the integer ratio (2N−2df+1)/(2df+1) and evaluated with
    det_ln (functions/detmath) for bit parity; terms in more than half
    the docs score negative, as the classic form intends.  Per-doc
    scores fold contributions in term order (bounded by |query|), and
    the top-k order (score desc, doc_id asc) is total.

    Scale shape: the tf table is pre-filtered to the query terms before
    any shuffle — corpus-size work is one tokenize+explode scan with a
    pushed-down IN filter; term stats (|query| rows) and the (D, L)
    totals broadcast back; the only corpus-keyed shuffle is the
    doc-length join on the few docs that contain a query term, and the
    global top-k is a TakeOrdered, never a full sort.
    """
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    dl = toked.select("doc_id", F.size("_toks").cast("long").alias("dl"))
    totals = dl.agg(F.count("*").alias("D"), F.sum("dl").alias("L"))
    tf = (
        toked.select("doc_id", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = with_det_ln(
        stats.crossJoin(F.broadcast(totals)),
        2 * F.col("D") - 2 * F.col("df") + 1,
        2 * F.col("df") + 1,
        "idf",
    ).select("term", "idf", "D", "L")
    scored = (
        tf.join(F.broadcast(stats), "term")
        .join(dl, "doc_id")
        .withColumns({
            "_dtf": F.col("tf").cast("double"),
            "_ddl": F.col("dl").cast("double"),
            "_dD": F.col("D").cast("double"),
            "_dL": F.col("L").cast("double"),
        })
        .withColumns({
            "_num": (F.lit(22.0) * F.col("_dtf")) * F.col("_dL"),
            "_den": (((F.lit(10.0) * F.col("_dtf")) * F.col("_dL"))
                     + (F.lit(3.0) * F.col("_dL")))
                    + ((F.lit(9.0) * F.col("_ddl")) * F.col("_dD")),
        })
        .withColumn("_c", F.col("idf") * (F.col("_num") / F.col("_den")))
    )
    agged = (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.array_sort(F.collect_list(
                F.struct(F.col("term"), F.col("_c").alias("c")))).alias("_cs"),
        )
        .select(
            "doc_id", "n_terms_hit",
            F.aggregate(F.transform(F.col("_cs"), lambda x: x["c"]),
                        F.lit(0.0), lambda a, v: a + v).alias("bm25"),
        )
    )
    return agged.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def jm_bigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean surprisal under a Jelinek–Mercer interpolated bigram
    LM: ``p(w2|w1) = ½·c(w1,w2)/c(w1,·) + ½·u(w2)/T`` — the standard
    smoothing upgrade over :func:`bigram_surprisal`'s raw ML
    conditional.  Smoothing matters even scoring the training corpus
    itself: rare-context estimates (c(w1,·) small) stop being 0/1-ish
    and get pulled toward the unigram prior, so the score separates
    "rare but natural" from "templated" far better than the unsmoothed
    form.

    With λ = ½ the probability is the EXACT rational
    ``(c12·T + u2·c1) / (2·c1·T)``, so each bigram's −ln p is ONE
    det_ln of an integer ratio — no float mixture arithmetic at all.
    Overflow bound: c12·T and u2·c1 must stay under 2^63 — fine to
    ~10^9-token corpora; beyond that, rescale both counts by a common
    2^k (the ratio, hence the ln, is unchanged) before the twin.

    Scale shape: same one-shuffle window formulation as
    bigram_surprisal (ctx and cbf as window sums over the per-doc
    bigram table — HashPartitioning(w1) satisfies both windows), plus
    two broadcasts: the vocabulary-sized unigram table on w2 and the
    single-row token total.  Per-doc contributions fold in sorted
    (w1, w2) order, matching the oracle's ordered list_reduce.
    """
    from pyspark.sql import Window

    bf = bigram_frequencies(docs, text_col)
    uni = (term_frequencies(docs, text_col)
           .groupBy("term").agg(F.sum("tf").alias("u2"))
           .withColumnRenamed("term", "w2"))
    total = uni.agg(F.sum("u2").alias("T"))
    w_ctx = Window.partitionBy("w1")
    w_cbf = Window.partitionBy("w1", "w2")
    contrib = with_det_ln(
        bf.withColumn("ctx", F.sum("bf").over(w_ctx))
        .withColumn("cbf", F.sum("bf").over(w_cbf))
        .join(F.broadcast(uni), "w2")
        .crossJoin(F.broadcast(total)),
        2 * F.col("ctx") * F.col("T"),
        F.col("cbf") * F.col("T") + F.col("u2") * F.col("ctx"),
        "lnv", pfx="_jm",
    ).select(
        "doc_id", "bf",
        F.struct(
            "w1", "w2",
            (F.col("bf") * F.col("lnv")).alias("c"),
        ).alias("tc"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("bf").alias("n_bigrams"),
            F.array_sort(F.collect_list("tc")).alias("tcs"),
        )
        .select(
            "doc_id", "n_bigrams",
            det_round(
                F.aggregate(F.transform("tcs", lambda x: x["c"]),
                            F.lit(0.0), lambda acc, v: acc + v)
                / F.col("n_bigrams"), 6).alias("mean_jm_surprisal"),
        )
    )


def source_kl_divergence(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source KL divergence KL(P_s || P_corpus) between each source's
    unigram distribution and the whole-corpus distribution — the standard
    domain-drift / mixture audit for a multi-source training corpus
    (which sources are lexical outliers; which are near-duplicates of the
    global mix).  No smoothing is needed: support(P_s) is a subset of the
    corpus support by construction, so every term in the sum has a
    positive corpus probability.

        KL_s = (1/T_s) * sum_t c_st * [ln(c_st/T_s) - ln(ctf_t/T)]

    Scale shape: one (source, term) aggregation (map-side combined — the
    shuffle carries vocab x sources pairs, not token instances); source
    totals are a sources-sized broadcast; the per-term corpus ln table is
    vocabulary-sized and broadcast back (same shape as
    :func:`unigram_surprisal`'s ctf table).  Corpus rows never shuffle
    after the first aggregation.

    Determinism: both lns are det_ln (functions/detmath) staged through
    named columns; per-source contributions fold in sorted term order, so
    the double sum is bit-identical across engines under any
    partitioning; the final ratio is det_round(6).
    """
    stf = (
        docs.select("source", F.explode(ws_tokens(F.col(text_col))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    st = stf.groupBy("source").agg(F.sum("c").alias("ts"))
    ctf = stf.groupBy("term").agg(F.sum("c").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("T"))
    term_ln = with_det_ln(
        ctf.crossJoin(F.broadcast(total)),
        F.col("ctf"), F.col("T"), "ln_q", pfx="_lq",
    ).select("term", "ln_q")
    contrib = with_det_ln(
        stf.join(F.broadcast(st), "source"),
        F.col("c"), F.col("ts"), "ln_p", pfx="_lp",
    ).join(F.broadcast(term_ln), "term").select(
        "source", "c",
        F.struct(
            "term",
            (F.col("c") * (F.col("ln_p") - F.col("ln_q"))).alias("kc"),
        ).alias("tc"),
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("c").alias("n_tokens"),
            F.array_sort(F.collect_list("tc")).alias("tcs"),
        )
        .select(
            "source", "n_terms", "n_tokens",
            det_round(
                F.aggregate(F.transform("tcs", lambda x: x["kc"]),
                            F.lit(0.0), lambda acc, v: acc + v)
                / F.col("n_tokens"), 6).alias("kl_divergence"),
        )
    )


#: n-gram joiner for :func:`ngram_diversity` — U+001F (unit separator)
#: cannot be produced by the tokenizer BETWEEN tokens (it is not in the
#: whitespace split class, so it can only occur INSIDE a token; a token
#: containing it could collide with a joined n-gram, but identically in
#: both engines, so parity holds and the distortion is one pathological
#: token class).
NGRAM_SEP = "\x1f"

#: distinct-n orders measured by :func:`ngram_diversity`.
NGRAM_ORDERS = (1, 2, 3)


def ngram_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source distinct-n diversity (Li et al. 2016's distinct-1/2/3,
    the standard repetitiveness / mode-collapse audit for a training
    corpus): for n in {1,2,3}, ``distinct n-grams / total n-grams``.
    Low distinct-2/3 flags boilerplate-heavy or template-generated
    sources long before exact dedup fires.

    Scale shape: the n-gram relation is built INSIDE each row (one
    transform per order over the staged token array — the same
    try-element-at shift :func:`bigram_frequencies` uses) and exploded
    once, so the single shuffle carries (source, n, gram) partial
    distincts; Spark's two-phase distinct aggregation keeps the
    map-side output bounded by per-partition vocabulary, never token
    instances.  No joins.

    Determinism: counts only — the one ratio is exact BIGINT rounding
    (:func:`exact_round_div`), no floats accumulate.

    Docs shorter than n tokens contribute nothing at that order, and a
    source with no document of length >= n has no row at that n —
    identical group-dropping in both engines.
    """
    toked = docs.select("source", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    sep = F.lit(NGRAM_SEP)

    def grams(n: int) -> Column:
        # struct(n, gram): F.concat propagates NULL past the array end,
        # so the filter drops the (n-1) tail windows of each doc.
        def one(t: Column, i: Column) -> Column:
            parts: list[Column] = [t]
            for k in range(1, n):
                parts += [sep, F.try_element_at(toks, i + F.lit(k + 1))]
            return F.struct(F.lit(n).alias("n"),
                            F.concat(*parts).alias("g"))
        return F.filter(F.transform(toks, one),
                        lambda s: s["g"].isNotNull())

    exploded = toked.select(
        "source",
        F.explode(F.concat(*[grams(n) for n in NGRAM_ORDERS])).alias("s"),
    )
    return (
        exploded.groupBy("source", F.col("s.n").alias("n"))
        .agg(
            F.countDistinct("s.g").alias("distinct_ngrams"),
            F.count("*").alias("total_ngrams"),
        )
        .select(
            "source", "n", "distinct_ngrams", "total_ngrams",
            exact_round_div(F.col("distinct_ngrams"),
                            F.col("total_ngrams"), 6).alias("diversity"),
        )
    )


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_support: int = 5) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information of
    adjacent token pairs, ``PMI(w1,w2) = ln(c12·N / (c1·c2))`` with c1 =
    left-marginal c(w1,·), c2 = right-marginal c(·,w2), N = total
    bigrams — the classic measure for "these words co-occur far more
    than chance" (multiword expressions, named entities, templated
    boilerplate).  Pairs below ``min_support`` corpus occurrences are
    dropped AFTER the marginals are taken, so rare-pair noise never
    inflates the ranking but the probability model still sees the full
    mass.

    Scale shape: ONE token-instance shuffle (the map-side-combined
    (w1, w2) count); everything after runs on the distinct-bigram table,
    which is vocabulary²-bounded and in practice Zipf-tiny relative to
    the corpus.  The two marginals are window sums over that table (one
    Exchange each on w1 / w2); N is a single-row broadcast (sanctioned
    in tests/test_plans.py).

    Determinism: all counts are integers, and the ln is evaluated as
    ``det_ln(c12, c1) + det_ln(N, c2)`` — algebraically ln(c12·N/(c1·c2))
    but with every det_ln operand an actual corpus count, so the
    2^53-exactness precondition of functions/detmath holds for any
    corpus up to 9·10^15 bigrams (the fused single-ratio form would
    overflow c12·N at ~2^63/N).  The first term is a ratio < 1 and
    comes out negative via det_ln's swap-and-negate; both engines stage
    the identical IEEE DAG, then det_round(6).
    """
    from pyspark.sql import Window

    toked = docs.select(ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    pairs = F.filter(
        F.transform(
            toks,
            lambda t, i: F.struct(
                t.alias("w1"),
                F.try_element_at(toks, i + F.lit(2)).alias("w2"),
            ),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    cbf = (
        toked.select(F.explode(pairs).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )
    tot = cbf.agg(F.sum("c12").alias("nb"))
    m = (
        cbf.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn("c2", F.sum("c12").over(Window.partitionBy("w2")))
        .filter(F.col("c12") >= min_support)
        .crossJoin(F.broadcast(tot))
    )
    m = with_det_ln(m, F.col("c12"), F.col("c1"), "ln1", pfx="_p1")
    m = with_det_ln(m, F.col("nb"), F.col("c2"), "ln2", pfx="_p2")
    return m.select(
        "w1", "w2", "c12",
        det_round(F.col("ln1") + F.col("ln2"), 6).alias("pmi"),
    )


def term_typo_variants(docs: DataFrame, text_col: str = "text",
                       top_n: int = 50, max_dist: int = 2) -> DataFrame:
    """Fuzzy vocabulary linkage: for the ``top_n`` most frequent terms,
    every other vocabulary term within Levenshtein distance
    ``[1, max_dist]`` — the OCR-noise / typo-variant discovery pass that
    precedes vocabulary normalization in a training-data pipeline.

    Scale shape: the vocabulary is ONE map-side-combined token shuffle;
    the head is a TakeOrderedAndProject (no global sort materializes);
    then CANDIDATE LENGTH EXPANSION turns the fuzzy join into a pure
    broadcast equi-join — each head term emits (top_n · (2·max_dist+1))
    rows keyed by candidate length, joined on ``length(term)``.  Length
    banding is a correct blocking key (|len(a)−len(b)| ≤ distance is an
    edit-distance invariant, unlike first-character blocking which a
    single head-deletion breaks), so no nested-loop join and no missed
    pair.  The quadratic levenshtein runs only on band survivors, with
    Spark's thresholded form (early exit past ``max_dist``).

    Determinism: the head is ordered (tf DESC, term ASC) — total order,
    no boundary ties.  Both vocab and head are restricted to
    ``^[a-z0-9]+$``: DuckDB's levenshtein counts BYTES (café→cafe = 2)
    while Spark counts CHARACTERS (= 1), and on ASCII the two agree by
    construction.
    """
    vocab = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("tf"))
        .filter(F.col("term").rlike("^[a-z0-9]+$"))
    )
    head = (vocab.orderBy(F.col("tf").desc(), F.col("term")).limit(top_n)
            .select(F.col("term").alias("dict_term")))
    cand = head.select(
        "dict_term",
        F.explode(F.sequence(F.length("dict_term") - max_dist,
                             F.length("dict_term") + max_dist)
                  ).alias("cand_len"),
    )
    joined = vocab.join(F.broadcast(cand),
                        F.length(vocab.term) == cand.cand_len)
    dist = F.levenshtein(F.col("term"), F.col("dict_term"), max_dist)
    return (
        joined.withColumn("distance", dist)
        .filter(F.col("distance") >= 1)   # thresholded form: -1 = "> max"
        .select(
            "dict_term",
            F.col("term").alias("variant"),
            F.col("tf").cast("long").alias("variant_tf"),
            F.col("distance").cast("long").alias("distance"),
        )
    )


#: TextRank parameters: damping 0.85, fixed 3 power iterations (the
#: dup_pagerank treatment — enough to separate hub terms on shallow
#: co-occurrence graphs while keeping the SQL oracle a fixed unroll),
#: top-20 keyword cut.
TEXTRANK_ITERS = 3
TEXTRANK_TOPN = 20


def textrank_keywords(docs: DataFrame, text_col: str = "text", *,
                      iters: int = TEXTRANK_ITERS,
                      topn: int = TEXTRANK_TOPN) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — undirected edges between
    ADJACENT tokens weighted by corpus bigram count, scores
    ``WR(v) = 0.15 + 0.85·Σ_u (w(u,v)/wdeg(u))·WR(u)``, top-``topn``
    terms by score.  The graph-centrality keyword signal that pure
    frequency ranking (frequent_terms) misses: a term scores high when
    its NEIGHBORS are central, not merely when it is common.

    Scale shape: the co-occurrence graph is TYPE-LEVEL (vocabulary x
    adjacency, independent of corpus row count once bigram counts are
    combined map-side); each of the ``iters`` power steps is one
    equi-join plus one map-side-combinable aggregation, exactly
    dedup.pagerank's bounded-iteration pattern (weighted adjacency
    persisted once, eager-materialized, intermediate edge copy
    dropped).  The final cut is orderBy+limit — Spark plans
    TakeOrderedAndProject, a map-side partial top-k, never a global
    sort of the vocabulary.

    Determinism: edge weights are BIGINT bigram counts; every
    contribution is the identical ``(w/wdeg)·s`` double DAG folded in
    sorted-value order (array_sort(collect_list) / list_sort(list)),
    so scores are bit-equal cross-engine and the (score DESC, term ASC)
    cut selects identical rows.  Self-loops (repeated tokens) are
    dropped — a self-edge only feeds a node its own score back and the
    standard formulation excludes it.

    Cache lifecycle: the operator is SELF-CLEANING — the top-``topn``
    result (<= topn rows) is eagerly localCheckpointed, after which the
    ``g``/``wdeg`` caches the iteration needed are unpersisted before
    returning, so repeated invocations in a long session leave no
    MEMORY_AND_DISK blocks behind (the executor-storage-accumulation
    fix pagerank got for its ``ed`` copy, extended to the full cache
    set; README "Scale design" documents the localCheckpoint
    fault-tolerance trade — executor-local blocks, job fails instead of
    recomputing on executor loss — and the reliable ``checkpoint()``
    escape hatch).
    """
    from pyspark import StorageLevel

    bg = bigram_frequencies(docs, text_col)
    und = (bg.filter(F.col("w1") != F.col("w2"))
           .groupBy(F.least("w1", "w2").alias("a"),
                    F.greatest("w1", "w2").alias("b"))
           .agg(F.sum("bf").cast("long").alias("w")))
    ed = und.select(F.col("a").alias("u"), F.col("b").alias("v"), "w") \
        .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v"),
                             "w")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    wdeg = (ed.groupBy("u").agg(F.sum("w").cast("long").alias("wdeg"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    g = (ed.join(wdeg, "u").persist(StorageLevel.MEMORY_AND_DISK))
    g.count()  # materializes g and (via the join) wdeg
    ed.unpersist()

    s = wdeg.select(F.col("u").alias("node"), F.lit(1.0).alias("s"))
    for _ in range(iters):
        contrib = g.join(s, g.u == s.node).select(
            F.col("v"),
            ((F.col("w").cast("double") / F.col("wdeg").cast("double"))
             * F.col("s")).alias("c"))
        s = (contrib.groupBy("v")
             .agg(F.aggregate(F.array_sort(F.collect_list("c")),
                              F.lit(0.0), lambda a, x: a + x).alias("cs"))
             .select(F.col("v").alias("node"),
                     (F.lit(0.15) + F.lit(0.85) * F.col("cs")).alias("s")))
    res = (s.join(wdeg, s.node == wdeg.u)
           .select(F.col("node").alias("term"), "wdeg",
                   F.col("s").alias("score"))
           .orderBy(F.desc("score"), F.asc("term")).limit(topn)
           # materialize the <= topn-row result so the caches below can
           # be released before the (now self-contained) frame returns
           .localCheckpoint(eager=True))
    g.unpersist()
    wdeg.unpersist()
    return res
