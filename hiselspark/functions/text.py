"""Caption / document text features — built-in expressions wherever
possible (JVM-side, codegen), so they cost nothing extra at 100 TB.

Includes the training-data-pipeline text analyses: token counting,
quality scoring, n-gram language ID, and rolling-hash fingerprinting.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

# A compact stopword list for quality scoring (public knowledge).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "this", "by", "at", "be", "are",
]

def tokens(col) -> Column:
    """Whitespace token array (split on runs of whitespace; empty or
    all-whitespace text yields an EMPTY array, not ['']).  The single
    source of truth for tokenization — token_count, sequence packing,
    chunking and the repetition metrics all derive from this column
    expression, and the driver-gate DuckDB oracles mirror it as
    ``regexp_split_to_array(trim(text), '\\s+')`` with the same
    empty-string guard."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(c == "", F.array().cast("array<string>")) \
            .otherwise(F.split(c, r"\s+"))


def token_count(col: str = "caption") -> Column:
    """Whitespace token count (split on runs of whitespace)."""
    c = F.trim(F.col(col))
    return F.when(c == "", 0).otherwise(F.size(F.split(c, r"\s+")))


def with_quality_score(df: DataFrame, col: str = "text",
                       out_col: str = "quality") -> DataFrame:
    """Heuristic document quality in [0, 1]: blend of length band,
    alphabetic ratio, stopword hit rate and mean word length — the
    standard cheap pre-filters of large-scale corpus curation, all as
    built-in expressions."""
    text = F.col(col)
    length = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = alpha / F.greatest(length, F.lit(1))
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_words = F.size(words)
    stop_hits = F.size(F.array_intersect(
        words, F.array(*[F.lit(s) for s in STOPWORDS])))
    stop_ratio = stop_hits / F.greatest(n_words, F.lit(1))
    mean_wordlen = length / F.greatest(n_words, F.lit(1))
    len_band = (F.when(length < 10, 0.0)
                 .when(length > 20000, 0.2)
                 .otherwise(1.0))
    wordlen_band = (F.when((mean_wordlen >= 3) & (mean_wordlen <= 12), 1.0)
                     .otherwise(0.3))
    score = (0.3 * len_band + 0.3 * alpha_ratio
             + 0.2 * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
             + 0.2 * wordlen_band)
    return df.withColumn(out_col, score)


# trigram anchors per language — tiny heuristic tables (public knowledge)
_LANG_MARKERS = {
    "en": ["the", "and", "ing", "ion", "to "],
    "es": ["de ", "que", "ión", "los", "ado"],
    "fr": ["le ", "les", "des", "ent", "tion"],
    "de": ["der", "die", "und", "sch", "ein"],
}


def with_language_guess(df: DataFrame, col: str = "text",
                        out_col: str = "lang_guess") -> DataFrame:
    """N-gram-marker language ID: count per-language marker hits with
    built-in string ops; the argmax language wins, 'und' when nothing
    matches.  A stand-in for a real trigram model — but the plan shape
    (pure expressions, no UDF) is the scale-relevant part."""
    text = F.lower(F.col(col))

    def hits(markers: Sequence[str]) -> Column:
        h = F.lit(0)
        for m in markers:
            h = h + F.when(text.contains(m), 1).otherwise(0)
        return h

    scores = F.array(*[
        F.struct(hits(m).alias("hits"), F.lit(lang).alias("lang"))
        for lang, m in _LANG_MARKERS.items()
    ])
    best = F.array_max(scores)
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")))


def with_fingerprint(df: DataFrame, col: str = "text",
                     out_col: str = "fingerprint") -> DataFrame:
    """64-bit document fingerprint via xxhash64 of the
    whitespace-normalized lowercased text — exact-duplicate key."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")
    return df.withColumn(out_col, F.xxhash64(normalized))


def token_logprob(df: DataFrame, id_col: str, text_col: str = "text",
                  out_col: str = "token_logprob") -> DataFrame:
    """CCNet-style unigram LM document score: the mean per-token
    ``ln P(token)`` under the corpus's OWN unigram distribution —
    the classic cheap perplexity proxy used to rank web documents for
    LM training (docs full of rare junk tokens score low, fluent prose
    scores high) without shipping an external language model.

    ``score(doc) = (1/n_doc) · Σ_t ln(count(t)) − ln(N)`` where
    ``count(t)`` is the corpus-wide count of token t and N the total
    token count — algebraically equal to mean ln(count/N) but keeps
    every engine-crossing term an exact integer.  The per-doc ln sum
    folds over the SORTED count list (``array_sort`` + ``aggregate``
    here, ``list_sort`` + ``list_reduce`` in the DuckDB oracle) so
    both engines add identical doubles in identical order.

    Plan: explode tokens → token-keyed count (map-side combined) →
    join instances back to counts (AQE broadcasts the vocab when it
    fits; Zipf-hot tokens are replicated-build-side, so no skew
    stall) → one doc-keyed groupBy.  Linear, no UDF, no driver state.
    Empty / NULL docs return NULL (no tokens to score).

    Returns one row per input document: ``(id_col, out_col)``.
    """
    toks = (df.select(id_col,
                      F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("__tok")))
    vocab = (toks.groupBy("__tok")
                 .agg(F.count(F.lit(1)).alias("__cnt")))
    total = vocab.agg(F.sum("__cnt").cast("double").alias("__n"))
    per_doc = (toks.join(vocab, "__tok")
               .groupBy(id_col)
               .agg(F.array_sort(F.collect_list("__cnt")).alias("__cnts"),
                    F.count(F.lit(1)).alias("__ntok")))
    score = (F.aggregate(
                 "__cnts", F.lit(0.0),
                 lambda acc, c: acc + F.log(c.cast("double")))
             / F.col("__ntok").cast("double")
             - F.log(F.col("__n")))
    scored = (per_doc.crossJoin(F.broadcast(total))
                     .select(id_col, score.alias(out_col)))
    return df.select(id_col).join(scored, id_col, "left")


def tfidf_weights(df: DataFrame, id_col: str, text_col: str = "text",
                  out_col: str = "tfidf") -> DataFrame:
    """Sparse TF-IDF featurization table: one row per (document,
    token) with exact integer term frequency ``tf``, document
    frequency ``df`` and ``tfidf = tf · ln(N / df)`` where N is the
    number of documents in the input — the classic sparse text
    representation for retrieval and linear classifiers.

    All engine-crossing quantities are exact integers; the one float
    is the final ``tf · ln(N/df)`` product, an identical expression
    tree in the DuckDB oracle (round for cross-engine hashing).
    Plan: explode tokens → one (doc, token)-keyed count (map-side
    combined) → token-keyed DF aggregate → join back — the same two
    token shuffles as ``token_logprob``; the N scalar rides a
    broadcast cross join.  Linear, no UDF, no driver state beyond the
    1-row count.

    Returns ``(id_col, token, tf, df, out_col)`` for non-empty docs.
    """
    toks = (df.select(id_col,
                      F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("token")))
    tf = (toks.groupBy(id_col, "token")
              .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("token")
               .agg(F.count(F.lit(1)).alias("df")))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    weight = (F.col("tf").cast("double")
              * F.log(F.col("__n") / F.col("df").cast("double")))
    return (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .select(id_col, "token", "tf", "df",
                      weight.alias(out_col)))


def bm25_score(df: DataFrame, id_col: str, query: str,
               text_col: str = "text", k1: float = 1.2, b: float = 0.75,
               out_col: str = "bm25") -> DataFrame:
    """Okapi BM25 relevance of every document to a query string — the
    standard lexical retrieval scorer (Lucene's idf variant:
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``), used in training-data
    pipelines to mine topical subsets and build RAG/eval retrieval
    baselines without an embedding model.

    All engine-crossing statistics are exact integers (tf, df, doc
    length, N); ``avgdl`` is one exact integer division.  The per-doc
    sum folds over per-term scores sorted BY TOKEN so both engines add
    identical doubles in identical order (``sort_array`` of
    ``struct(token, score)`` here, ``list(... ORDER BY token)`` in the
    DuckDB oracle).  Plan: explode tokens → filter to the query's
    tokens (a tiny ``isin`` pushed into the scan) → (doc, token) count
    → token-keyed df join → one doc-keyed fold; doc lengths ride the
    same explode.  Linear, no UDF; scalars broadcast.

    Returns ``(id_col, out_col)`` for documents matching ≥1 query
    token.
    """
    q_tokens = sorted(set(query.lower().split()))
    if not q_tokens:
        raise ValueError("query has no tokens")
    toks = (df.select(id_col,
                      F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("__tok")))
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__dl"))
    corpus = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    avgdl = (toks.agg(F.count(F.lit(1)).cast("double").alias("__tt"))
             .crossJoin(F.broadcast(corpus))
             .select((F.col("__tt") / F.col("__n")).alias("__avgdl"),
                     "__n"))
    hits = toks.filter(F.col("__tok").isin(q_tokens))
    tf = (hits.groupBy(id_col, "__tok")
              .agg(F.count(F.lit(1)).alias("__tf")))
    dfreq = (tf.groupBy("__tok")
               .agg(F.count(F.lit(1)).cast("double").alias("__df")))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5)))
    term = (idf * F.col("__tf").cast("double") * F.lit(k1 + 1.0)
            / (F.col("__tf").cast("double")
               + F.lit(k1) * (F.lit(1.0 - b)
                              + F.lit(b) * F.col("__dl").cast("double")
                              / F.col("__avgdl"))))
    scored = (tf.join(dfreq, "__tok")
                .join(doclen, id_col)
                .crossJoin(F.broadcast(avgdl))
                .select(id_col, F.struct(F.col("__tok"),
                                         term.alias("__s")).alias("__ts")))
    folded = (scored.groupBy(id_col)
              .agg(F.aggregate(
                       F.sort_array(F.collect_list("__ts")), F.lit(0.0),
                       lambda acc, s: acc + s["__s"]).alias(out_col)))
    return folded


def char_entropy(df: DataFrame, id_col: str, text_col: str = "text",
                 out_col: str = "char_entropy") -> DataFrame:
    """Shannon entropy (nats) of the per-document CHARACTER
    distribution — a classic cheap quality signal: natural prose sits
    in a narrow entropy band, while boilerplate/repeated filler
    (low H) and binary-ish garbage (high H) fall outside it.

    ``H = ln(n) − (1/n)·Σ_c count(c)·ln(count(c))`` — counts stay
    exact integers through both groupBys, and the final expression is
    the identical double tree in any engine (modulo libm ``ln`` ulp;
    round for cross-engine hashing).  Plan: explode characters →
    count per (doc, char) → reduce per doc — two map-side-combined
    doc-keyed shuffles, linear in corpus size, no UDF.  Empty / NULL
    text yields NULL (no distribution to measure).

    Returns one row per document: ``(id_col, out_col)``.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    chars = (df.select(id_col, F.explode(F.split(c, "")).alias("__ch"))
               .filter(F.col("__ch") != ""))
    per_char = (chars.groupBy(id_col, "__ch")
                     .agg(F.count(F.lit(1)).alias("__c")))
    n = F.sum("__c")
    slc = F.sum(F.col("__c").cast("double")
                * F.log(F.col("__c").cast("double")))
    per_doc = (per_char.groupBy(id_col)
               .agg((F.log(n.cast("double")) - slc / n.cast("double"))
                    .alias(out_col)))
    return (df.select(id_col)
              .join(per_doc, id_col, "left"))


def zipf_fit(df: DataFrame, text_col: str = "text",
             top_v: int = 200) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency distribution:
    OLS of ln(frequency) on ln(rank) over the ``top_v`` most frequent
    tokens (rank ties broken by token).  Healthy natural-language
    corpora sit near slope −1; a flat slope flags template/boilerplate
    floods and a cliff flags vocabulary collapse — a one-row corpus
    health gate next to `quality_score`.

    Returns one row: (v, slope, intercept, r2).  Scale shape: one
    token count shuffle (map-side combined), a top-V rank window on
    the collapsed vocabulary table, then the six OLS sums folded in
    RANK ORDER over a bounded collect_list (float addition is not
    associative; the fixed order is what a second engine replays,
    modulo libm's ln ulp — callers round)."""
    from pyspark.sql import Window
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    top = (vocab.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= top_v))
    folded = top.groupBy().agg(F.array_sort(F.collect_list(F.struct(
        F.col("rank").alias("rank"), F.col("cnt").alias("cnt"))))
        .alias("a"))
    sums = folded.select(
        F.size("a").cast("long").alias("v"),
        F.aggregate("a", F.lit(0.0),
                    lambda acc, s: acc + F.log(s["rank"]
                                               .cast("double")))
         .alias("sx"),
        F.aggregate("a", F.lit(0.0),
                    lambda acc, s: acc + F.log(s["cnt"]
                                               .cast("double")))
         .alias("sy"),
        F.aggregate("a", F.lit(0.0),
                    lambda acc, s: acc + F.log(s["rank"].cast("double"))
                    * F.log(s["rank"].cast("double"))).alias("sxx"),
        F.aggregate("a", F.lit(0.0),
                    lambda acc, s: acc + F.log(s["rank"].cast("double"))
                    * F.log(s["cnt"].cast("double"))).alias("sxy"),
        F.aggregate("a", F.lit(0.0),
                    lambda acc, s: acc + F.log(s["cnt"].cast("double"))
                    * F.log(s["cnt"].cast("double"))).alias("syy"))
    vd = F.col("v").cast("double")
    cov = vd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = vd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = vd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = (cov / varx).alias("slope")
    intercept = ((F.col("sy") - cov / varx * F.col("sx")) / vd
                 ).alias("intercept")
    r2 = (cov * cov / (varx * vary)).alias("r2")
    return sums.select("v", slope, intercept, r2)


def bigram_logprob(df: DataFrame, id_col: str, text_col: str = "text",
                   out_col: str = "bigram_logprob") -> DataFrame:
    """Bigram LM document score with add-one smoothing — the next
    step up from :func:`token_logprob` on the ccnet quality-filter
    ladder (junk that passes a unigram screen usually fails the
    bigram one: rare word ORDER is what machine-mangled text gets
    wrong):

        score(doc) = (1/B) Σ ln((c(w₁w₂)+1) / (c(w₁)+V))

    over the doc's B bigrams, with corpus-wide counts and vocabulary
    size V.  Returns ``(id_col, n_bigrams, out_col)`` for documents
    with at least one bigram.

    Determinism: counts are exact integers; the per-doc fold runs over
    the SORTED (c₂, c₁) struct list (every term is a function of the
    counts alone, so sorting loses nothing) with a fixed
    ln(c₂+1) − ln(c₁+V) term — a second engine replays the sum
    exactly, modulo libm's ln ulp (callers round).

    Plan: one doc-ordered window builds bigrams, two map-side-combined
    count shuffles (unigram, bigram), two token-keyed joins back (AQE
    broadcasts the vocab side when it fits), one doc groupBy.  Linear;
    no UDF.
    """
    from pyspark.sql import Window
    toks = df.select(
        id_col, F.posexplode(tokens(F.lower(F.col(text_col))))
        .alias("__pos", "__tok"))
    w = Window.partitionBy(id_col).orderBy("__pos")
    big = (toks
           .withColumn("__nxt", F.lead("__tok").over(w))
           .filter(F.col("__nxt").isNotNull())
           .select(id_col, F.col("__tok").alias("__w1"),
                   F.col("__nxt").alias("__w2")))
    uni = toks.groupBy(F.col("__tok").alias("__w1")) \
              .agg(F.count(F.lit(1)).alias("__c1"))
    bi = big.groupBy("__w1", "__w2").agg(F.count(F.lit(1))
                                         .alias("__c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
    per_doc = (big.join(bi, ["__w1", "__w2"]).join(uni, "__w1")
               .groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("__c2").alias("c2"),
                   F.col("__c1").alias("c1")))).alias("__terms"),
                    F.count(F.lit(1)).alias("n_bigrams")))
    score = (F.aggregate(
        "__terms", F.lit(0.0),
        lambda acc, s: acc + F.log((s["c2"] + 1).cast("double"))
        - F.log((s["c1"] + F.col("__v")).cast("double")))
        / F.col("n_bigrams").cast("double"))
    return (per_doc.crossJoin(F.broadcast(vocab))
            .select(id_col, "n_bigrams", score.alias(out_col)))


# GPT-2-style pretokenizer, reduced to a dialect-portable core: common
# English contractions, space-prefixed letter runs, digit runs, and
# punctuation runs, then bare whitespace.  No lookaheads or non-POSIX
# classes, so Java regex (Spark) and RE2 (DuckDB) agree.
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+")


def bpe_pretokens(col) -> Column:
    """BPE-ish pretoken array of lowercased text — the subword-budget
    estimator next to the whitespace tokenizer: letter runs, digit
    runs and punctuation runs split apart (each starts a fresh subword
    in a byte-BPE), whitespace-only matches dropped.  Pure JVM
    ``regexp_extract_all``; the oracle mirrors it with DuckDB's RE2 on
    the same pattern literal."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    arr = F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0)
    return F.filter(arr, lambda t: F.trim(t) != "")


# the Gopher stopword probe (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", §A1.1: require >= 2 of these in a document)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def with_gopher_flags(df: DataFrame, col: str = "text",
                      min_words: int = 50, max_words: int = 100_000,
                      min_mean_len: int = 3, max_mean_len: int = 10,
                      max_symbol_ratio: float = 0.1,
                      min_alpha_frac: float = 0.8,
                      min_stopwords: int = 2) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021 §A1.1) as exact
    per-document flags — the published rule set used (with minor
    variations) by MassiveText/RefinedWeb/Dolma-style curation:

    * ``n_words`` in [min_words, max_words]
    * mean word length in [min_mean_len, max_mean_len]
    * symbol-to-word ratio (``#`` and ``…``) ≤ max_symbol_ratio
    * fraction of words containing ≥ 1 alphabetic char ≥ min_alpha_frac
    * ≥ min_stopwords hits from the 8-word Gopher stopword probe

    All counts are exact integers from JVM-side split/filter
    expressions (no UDF); every threshold test multiplies through the
    denominator so the flags themselves are INTEGER comparisons
    (``sum_len·10 ≥ 3·10·n_words`` style) — no float boundary can
    disagree between engines.  The mean/ratio columns are emitted as
    one float division each for inspection.

    Adds: n_words, sum_word_len, n_alpha_words, n_stopwords,
    n_symbols, mean_word_len, and the five flag_* booleans plus
    ``gopher_pass`` (AND of all five).  Word splitting is on
    whitespace runs of the trimmed text (empty text → 0 words).
    """
    text = F.col(col)
    # drop empty fragments so leading/trailing whitespace (and the
    # empty document) can't disagree between engines' split rules
    words = F.filter(F.split(F.trim(text), r"\s+"),
                     lambda w: F.length(w) > 0)
    out = df.withColumn("__w", words)
    n_words = F.size("__w")
    sum_len = F.aggregate(
        "__w", F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w).cast("long"))
    n_alpha = F.size(F.filter("__w", lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(F.filter(
        "__w", lambda w: F.lower(w).isin(*GOPHER_STOPWORDS)))
    n_sym = (F.length(text)
             - F.length(F.regexp_replace(text, r"[#…]", "")))
    out = (out
           .withColumn("n_words", n_words.cast("long"))
           .withColumn("sum_word_len", sum_len)
           .withColumn("n_alpha_words", n_alpha.cast("long"))
           .withColumn("n_stopwords", n_stop.cast("long"))
           .withColumn("n_symbols", n_sym.cast("long"))
           .drop("__w"))
    nw = F.col("n_words")
    mean_len = F.when(nw > 0, F.col("sum_word_len").cast("double")
                      / nw.cast("double"))
    # integer-exact threshold tests (scale ratios through denominators)
    # — the ratio thresholds are converted to EXACT rationals via
    # their decimal string (Fraction('0.3') == 3/10), so arbitrary
    # ratios like 0.3 or 0.15 are honored exactly instead of being
    # silently snapped to the nearest unit fraction
    from fractions import Fraction
    sym_frac = Fraction(str(float(max_symbol_ratio)))
    alpha_frac = Fraction(str(float(min_alpha_frac)))
    flags = {
        "flag_word_count": (nw >= int(min_words)) & (nw <= int(max_words)),
        "flag_mean_len": (nw > 0)
        & (F.col("sum_word_len") >= int(min_mean_len) * nw)
        & (F.col("sum_word_len") <= int(max_mean_len) * nw),
        "flag_symbols": F.col("n_symbols") * sym_frac.denominator
        <= sym_frac.numerator * nw,
        "flag_alpha": F.col("n_alpha_words") * alpha_frac.denominator
        >= alpha_frac.numerator * nw,
        "flag_stopwords": F.col("n_stopwords") >= int(min_stopwords),
    }
    out = out.withColumn("mean_word_len", mean_len)
    passing = None
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
        passing = expr if passing is None else (passing & expr)
    return out.withColumn("gopher_pass", passing)


def trigram_backoff_logprob(df: DataFrame, ref: DataFrame,
                            id_col: str, text_col: str = "text",
                            out_col: str = "trigram_logprob",
                            alpha: float = 0.4) -> DataFrame:
    """Trigram LM document score with STUPID BACKOFF (Brants et al.,
    "Large Language Models in Machine Translation", EMNLP 2007 — the
    web-scale smoothing that skips normalization) against a separate
    REFERENCE corpus ``ref``:

        s(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)            if seen
                   = α · c(w₂w₃)/c(w₂)             elif bigram seen
                   = α² · (c(w₃)+1)/(N+V)          else (add-one uni)

    score(doc) = mean ln s over the doc's trigrams.  Scoring against
    a reference (not the doc's own corpus, where every trigram is
    trivially seen) is the held-out-perplexity shape of the ccnet /
    CCNet-style quality ladder: unigram → bigram → trigram-backoff.

    Determinism: every term is a function of exact integer counts
    alone, so the per-doc fold runs over the SORTED count-struct list
    with one fixed float expression per branch — a second engine
    replays the sum modulo libm's ln ulp (callers round).

    Plan: posexplode + two leads (one doc window), four count tables
    off the reference (token, token-pair ×2 roles, triple), LEFT
    token-keyed joins back (AQE broadcasts vocab sides), one doc
    groupBy.  Linear, no UDF.
    """
    from pyspark.sql import Window
    a = float(alpha)

    def toks_of(frame):
        return frame.select(
            id_col, F.posexplode(tokens(F.lower(F.col(text_col))))
            .alias("__pos", "__tok"))

    dt = toks_of(df)
    rt = toks_of(ref)
    w = Window.partitionBy(id_col).orderBy("__pos")
    tri = (dt
           .withColumn("__w2", F.lead("__tok", 1).over(w))
           .withColumn("__w3", F.lead("__tok", 2).over(w))
           .filter(F.col("__w3").isNotNull())
           .select(id_col, F.col("__tok").alias("__w1"),
                   "__w2", "__w3"))
    rw = Window.partitionBy(id_col).orderBy("__pos")
    rtri = (rt
            .withColumn("__b", F.lead("__tok", 1).over(rw))
            .withColumn("__c", F.lead("__tok", 2).over(rw)))
    c_tri = (rtri.filter(F.col("__c").isNotNull())
             .groupBy(F.col("__tok").alias("__w1"),
                      F.col("__b").alias("__w2"),
                      F.col("__c").alias("__w3"))
             .agg(F.count(F.lit(1)).alias("c123")))
    c_pair = (rtri.filter(F.col("__b").isNotNull())
              .groupBy(F.col("__tok").alias("__p1"),
                       F.col("__b").alias("__p2"))
              .agg(F.count(F.lit(1)).alias("cp")))
    c_uni = rt.groupBy(F.col("__tok").alias("__u")) \
              .agg(F.count(F.lit(1)).alias("cu"))
    tot = rt.agg(F.count(F.lit(1)).alias("__n"),
                 F.countDistinct("__tok").alias("__v"))
    j = (tri
         .join(c_tri, ["__w1", "__w2", "__w3"], "left")
         .join(c_pair.select(F.col("__p1").alias("__w1"),
                             F.col("__p2").alias("__w2"),
                             F.col("cp").alias("c12")),
               ["__w1", "__w2"], "left")
         .join(c_pair.select(F.col("__p1").alias("__w2"),
                             F.col("__p2").alias("__w3"),
                             F.col("cp").alias("c23")),
               ["__w2", "__w3"], "left")
         .join(c_uni.select(F.col("__u").alias("__w2"),
                            F.col("cu").alias("c2")),
               ["__w2"], "left")
         .join(c_uni.select(F.col("__u").alias("__w3"),
                            F.col("cu").alias("c3")),
               ["__w3"], "left"))
    per_doc = (j.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.coalesce("c123", F.lit(0)).alias("c123"),
                   F.coalesce("c12", F.lit(0)).alias("c12"),
                   F.coalesce("c23", F.lit(0)).alias("c23"),
                   F.coalesce("c2", F.lit(0)).alias("c2"),
                   F.coalesce("c3", F.lit(0)).alias("c3"))))
                   .alias("__terms"),
                    F.count(F.lit(1)).alias("n_trigrams")))

    def term(acc, s):
        seen3 = s["c123"] > 0
        seen2 = s["c23"] > 0
        t1 = F.log(s["c123"].cast("double") / s["c12"].cast("double"))
        t2 = F.log(F.lit(a) * s["c23"].cast("double")
                   / s["c2"].cast("double"))
        t3 = F.log(F.lit(a * a) * (s["c3"] + 1).cast("double")
                   / (F.col("__n") + F.col("__v")).cast("double"))
        return acc + F.when(seen3, t1).when(seen2, t2).otherwise(t3)

    score = (F.aggregate("__terms", F.lit(0.0), term)
             / F.col("n_trigrams").cast("double"))
    return (per_doc.crossJoin(F.broadcast(tot))
            .select(id_col, "n_trigrams", score.alias(out_col)))


def distinct_ngram_ratios(df: DataFrame, text_col: str = "text",
                          max_n: int = 3) -> DataFrame:
    """Corpus-level distinct-n ratios (distinct n-grams / total
    n-grams, n = 1..max_n) — the standard diversity/memorization
    check for generated or curated corpora (Li et al. 2016's
    distinct-1/2; low values flag template spam or decoding collapse).

    Exact integer counts from one unpivoted token shuffle per n (the
    n-gram explode); ratios are one mirrored division each.  Returns
    one row per n: (n, total, n_distinct, distinct_ratio).
    """
    toks = df.select(tokens(F.lower(F.col(text_col))).alias("__toks"))

    # one-arg lambda via closure: a `lambda i, n=n` would be ARITY-2
    # and transform() binds the second parameter to the ELEMENT INDEX,
    # silently clobbering the n-gram order
    def gram_fn(n):
        return lambda i: F.concat_ws(" ", F.slice("__toks", i, n))

    # n-grams via slice inside transform — map-only per doc
    outs = []
    for n in range(1, int(max_n) + 1):
        grams = F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size("__toks") - (n - 1),
                                  F.lit(0))),
            gram_fn(n))
        g = (toks.select(F.explode(
            F.when(F.size("__toks") >= n, grams)
            .otherwise(F.array().cast("array<string>")))
            .alias("g")))
        outs.append(g.agg(
            F.lit(n).alias("n"),
            F.count(F.lit(1)).alias("total"),
            F.countDistinct("g").alias("n_distinct")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.select(
        "n", "total", "n_distinct",
        F.when(F.col("total") > 0,
               F.col("n_distinct").cast("double")
               / F.col("total").cast("double"))
        .alias("distinct_ratio"))


def readability(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch reading-ease and Flesch–Kincaid grade per document
    (Flesch 1948; Kincaid et al. 1975) from three exact counts:

      words      = whitespace tokens (the engine's `tokens` contract)
      sentences  = runs of sentence punctuation ``[.!?]+`` (min 1)
      syllables  = per word, vowel groups ``[aeiouy]+`` minus one
                   silent final consonant+e (never below 1/word)

      FRE = 206.835 - 1.015·(W/S) - 84.6·(Y/W)
      FKG = 0.39·(W/S) + 11.8·(Y/W) - 15.59

    The syllable rule is the standard public heuristic, stated exactly
    so the DuckDB oracle replays it term-for-term (same regexes, same
    silent-e test).  Pure JVM expressions per row — zero shuffles, so
    at 100 TB it fuses into whatever scan already reads the text
    column.  Empty/whitespace-only docs are dropped (W = 0 has no
    defined readability).  Returns (id, n_words, n_sentences,
    n_syllables, flesch, fk_grade).
    """
    toks = tokens(F.lower(F.col(text_col)))
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0))
                - F.when(w.rlike("[a-df-z]e$")
                         & (F.size(F.regexp_extract_all(
                             w, F.lit("[aeiouy]+"), 0)) > 1),
                         1).otherwise(0))),
        F.lit(0).cast("long"), lambda acc, s: acc + s)
    sents = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit("[.!?]+"), 0)))
    out = (df.select(F.col(id_col),
                     F.size(toks).cast("long").alias("n_words"),
                     sents.cast("long").alias("n_sentences"),
                     syl.alias("n_syllables"))
           .filter(F.col("n_words") > 0))
    w_s = F.col("n_words").cast("double") / F.col("n_sentences")
    y_w = F.col("n_syllables").cast("double") / F.col("n_words")
    return out.select(
        id_col, "n_words", "n_sentences", "n_syllables",
        (F.lit(206.835) - 1.015 * w_s - 84.6 * y_w).alias("flesch"),
        (0.39 * w_s + 11.8 * y_w - 15.59).alias("fk_grade"))


def vocab_drift(reference: DataFrame, candidate: DataFrame,
                text_col: str = "text") -> DataFrame:
    """Corpus vocabulary drift between a reference corpus and a
    candidate corpus (new crawl, new source, post-filter output) —
    the cheap pre-training health check that catches tokenizer
    surprises and domain shift before any model run:

      * ``vocab_ref`` / ``vocab_cand`` — distinct lowercased token
        types (the engine's whitespace ``tokens`` contract);
      * ``vocab_common`` / ``vocab_jaccard`` — type overlap;
      * ``oov_tokens`` / ``cand_tokens`` / ``oov_rate`` — candidate
        token OCCURRENCES whose type is absent from the reference
        vocabulary (token-weighted, the number a tokenizer actually
        feels).

    Exact integers + two final divisions.  Plan: one distinct per
    side on the token type, one left-anti join candidate-types →
    reference-types carrying the candidate's occurrence counts (no
    row-level join — everything happens on the two vocabulary
    tables, bounded by type counts, not corpus size).
    """
    def types_with_counts(df):
        return (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                          .alias("tok"))
                  .groupBy("tok")
                  .agg(F.count(F.lit(1)).alias("occ")))

    ref = types_with_counts(reference).select("tok").persist()
    cand = types_with_counts(candidate).persist()
    n_ref = ref.count()
    n_cand = cand.count()
    oov = (cand.join(ref, "tok", "left_anti")
               .agg(F.coalesce(F.sum("occ"), F.lit(0)).alias("oov"),
                    F.count(F.lit(1)).alias("oov_types")).first())
    tot = cand.agg(F.sum("occ").alias("t")).first()["t"]
    common = n_cand - int(oov["oov_types"])
    spark = reference.sparkSession
    out = spark.createDataFrame(
        [(n_ref, n_cand, common,
          int(oov["oov"]), int(tot))],
        "vocab_ref long, vocab_cand long, vocab_common long, "
        "oov_tokens long, cand_tokens long")
    ref.unpersist(); cand.unpersist()
    return out.select(
        "*",
        (F.col("vocab_common").cast("double")
         / (F.col("vocab_ref") + F.col("vocab_cand")
            - F.col("vocab_common")).cast("double"))
        .alias("vocab_jaccard"),
        (F.col("oov_tokens").cast("double")
         / F.col("cand_tokens").cast("double")).alias("oov_rate"))


def token_fertility(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Tokenizer fertility stats per document — the cost model for a
    token-budgeted corpus: ``fertility`` = BPE-style pre-tokens per
    whitespace word (≫1 flags scripts/domains the tokenizer
    fragments, the classic multilingual-cost signal) and
    ``chars_per_token`` = compression the tokenizer achieves.

    Pure JVM expressions on the two existing tokenization contracts
    (``tokens`` and ``bpe_pretokens``) — zero shuffles, exact integer
    counts with two final divisions.  Empty docs are dropped (no
    defined ratio).  Returns (id, n_chars, n_words, n_pretokens,
    fertility, chars_per_token).
    """
    ws = tokens(F.lower(F.col(text_col)))
    bp = F.filter(bpe_pretokens(F.lower(F.col(text_col))),
                  lambda t: F.trim(t) != "")
    out = (df.select(F.col(id_col),
                     F.length(text_col).cast("long").alias("n_chars"),
                     F.size(ws).cast("long").alias("n_words"),
                     F.size(bp).cast("long").alias("n_pretokens"))
             .filter((F.col("n_words") > 0)
                     & (F.col("n_pretokens") > 0)))
    return out.select(
        id_col, "n_chars", "n_words", "n_pretokens",
        (F.col("n_pretokens").cast("double")
         / F.col("n_words").cast("double")).alias("fertility"),
        (F.col("n_chars").cast("double")
         / F.col("n_pretokens").cast("double"))
        .alias("chars_per_token"))


def with_c4_flags(df: DataFrame, col: str = "text",
                  min_sentences: int = 3,
                  min_words_per_line: int = 5) -> DataFrame:
    """C4 heuristic cleaning flags (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2) as per-document columns — the line-and-page
    rule set next to the document-level Gopher rules:

    * a line is KEPT iff it ends in terminal punctuation (``. ! ? "``
      after trimming) and has ≥ ``min_words_per_line`` words;
    * the page needs ≥ ``min_sentences`` sentence terminators;
    * pages containing ``lorem ipsum`` or ``{`` are dropped;
    * lines containing ``javascript`` are counted (C4 removes them).

    Adds: n_lines (non-empty after trim), n_kept_lines, n_sentences
    (count of ``.!?`` characters), n_js_lines, kept_chars,
    total_line_chars, has_lorem, has_brace, kept_ratio (the one float
    division) and ``c4_pass`` = ≥ min_sentences AND no lorem/brace
    AND ≥ 1 kept line.  Every count is an exact integer from JVM
    split/filter expressions (no UDF), so all flags are integer/
    boolean comparisons — map-only, zero shuffles, the same
    cross-engine discipline as :func:`with_gopher_flags`.
    """
    text = F.col(col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0)
    out = df.withColumn("__l", lines)
    is_kept = (lambda l:
               l.rlike('[.!?"]$')
               & (F.size(F.filter(F.split(l, r"\s+"),
                                  lambda w: F.length(w) > 0))
                  >= int(min_words_per_line)))
    kept = F.filter("__l", is_kept)
    n_sent = (F.length(text)
              - F.length(F.regexp_replace(text, r"[.!?]", "")))
    out = (out
           .withColumn("n_lines", F.size("__l").cast("long"))
           .withColumn("n_kept_lines", F.size(kept).cast("long"))
           .withColumn("n_sentences", n_sent.cast("long"))
           .withColumn(
               "n_js_lines",
               F.size(F.filter(
                   "__l",
                   lambda l: F.lower(l).contains("javascript")))
               .cast("long"))
           .withColumn(
               "kept_chars",
               F.aggregate(kept, F.lit(0).cast("long"),
                           lambda acc, l: acc + F.length(l).cast("long")))
           .withColumn(
               "total_line_chars",
               F.aggregate("__l", F.lit(0).cast("long"),
                           lambda acc, l: acc + F.length(l).cast("long")))
           .withColumn("has_lorem",
                       F.lower(text).contains("lorem ipsum"))
           .withColumn("has_brace", text.contains("{"))
           .drop("__l"))
    out = out.withColumn(
        "kept_ratio",
        F.when(F.col("total_line_chars") > 0,
               F.col("kept_chars").cast("double")
               / F.col("total_line_chars").cast("double")))
    return out.withColumn(
        "c4_pass",
        (F.col("n_sentences") >= int(min_sentences))
        & ~F.col("has_lorem") & ~F.col("has_brace")
        & (F.col("n_kept_lines") >= 1))


def bleu_pairs(df: DataFrame, id_col: str, cand_col: str,
               ref_col: str, max_n: int = 2) -> DataFrame:
    """BLEU-N between paired candidate/reference texts (Papineni et
    al. 2002) — the caption-regeneration / translation-eval metric:
    per pair, clipped n-gram precision ``p_n = Σ_g min(c_cand(g),
    c_ref(g)) / #cand n-grams`` for n = 1..max_n, the brevity penalty
    ``BP = min(1, e^(1−r/c))``, and ``BLEU = BP·exp(Σ ln(p_n)/N)``
    (NULL when any p_n is 0 — the standard undefined case; the exact
    integer numerators/denominators are always emitted so callers can
    smooth).

    Every numerator/denominator is an exact int64 from per-(pair,
    gram) count joins; BLEU itself is one fixed float expression —
    bit-reproducible.  Plan: per n, one JVM-side transform builds the
    gram array (no UDF), one explode + groupBy counts each side, a
    left join clips, one groupBy sums — all shuffles keyed on the
    pair id, linear in corpus tokens."""
    base = (df.select(F.col(id_col).alias("__pid"),
                      tokens(F.lower(F.col(cand_col))).alias("__ct"),
                      tokens(F.lower(F.col(ref_col))).alias("__rt"))
              .withColumn("__clen", F.size("__ct"))
              .withColumn("__rlen", F.size("__rt")))
    stats = base.select("__pid", "__clen", "__rlen")
    outs = []
    for n in range(1, max_n + 1):
        def grams(arr):
            if n == 1:
                return F.col(arr)
            return F.expr(
                f"CASE WHEN size({arr}) >= {n} THEN "
                f"transform(sequence(1, size({arr}) - {n - 1}), "
                f"i -> concat_ws(' ', slice({arr}, i, {n}))) "
                f"ELSE array() END")
        cg = (base.select("__pid",
                          F.explode(grams("__ct")).alias("__g"))
                  .groupBy("__pid", "__g")
                  .agg(F.count(F.lit(1)).alias("__cc")))
        rg = (base.select("__pid",
                          F.explode(grams("__rt")).alias("__g"))
                  .groupBy("__pid", "__g")
                  .agg(F.count(F.lit(1)).alias("__cr")))
        per = (cg.join(rg, ["__pid", "__g"], "left")
                 .groupBy("__pid")
                 .agg(F.sum(F.least(
                     F.col("__cc"),
                     F.coalesce(F.col("__cr"), F.lit(0))))
                      .alias(f"p{n}_num"),
                      F.sum("__cc").alias(f"p{n}_den")))
        outs.append(per)
    res = stats
    for per in outs:
        res = res.join(per, "__pid", "left")
    for n in range(1, max_n + 1):
        res = (res.withColumn(f"p{n}_num",
                              F.coalesce(F.col(f"p{n}_num"), F.lit(0))
                              .cast("long"))
                  .withColumn(f"p{n}_den",
                              F.coalesce(F.col(f"p{n}_den"), F.lit(0))
                              .cast("long")))
    all_pos = None
    log_sum = F.lit(0.0)
    for n in range(1, max_n + 1):
        pos = (F.col(f"p{n}_num") > 0) & (F.col(f"p{n}_den") > 0)
        all_pos = pos if all_pos is None else (all_pos & pos)
        log_sum = log_sum + (
            F.log(F.col(f"p{n}_num").cast("double"))
            - F.log(F.col(f"p{n}_den").cast("double"))) / float(max_n)
    bp = F.least(
        F.lit(1.0),
        F.exp(1.0 - F.col("__rlen").cast("double")
              / F.col("__clen").cast("double")))
    bleu = F.when((F.col("__clen") > 0) & all_pos,
                  bp * F.exp(log_sum))
    cols = [F.col("__pid").alias(id_col),
            F.col("__clen").cast("long").alias("cand_len"),
            F.col("__rlen").cast("long").alias("ref_len")]
    for n in range(1, max_n + 1):
        cols += [F.col(f"p{n}_num"), F.col(f"p{n}_den")]
    out = res.select(*cols, bleu.alias("bleu"))
    return out


def good_turing(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Good–Turing frequency-of-frequencies table over the corpus
    vocabulary (Good 1953): one row per observed type frequency r
    with ``n_r`` (how many types occur exactly r times) and the
    Turing-smoothed count ``r* = (r+1)·n_{r+1}/n_r`` (NULL where
    ``n_{r+1} = 0`` — callers needing full SGT interpolate the gaps).
    The r = 1 row's ``n_1/total_tokens`` is the classic unseen-mass
    estimate, so ``total_tokens`` is attached to every row.

    Two exact-integer count shuffles (token → type counts → count of
    counts) reduce the corpus to a table bounded by the largest type
    frequency; the lead over it is a window on that tiny table; r* is
    one mirrored division."""
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("__tok"))
    types = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__r"))
    from pyspark.sql import Window
    nr = (types.groupBy(F.col("__r").alias("r"))
               .agg(F.count(F.lit(1)).alias("n_r")))
    w = Window.orderBy("r")
    wt = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    nxt_r = F.lead("r").over(w)
    nxt_nr = F.lead("n_r").over(w)
    r_star = F.when(
        nxt_r == F.col("r") + 1,
        (F.col("r") + 1).cast("double") * nxt_nr.cast("double")
        / F.col("n_r").cast("double"))
    total = F.sum(F.col("r") * F.col("n_r")).over(wt)
    return nr.select(F.col("r").cast("long").alias("r"),
                     F.col("n_r").cast("long").alias("n_r"),
                     r_star.alias("r_star"),
                     total.cast("long").alias("total_tokens"))


def kneser_ney(df: DataFrame, text_col: str = "text",
               discount: float = 0.75,
               min_count: int = 1,
               id_col: str | None = None) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1998) — the canonical n-gram smoother, built
    on CONTINUATION counts (in how many distinct contexts does a word
    appear) rather than raw frequency:

        P(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁)
                   + (d/c(w₁))·N₁₊(w₁·)·N₁₊(·w₂)/N₁₊(··)

    One row per bigram with c(w₁w₂) ≥ min_count carrying every exact
    integer sufficient statistic (c12, c1, the three continuation
    counts) plus ``pkn`` as one fixed float expression.  Plan: one
    doc-ordered window builds bigrams, one bigram count shuffle, three
    aggregates over the (small) distinct-bigram table, two key joins
    back — linear, no UDF, the float appears only in the last
    projection."""
    from pyspark.sql import Window
    d = float(discount)
    if not (0.0 < d < 1.0):
        raise ValueError(f"discount must be in (0,1), got {discount}")
    if id_col is None:
        # assign the per-document id BEFORE the explode (an id
        # projected in the same select as a generator would be
        # evaluated per exploded row)
        base = df.withColumn("__doc", F.monotonically_increasing_id())
    else:
        base = df.withColumn("__doc", F.col(id_col))
    toks = base.select(
        "__doc",
        F.posexplode(tokens(F.lower(F.col(text_col))))
        .alias("__pos", "__tok"))
    w = Window.partitionBy("__doc").orderBy("__pos")
    big = (toks.withColumn("__nxt", F.lead("__tok").over(w))
               .filter(F.col("__nxt").isNotNull())
               .select(F.col("__tok").alias("w1"),
                       F.col("__nxt").alias("w2")))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bc.groupBy("w1").agg(F.sum("c12").alias("c1"),
                              F.count(F.lit(1)).alias("n1p_fwd"))
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_back"))
    ntypes = bc.agg(F.count(F.lit(1)).alias("n_types"))
    out = (bc.filter(F.col("c12") >= int(min_count))
             .join(c1, "w1").join(cont, "w2")
             .join(F.broadcast(ntypes)))
    pkn = (F.greatest(F.col("c12").cast("double") - F.lit(d),
                      F.lit(0.0))
           / F.col("c1").cast("double")
           + (F.lit(d) / F.col("c1").cast("double"))
           * F.col("n1p_fwd").cast("double")
           * F.col("n1p_back").cast("double")
           / F.col("n_types").cast("double"))
    return out.select("w1", "w2",
                      F.col("c12").cast("long").alias("c12"),
                      F.col("c1").cast("long").alias("c1"),
                      F.col("n1p_fwd").cast("long").alias("n1p_fwd"),
                      F.col("n1p_back").cast("long").alias("n1p_back"),
                      F.col("n_types").cast("long").alias("n_types"),
                      pkn.alias("pkn"))


def chrf_pairs(df: DataFrame, id_col: str, cand_col: str,
               ref_col: str, max_n: int = 2,
               beta: float = 2.0) -> DataFrame:
    """chrF between paired candidate/reference texts (Popović 2015) —
    the character-n-gram F-score that complements :func:`bleu_pairs`
    (robust to tokenization and morphology; the standard secondary
    caption/translation metric).  Whitespace is stripped, text
    lowercased; for n = 1..max_n the clipped character-n-gram matches
    give precision (vs candidate grams) and recall (vs reference
    grams), averaged over n, combined as

        chrF_β = (1+β²)·P̄·R̄ / (β²·P̄ + R̄)

    (NULL when P̄+R̄ = 0 or either side is empty).  Every match/total
    is an exact int64 from per-(pair, gram) count joins; the n-gram
    arrays are JVM-side ``transform(sequence, substring)`` — no UDF;
    the per-n precision/recall averages are fixed float expressions
    in ascending-n order.  Same plan class as bleu_pairs: pair-keyed
    count shuffles, linear in corpus characters."""
    base = (df.select(
        F.col(id_col).alias("__pid"),
        F.regexp_replace(F.lower(F.col(cand_col)), r"\s+", "")
         .alias("__cs"),
        F.regexp_replace(F.lower(F.col(ref_col)), r"\s+", "")
         .alias("__rs"))
        .withColumn("__clen", F.length("__cs"))
        .withColumn("__rlen", F.length("__rs")))
    res = base.select("__pid", "__clen", "__rlen")
    for n in range(1, max_n + 1):
        def grams(col):
            return F.expr(
                f"transform(sequence(1, greatest(length({col})"
                f" - {n - 1}, 0)), i -> substring({col}, i, {n}))")
        cg = (base.select("__pid", F.explode(grams("__cs"))
                          .alias("__g"))
                  .groupBy("__pid", "__g")
                  .agg(F.count(F.lit(1)).alias("__cc")))
        rg = (base.select("__pid", F.explode(grams("__rs"))
                          .alias("__g"))
                  .groupBy("__pid", "__g")
                  .agg(F.count(F.lit(1)).alias("__cr")))
        per = (cg.join(rg, ["__pid", "__g"], "full")
                 .groupBy("__pid")
                 .agg(F.sum(F.least(F.coalesce(F.col("__cc"),
                                               F.lit(0)),
                                    F.coalesce(F.col("__cr"),
                                               F.lit(0))))
                      .alias(f"m{n}"),
                      F.sum(F.coalesce(F.col("__cc"), F.lit(0)))
                      .alias(f"c{n}"),
                      F.sum(F.coalesce(F.col("__cr"), F.lit(0)))
                      .alias(f"r{n}")))
        res = res.join(per, "__pid", "left")
    for n in range(1, max_n + 1):
        for c in (f"m{n}", f"c{n}", f"r{n}"):
            res = res.withColumn(
                c, F.coalesce(F.col(c), F.lit(0)).cast("long"))
    prec = F.lit(0.0)
    rec = F.lit(0.0)
    ok = None
    for n in range(1, max_n + 1):
        pos = (F.col(f"c{n}") > 0) & (F.col(f"r{n}") > 0)
        ok = pos if ok is None else (ok & pos)
        prec = prec + (F.col(f"m{n}").cast("double")
                       / F.col(f"c{n}").cast("double")) / float(max_n)
        rec = rec + (F.col(f"m{n}").cast("double")
                     / F.col(f"r{n}").cast("double")) / float(max_n)
    b2 = float(beta) * float(beta)
    chrf = F.when(ok & (prec + rec > 0.0),
                  (1.0 + b2) * prec * rec / (b2 * prec + rec))
    cols = [F.col("__pid").alias(id_col),
            F.col("__clen").cast("long").alias("cand_chars"),
            F.col("__rlen").cast("long").alias("ref_chars")]
    for n in range(1, max_n + 1):
        cols += [F.col(f"m{n}"), F.col(f"c{n}"), F.col(f"r{n}")]
    return res.select(*cols, chrf.alias("chrf"))


# Compact sentiment lexicon for deterministic polarity scoring
# (public-knowledge wordlists, AFINN/Bing-Liu style but tiny).
POSITIVE_WORDS = [
    "good", "great", "excellent", "happy", "love", "best", "nice",
    "awesome", "amazing", "fantastic", "wonderful", "perfect",
    "better", "win", "success", "positive", "enjoy", "like",
    "fast", "easy",
]
NEGATIVE_WORDS = [
    "bad", "terrible", "awful", "sad", "hate", "worst", "poor",
    "horrible", "broken", "fail", "failure", "negative", "slow",
    "hard", "wrong", "problem", "bug", "error", "worse", "angry",
]


def with_lexicon_sentiment(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic lexicon polarity score per document:

        sentiment = (n_pos − n_neg) / n_tokens

    over whitespace tokens of the lowercased text, hits counted
    against the fixed POSITIVE_WORDS / NEGATIVE_WORDS lists (exact
    int64 counts via array filters — pure JVM expressions, no UDF).
    The crudest of sentiment models, and exactly what a curation
    pipeline wants as a cheap polarity FEATURE (not a classifier):
    monotone, explainable, reproducible in SQL verbatim.  NULL score
    for empty documents.  Adds ``n_tokens``, ``n_pos``, ``n_neg``,
    ``sentiment``."""
    words = tokens(F.lower(F.col(col)))
    pos_arr = F.array(*[F.lit(w) for w in POSITIVE_WORDS])
    neg_arr = F.array(*[F.lit(w) for w in NEGATIVE_WORDS])
    n_tok = F.size(words)
    n_pos = F.size(F.filter(words,
                            lambda w: F.array_contains(pos_arr, w)))
    n_neg = F.size(F.filter(words,
                            lambda w: F.array_contains(neg_arr, w)))
    return (df.withColumn("n_tokens", n_tok.cast("long"))
              .withColumn("n_pos", n_pos.cast("long"))
              .withColumn("n_neg", n_neg.cast("long"))
              .withColumn("sentiment",
                          F.when(n_tok > 0,
                                 (n_pos - n_neg).cast("double")
                                 / n_tok.cast("double"))))


def rake_keywords(df: DataFrame, id_col: str, text_col: str,
                  top_k: int = 3) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) per document:
    candidate phrases are maximal runs of non-stopword alphanumeric
    words (split at STOPWORDS and punctuation), each word scores
    deg(w)/freq(w) with freq = occurrences and deg = Σ lengths of
    the phrases containing each occurrence (both PER DOCUMENT, exact
    int64), and a phrase scores the sum of its word scores.

    Determinism end to end: words come from ONE regexp
    (``[a-z0-9]+`` on the lowered text, identical RE2 semantics in
    the SQL oracle), phrase islands from the positions-minus-rank
    gaps-and-islands key, deg/freq exact integers, and the phrase
    score folds word scores in word-position order.  Ranking is
    (score DESC, phrase ASC) — equal doubles tie-break on the phrase
    text, so top-k is engine-stable.  Returns
    (id, phrase, n_words, score, rank) with rank ≤ ``top_k``.

    Scale shape: explode → two (doc-local) window passes → groupBy
    phrase → per-doc top-k window, all hash-partitioned by document;
    nothing global."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    words = F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
    d = df.select(F.col(id_col).alias("id"), words.alias("__w"))
    ex = d.select("id", F.posexplode("__w").alias("pos", "w"))
    ex = ex.withColumn("is_stop", F.array_contains(stop_arr,
                                                   F.col("w")))
    w_ord = Window.partitionBy("id").orderBy("pos")
    kept = (ex.filter(~F.col("is_stop"))
              .withColumn("grp", F.col("pos")
                          - F.row_number().over(w_ord)))
    w_ph = Window.partitionBy("id", "grp")
    kept = (kept
            .withColumn("ph_len", F.count(F.lit(1)).over(w_ph))
            .withColumn("phrase",
                        F.array_join(F.transform(
                            F.array_sort(F.collect_list(F.struct(
                                F.col("pos").alias("p"),
                                F.col("w").alias("w"))).over(w_ph)),
                            lambda s: s["w"]), " ")))
    w_doc_word = Window.partitionBy("id", "w")
    scored = (kept
              .withColumn("freq", F.count(F.lit(1)).over(w_doc_word))
              .withColumn("deg", F.sum("ph_len").over(w_doc_word)))
    per_phrase = (scored.groupBy("id", "grp", "phrase")
                  .agg(F.count(F.lit(1)).alias("n_words"),
                       F.aggregate(
                           F.transform(
                               F.array_sort(F.collect_list(F.struct(
                                   F.col("pos").alias("p"),
                                   (F.col("deg").cast("double")
                                    / F.col("freq").cast("double"))
                                   .alias("s")))),
                               lambda s: s["s"]),
                           F.lit(0.0),
                           lambda acc, x: acc + x).alias("score")))
    w_top = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("phrase").asc(),
        F.col("grp").asc())
    return (per_phrase
            .withColumn("rank", F.row_number().over(w_top))
            .filter(F.col("rank") <= int(top_k))
            .select("id", "phrase",
                    F.col("n_words").cast("long").alias("n_words"),
                    F.col("score").alias("score"),
                    F.col("rank").cast("long").alias("rank")))


def chao1_richness(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Chao1 estimator of TOTAL vocabulary size (seen + unseen) from
    the token frequency-of-frequencies — "how much more vocabulary
    would more data surface", the coverage planning number next to
    good_turing's probability mass:

        Chao1 = S + f₁·(f₁−1) / (2·(f₂+1))

    (the bias-corrected form, defined even when f₂ = 0) with S the
    observed distinct tokens, f₁ singletons, f₂ doubletons — all
    exact int64 off the corpus token count table; the estimate is one
    mirrored float expression.  Tokens are the engine's whitespace
    convention on lowered text.  Returns one row:
    (n_tokens, s_observed, f1, f2, chao1)."""
    toks = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"))
    vocab = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("c"))
    agg = vocab.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("s"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"))
    chao = (F.col("s").cast("double")
            + F.col("f1").cast("double")
            * (F.col("f1").cast("double") - 1.0)
            / (2.0 * (F.col("f2").cast("double") + 1.0)))
    return agg.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("s").cast("long").alias("s_observed"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        chao.alias("chao1"))


def burrows_delta(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int = 20,
) -> DataFrame:
    """Burrows' Delta stylometric distance-from-the-corpus-centroid
    (Burrows 2002) — the authorship/style OUTLIER score over the
    most-frequent-word profile, in the engine's integer discipline:

    * tokens from the module's whitespace contract; the vocabulary is
      the ``top_v`` corpus-frequency words ((freq DESC, word ASC)
      deterministic cut);
    * each document's per-word rate is the FLOORED per-mille
      ``fpm = (1000·c) DIV len`` — an exact int64 (the declared
      quantization that makes cross-document moments exact where raw
      ratios c/len could not be summed deterministically);
    * per word, mean/std of fpm over ALL documents (absent word =
      rate 0 — the zero rows are implicit: Σ over the sparse (doc,
      word) counts IS the dense sum) from exact (Σfpm, Σfpm²);
    * Delta(doc) = mean over the vocabulary, in (freq DESC, word ASC)
      order, of |z_doc,word| — one |·| fold per document over ``top_v``
      broadcast stats.

    Documents with no tokens get NULL delta.  Returns one row per
    document: (doc_id, n_tokens, delta)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                 lambda x: F.length(x) > 0).alias("toks"))
    lens = toks.select("doc", F.size("toks").alias("len"))
    long = toks.select("doc", F.explode("toks").alias("w"))
    vocab = (long.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
             .orderBy(F.col("cf").desc(), F.col("w").asc())
             .limit(int(top_v)))
    cells = (long.join(F.broadcast(vocab.select("w", "cf")), "w")
             .groupBy("doc", "w", "cf")
             .agg(F.count(F.lit(1)).alias("c")))
    cells = (cells.join(lens, "doc")
             .withColumn("fpm", F.expr("(1000 * c) DIV len")))
    nd_frame = (lens.filter(F.col("len") > 0)
                .agg(F.count(F.lit(1)).alias("ndocs")))
    stats = (cells.groupBy("w", "cf")
             .agg(F.sum("fpm").alias("s"),
                  F.sum(F.col("fpm") * F.col("fpm")).alias("q"))
             .crossJoin(F.broadcast(nd_frame)))

    def dd(x):
        return x.cast("double") if not isinstance(x, str) \
            else F.col(x).cast("double")

    nd = dd("ndocs")
    mean = dd("s") / nd
    var = dd("q") / nd - mean * mean
    stats = (stats.withColumn("mean", mean)
             .withColumn("sd", F.when(var > 0.0, F.sqrt(var))))
    # dense per-doc z: join sparse cells, absent word -> fpm = 0
    dz = (lens.filter(F.col("len") > 0)
          .crossJoin(F.broadcast(stats.select("w", "cf", "mean",
                                              "sd")))
          .join(cells.select("doc", "w",
                             F.col("fpm").alias("fpm0")),
                ["doc", "w"], "left")
          .withColumn("fpm", F.coalesce(F.col("fpm0"), F.lit(0))))
    zterm = F.when(F.col("sd").isNotNull(),
                   F.abs((dd("fpm") - F.col("mean")) / F.col("sd")))
    agg = (dz.groupBy("doc", "len")
           .agg(F.sort_array(F.collect_list(F.when(
               zterm.isNotNull(),
               F.struct((-F.col("cf")).alias("ncf"),
                        F.col("w").alias("w"),
                        zterm.alias("az"))))).alias("cells2"),
                F.count(F.when(zterm.isNotNull(), F.lit(1)))
                .alias("vv")))
    fold = F.aggregate("cells2", F.lit(0.0),
                       lambda acc, e: acc + e["az"])
    delta = F.when(F.col("vv") > 0, fold / dd("vv"))
    scored = agg.select("doc", delta.alias("delta"))
    # zero-token docs never reach `dz`; the left join keeps them in
    # the output with NULL delta (the docstring's contract) instead
    # of dropping them
    return (lens.join(scored, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.col("len").cast("long").alias("n_tokens"),
                    "delta"))
