"""Text analysis operators (SURVEY.md X3): language-ID, quality scoring,
token counting, fingerprinting — all built-in-function compositions over the
``documents`` table, zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.functions.textfns import (
    LANG_MARKERS,
    TOKEN_PATTERN,
    fingerprint,
    text_shingles,
    whitespace_tokens,
)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    return df.withColumns(
        {
            "n_ws_tokens": F.size(whitespace_tokens(F.col(text_col))),
            "n_bpe_tokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0)
            ),
            "n_chars_computed": F.length(F.col(text_col)),
        }
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, mean word length — the standard cheap pre-filters a training-data
    pipeline runs before anything expensive."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    n_tok = F.size(toks)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, w)))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0))
    n_chars = F.length(F.col(text_col))
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
            "stopword_ratio": F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6),
            "mean_word_len": F.round(
                (n_chars - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 6
            ),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: per-language evidence = count of marker
    tokens; prediction = argmax with deterministic (alphabetical) tiebreak.

    The operator shape (N evidence scores → argmax) is what matters; swap
    the lexicons for real n-gram tables without touching the plan.
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    out = df
    for lang, words in sorted(LANG_MARKERS.items()):
        markers = F.array([F.lit(w) for w in words])
        out = out.withColumn(
            f"score_{lang}",
            F.size(F.filter(toks, lambda w: F.array_contains(markers, w))),
        )
    # argmax with alphabetical tiebreak: compare (score, reversed-name) pairs
    best = None
    for lang in sorted(LANG_MARKERS):
        cand = F.struct(F.col(f"score_{lang}").alias("s"), F.lit(lang).alias("l"))
        best = cand if best is None else F.when(F.col(f"score_{lang}") > best["s"], cand).otherwise(best)
    return out.withColumn("pred_lang", best["l"])


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fp", fingerprint(F.col(text_col)))


def repetition_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics: type-token ratio (distinct/total
    tokens) and the fraction of bigram slots occupied by the single most
    frequent bigram — the cheap detectors for boilerplate loops, keyword
    stuffing, and degenerate generations.

    Shape: token array stays an in-row expression; bigrams explode once,
    aggregate per (doc, bigram) with map-side combine, and a bounded
    per-doc max picks the winner. One shuffle on doc_id; linear."""
    from pyspark.sql import Window

    toks = whitespace_tokens(F.lower(F.col(text_col)))
    base = df.select(
        "doc_id",
        toks.alias("__toks"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("type_token_ratio"),
    )
    bigrams = base.select(
        "doc_id",
        "n_tokens",
        "type_token_ratio",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.concat_ws(" ", F.col("__toks")[i], F.col("__toks")[i + 1]),
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "n_tokens", "type_token_ratio", "bg").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("doc_id", "n_tokens", "type_token_ratio")
        .agg(F.max("c").alias("__mc"))
        .select(
            "doc_id",
            "n_tokens",
            "type_token_ratio",
            F.round(
                F.col("__mc") / F.greatest(F.col("n_tokens") - 1, F.lit(1)), 6
            ).alias("top_bigram_frac"),
        )
    )


#: PII patterns chosen to mean the same thing in Java regex (Spark) and RE2
#: (DuckDB oracle): no backreferences, no lookaround.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d()./ -]{6,}\d", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / IPv4s / phone-shaped digit runs with typed tokens —
    the scrub pass a training corpus gets before anything is retained.
    Chained ``regexp_replace`` Column expressions: JVM-side, codegen'd,
    linear, pushdown-transparent. Order matters (emails first: their local
    part may contain digits a later pattern would mangle)."""
    out = F.col(text_col)
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(text_col, out)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` documents per group (source/domain/language) — the
    per-domain cap that stops over-represented sources from dominating a
    training mix. Selection priority is the content hash (stable across
    runs and engines, uncorrelated with ingest order), tie-broken by id.
    One shuffle on the group key; bounded window."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.md5(F.col(text_col)), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap: count, per corpus
    document, how many of its distinct ``n``-word shingles also occur in
    the held-out ``benchmark`` set, and flag docs at ``min_hits`` or more —
    the standard pre-training scrub that keeps eval data out of the
    training mix.

    Distributed shape: the benchmark's distinct shingle set is tiny
    relative to the corpus (eval suites are MBs against TBs), so it
    broadcasts — the corpus side is ONE explode scan + broadcast-hash
    semi-match + per-doc count, no shuffle of corpus text. Docs too short
    to form a shingle score 0 via the left join."""
    bench = (
        benchmark.select(F.explode(text_shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    doc_sh = df.select(
        F.col(id_col), F.explode(text_shingles(F.col(text_col), n)).alias("shingle")
    )
    # text_shingles de-dups within doc => count(*) == distinct matching shingles
    hits = (
        doc_sh.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-unigram language-model score: per document, the mean
    ``ln P(token)`` under the corpus's own unigram distribution — the
    cheap KenLM-perplexity stand-in used to rank documents by "typicality"
    (gibberish and boilerplate both land in the tails).

    One explode scan feeds both the vocabulary count and the scoring join;
    the vocabulary aggregate is Zipf-small relative to the corpus (AQE
    broadcasts it when it fits, else a shuffle join on ``term`` — either
    way linear); corpus size arrives as a broadcast 1-row aggregate."""
    words = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("term")
    )
    vocab = words.groupBy("term").agg(F.count(F.lit(1)).alias("__tc"))
    total = words.agg(F.count(F.lit(1)).alias("__t"))
    return (
        words.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("__tc") / F.col("__t"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (``tf * (ln((1+N)/(1+df)) + 1)``), built-ins only.

    Distributed shape: ONE explode scan → per-(doc, term) TF agg (map-side
    partial); doc-frequency is then a count window over ``term`` on the TF
    output itself (one row per (doc, term) already), so no second corpus
    scan, no distinct, no join; corpus size N arrives as a broadcast 1-row
    aggregate; the final per-doc top-k is a bounded window. Ranking uses the
    ROUNDed score with a term tiebreak so the order is reproducible across
    libm implementations."""
    from pyspark.sql import Window

    toks = whitespace_tokens(F.lower(F.col(text_col)))
    words = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc_freq is derivable FROM the tf aggregate (one row per (doc, term)
    # => rows per term == docs containing the term), so a count window over
    # term replaces a second explode scan + distinct + join of the corpus
    wt = Window.partitionBy("term")
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("doc_freq") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag-of-words query —
    the keyword-search ranking function (Robertson & Spärck Jones line of
    work, the Lucene/Elasticsearch default), as one linear scan:

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with
    the standard smoothed ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``.

    Shape: explode lowercased tokens, keep ONLY query terms (a literal
    isin — the filter reaches the scan side of the explode, so the
    per-(doc, term) aggregate sees query-term occurrences, not the
    corpus); doc lengths come from the same pass pre-filter via a
    parallel aggregate; df/N/avgdl are broadcast metadata-sized
    aggregates. No UDFs, no quadratic stage; the heavy shuffle is the
    per-(doc, term) count over query-term hits only.

    Output: (id, score, n_hit_terms) for documents matching >= 1 term.
    Scores are ROUNDed to 6 so ranking is reproducible across libm
    implementations (same policy as tfidf_top_terms)."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    docs = df.select(F.col(id_col), toks.alias("__toks"))
    lengths = docs.select(F.col(id_col), F.size("__toks").alias("dl"))
    words = docs.select(
        F.col(id_col), F.explode("__toks").alias("term")
    ).filter(F.col("term").isin([t.lower() for t in query_terms]))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("__s", idf * F.col("tf") * (k1 + 1) / denom)
    )
    return per_term.groupBy(id_col).agg(
        F.round(F.sum("__s"), 6).alias("score"),
        F.count(F.lit(1)).cast("int").alias("n_hit_terms"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4-style rule-based document cleaning (the line-level heuristics of
    the C4 corpus build): keep only lines that end in terminal punctuation,
    have at least ``min_words`` words, and trip none of the boilerplate
    blocklist ('lorem ipsum', 'javascript', curly braces); then drop
    documents left with fewer than ``min_lines`` lines. Adds ``n_lines``
    (kept-line count) and rewrites ``text_col`` to the kept lines.

    All array HOFs over a single split — JVM-side, codegen, linear, no
    shuffle; the rules are plain string predicates so the identical policy
    is expressible in the ANSI-SQL oracle."""

    def _keep(line):
        t = F.trim(line)
        # \s+ (not " +"): must agree with the oracle's
        # string_split_regex(trim(l), '\s+') on tab-separated words
        words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != F.lit("")))
        low = F.lower(t)
        return (
            t.rlike('[.!?"]$')
            & (words >= min_words)
            & ~low.contains("lorem ipsum")
            & ~low.contains("javascript")
            & ~t.contains("{")
        )

    kept = F.filter(F.split(F.col(text_col), "\n"), _keep)
    return (
        df.withColumn("__kept", kept)
        .filter(F.size("__kept") >= min_lines)
        .withColumn(text_col, F.array_join(F.col("__kept"), "\n"))
        .withColumn("n_lines", F.size("__kept").cast("int"))
        .drop("__kept")
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """One BPE merge iteration's candidate statistics: corpus-weighted
    counts of adjacent character pairs (Sennrich et al. 2016) — the pair
    with the highest count is the next merge a byte-pair-encoding
    tokenizer would learn.

    Shape matters at scale: the corpus is first reduced to the WORD
    VOCABULARY (word, freq) — a map-side-combining aggregation that shrinks
    ~10^11 tokens to ~10^6 distinct words — and the quadratic-ish pair
    explosion runs over the vocabulary only, weighted by ``freq``. The
    corpus is scanned once; no per-row Python.

    Returns the ``top_n`` (pair, cnt) rows, count-desc (ties by pair asc).
    """
    words = df.select(
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # sequence(1, 0) is the DESCENDING [1, 0] in Spark (not empty), so
    # 1-char words must be guarded out explicitly
    pairs = vocab.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) < 2 THEN array() "
                "ELSE transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) END"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_n)
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    Models", §A1.1) — the standard cheap gate a pretraining pipeline runs
    before any model-based scoring. Per document, each rule emits its own
    boolean (so rejects are attributable) plus the conjunction ``keep``:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (``#`` or ``...``) below max_symbol_ratio
    - fraction of words containing an alphabetic char above
      min_alpha_word_frac
    - at least ``min_stopword_hits`` distinct common stopwords present
    - fraction of lines starting with a bullet below max_bullet_line_frac
      and ending with an ellipsis below max_ellipsis_line_frac

    All rules are single-pass Column expressions over the row (token and
    line arrays never leave the row) — zero shuffles, zero UDFs; the plan
    is a projection that scales to any corpus size."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    n_words = F.size(toks)
    n_words1 = F.greatest(n_words, F.lit(1))
    mean_wl = (F.length(F.col(text_col)) - n_words + 1) / n_words1
    n_symbols = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\."), 0)
    )
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    stop = F.array([F.lit(w) for w in
                    ["the", "be", "to", "of", "and", "that", "have", "with"]])
    n_stop_distinct = F.size(F.array_intersect(F.array_distinct(toks), stop))
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != "")
    n_lines1 = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
        / n_lines1
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$"))) / n_lines1
    )
    return df.withColumns(
        {
            "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
            "rule_mean_word_len": (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len),
            "rule_symbol_ratio": (n_symbols / n_words1) < max_symbol_ratio,
            "rule_alpha_words": (n_alpha_words / n_words1) > min_alpha_word_frac,
            "rule_stopwords": n_stop_distinct >= min_stopword_hits,
            "rule_lines": (bullet_frac < max_bullet_line_frac)
            & (ellipsis_frac < max_ellipsis_line_frac),
        }
    ).withColumn(
        "keep",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio")
        & F.col("rule_alpha_words")
        & F.col("rule_stopwords")
        & F.col("rule_lines"),
    )


def zipf_slope(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Zipf's-law fit over the corpus term distribution: OLS slope of
    ln(freq) against ln(rank) for the top-``k`` terms (count-desc, term-asc
    tiebreak). Natural text sits near -1; heavily duplicated or synthetic
    corpora drift away — a one-number corpus-health signal.

    Scale shape: the term counts are one map-side-combining aggregation;
    the top-k cut is orderBy().limit() (TakeOrderedAndProject, a
    distributed top-k — never a global row_number over the vocabulary);
    ranks attach to the k surviving rows only; the fit is covar_pop/var_pop
    on a k-row frame. Returns one row (slope, n_terms)."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("w")).limit(k)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w"))),
    )
    return ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    ).agg(
        # degenerate top-k (all-equal counts never happens past 1 term,
        # but a 1-term corpus has var_pop 0): NULL, not a thrown division
        F.when(
            F.var_pop("x") != 0,
            F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6),
        ).alias("slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )


def tokenizer_fertility(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Tokenizer fertility per language: corpus-level tokens-per-word
    (regex "BPE-ish" tokens over whitespace words) and chars-per-token —
    the standard multilingual-tokenizer efficiency report (a language
    whose fertility is 2x another's pays 2x the sequence length for the
    same text). Corpus-level ratios (sum/sum, not mean-of-ratios) so short
    documents don't dominate. One scan, one shuffle on the language key."""
    toks = token_counts(df, text_col)
    return (
        toks.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws_tokens").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_bpe_tokens")
                / F.greatest(F.sum("n_ws_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars_computed")
                / F.greatest(F.sum("n_bpe_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.5,
) -> DataFrame:
    """Interpolated bigram language-model score: per document, the mean
    ``ln(lam·P(w2|w1) + (1−lam)·P(w2))`` over its token transitions, with
    both distributions estimated from the corpus itself. One grade above
    ``unigram_logprob`` as a typicality/quality ranking: boilerplate and
    shuffled-word salad share unigram stats but not transitions.

    Shape: ONE explode pass (with positions) feeds the bigram counts, the
    unigram counts, and the scoring join; both vocab aggregates are
    Zipf-small relative to the corpus, the corpus total is a broadcast
    1-row aggregate; transitions join their counts by key (AQE broadcasts
    what fits). Documents with < 2 tokens emit no row (no transitions to score). lam defaults to 0.5
    so the interpolation is an exact binary operation cross-engine."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    pos = df.select(
        F.col(id_col),
        F.posexplode(toks).alias("__i", "w"),
    )
    uni = pos.groupBy("w").agg(F.count(F.lit(1)).alias("__uc"))
    total = pos.agg(F.count(F.lit(1)).alias("__t"))
    bi = pos.alias("p1").join(
        pos.alias("p2"),
        (F.col(f"p1.{id_col}") == F.col(f"p2.{id_col}"))
        & (F.col("p2.__i") == F.col("p1.__i") + 1),
    ).select(
        F.col(f"p1.{id_col}").alias(id_col),
        F.col("p1.w").alias("w1"),
        F.col("p2.w").alias("w2"),
    )
    bvocab = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__bc"))
    p_bi = F.col("__bc") / F.col("__w1c")
    p_uni = F.col("__uc") / F.col("__t")
    w1c = uni.select(
        F.col("w").alias("w1"), F.col("__uc").alias("__w1c")
    )
    return (
        bi.join(bvocab, ["w1", "w2"])
        .join(w1c, "w1")
        .join(uni.select(F.col("w").alias("w2"), "__uc"), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.round(
                F.avg(F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)), 6
            ).alias("avg_bigram_logprob"),
        )
    )


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution
    (nats) — the alphabet-level gibberish/encoding detector: natural
    language sits in a narrow band, base64 blobs and key-mash noise sit
    high, single-character padding sits near zero. Complements the
    token-level quality scores (a doc can have plausible tokens built
    from a broken byte stream).

    One explode to (doc, char) — linear, ~chars rows — one count
    aggregate, and the entropy folds per doc over its ≤|alphabet| rows.
    Character extraction is the engine-portable regex ``[\\s\\S]`` (both
    RE2 and Java regex match every char including newlines)."""
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[\s\S]"), 0)
        ).alias("__ch"),
    )
    counts = chars.groupBy(id_col, "__ch").agg(F.count(F.lit(1)).alias("__c"))
    totals = counts.groupBy(id_col).agg(F.sum("__c").alias("__n"))
    p = F.col("__c") / F.col("__n")
    return (
        counts.join(totals, id_col)
        .groupBy(id_col)
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.first("__n").cast("bigint").alias("n_chars"),
        )
    )


def js_divergence(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence between two corpus slices' unigram
    distributions — the standard bounded-symmetric domain-shift measure
    (0 = identical mix, ln 2 = disjoint vocabularies): is source A's
    language distribution drifting from source B's, should they share a
    sampling temperature, did a scrape change under one of them.

    Exact from counts: one explode scan filtered to the two slices, one
    (slice, term) aggregate, a full-outer term join (zero-filled — a term
    absent from one side contributes only through the other's KL term,
    which is the JS definition, no smoothing hack needed), and the fold
    over the union vocabulary. Returns one row (jsd_nats, n_terms_a,
    n_terms_b, n_terms_union)."""
    words = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(group_col).alias("__g"),
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__t"),
        )
    )
    counts = words.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__c"))
    a = counts.filter(F.col("__g") == group_a).select(
        "__t", F.col("__c").alias("__ca")
    )
    b = counts.filter(F.col("__g") == group_b).select(
        "__t", F.col("__c").alias("__cb")
    )
    na = words.filter(F.col("__g") == group_a).count()
    nb = words.filter(F.col("__g") == group_b).count()
    if na == 0 or nb == 0:
        # a slice with no tokens has no unigram distribution to compare:
        # dividing by its zero total would be an ANSI-mode error, and any
        # numeric JSD would be arbitrary — report NULL with the term
        # counts that ARE defined (round-5 ADVICE)
        return df.sparkSession.createDataFrame(
            [(None, a.count(), b.count(), a.count() + b.count())],
            "jsd_nats double, n_terms_a bigint, n_terms_b bigint, "
            "n_terms_union bigint",
        )
    joined = a.join(b, "__t", "full_outer").select(
        (F.coalesce("__ca", F.lit(0)) / F.lit(float(na))).alias("p"),
        (F.coalesce("__cb", F.lit(0)) / F.lit(float(nb))).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    kl_p = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
    kl_q = F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    return joined.agg(
        F.round(0.5 * F.sum(kl_p) + 0.5 * F.sum(kl_q), 6).alias("jsd_nats"),
        F.sum((F.col("p") > 0).cast("int")).cast("bigint").alias("n_terms_a"),
        F.sum((F.col("q") > 0).cast("int")).cast("bigint").alias("n_terms_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_union"),
    )


def mattr(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 25) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010): mean of
    distinct-token ratios over every ``window``-token sliding slice — the
    lexical-diversity metric whose value does NOT shrink with document
    length (plain TTR does, so it can't compare docs of different sizes;
    ``repetition_scores``' type_token_ratio keeps the raw form for
    Gopher-rule parity).

    Pure row-local array HOFs — slice positions enumerated with
    ``sequence``, each slice reduced with ``array_distinct`` — zero
    shuffles beyond the projection. Docs shorter than ``window`` fall
    back to their plain TTR (the standard convention), flagged by
    ``full_windows = 0``."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    ratios = F.transform(
        F.sequence(F.lit(1), n - window + 1),
        lambda i: F.size(F.array_distinct(F.slice(toks, i, window)))
        / F.lit(float(window)),
    )
    plain_ttr = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    return df.select(
        F.col(id_col),
        F.when(
            n >= window,
            F.round(
                F.aggregate(ratios, F.lit(0.0), lambda acc, x: acc + x)
                / F.size(ratios),
                6,
            ),
        )
        .otherwise(F.round(plain_ttr, 6))
        .alias("mattr"),
        F.when(n >= window, n - window + 1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("full_windows"),
    )


def flesch_reading_ease(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch Reading Ease (Flesch 1948): 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words) — the classic readability score, used in data
    curation as a cheap complexity/difficulty signal for curriculum
    ordering and for flagging degenerate text (word-salad and boilerplate
    both land far outside the prose band).

    Proxies, both standard for at-scale scoring: sentences = terminator
    runs ([.!?]+), floored at 1 so unterminated text counts as one
    sentence; syllables = vowel groups ([aeiouy]+) per word, the
    dictionary-free approximation. Everything is regexp counts in one
    projection — zero shuffles, zero UDFs, and the same counts are
    expressible in any RE2 oracle. Empty/whitespace documents report
    NULL (no words → no readability to speak of; ANSI-safe).

    Returns (id, n_words, n_sentences, n_syllables, flesch)."""
    low = F.lower(F.col(text_col))
    n_words = F.size(whitespace_tokens(low))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syl = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0)))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syl.cast("double") / n_words.cast("double"))
    )
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syl.cast("bigint").alias("n_syllables"),
        F.when(n_words > 0, F.round(flesch, 6)).alias("flesch"),
    )


def script_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document writing-system composition: fractions of characters
    that are ASCII letters, digits, CJK ideographs, whitespace, and
    everything else. The language-ID sanity companion: a document tagged
    ``en`` that is 40% CJK, or a "text" field that is mostly digits, is a
    scrape artifact the n-gram language model scores garbage-in on.

    Character-class counting via ``regexp_replace`` length deltas — one
    codegen projection, no explode, no UDF; the same classes are
    expressible as RE2 character ranges in an oracle. Empty documents
    report zero counts and NULL fractions (ANSI-safe).

    Returns (id, n_chars, frac_letter, frac_digit, frac_cjk, frac_space,
    frac_other)."""
    t = F.col(text_col)
    n = F.length(t)

    def frac(pattern: str):
        kept = n - F.length(F.regexp_replace(t, pattern, ""))
        # + 0.0 canonicalizes a rounded -0.0 to +0.0 in both engines (the
        # round-7 driver red: ROUND of a tiny negative residue emits -0.0
        # in DuckDB but +0.0 under Spark's HALF_UP — numerically equal,
        # byte-hash different). Same pattern as similarity.py
        # top_principal_component.
        return F.when(
            n > 0,
            F.round(kept.cast("double") / n.cast("double"), 6) + F.lit(0.0),
        )

    f_letter = frac(r"[A-Za-z]")
    f_digit = frac(r"[0-9]")
    f_cjk = frac(r"[一-鿿]")
    f_space = frac(r"\s")
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_chars"),
        f_letter.alias("frac_letter"),
        f_digit.alias("frac_digit"),
        f_cjk.alias("frac_cjk"),
        f_space.alias("frac_space"),
        F.when(
            n > 0,
            F.round(
                F.lit(1.0)
                - f_letter
                - f_digit
                - f_cjk
                - f_space,
                6,
            )
            + F.lit(0.0),
        ).alias("frac_other"),
    )


def mojibake_scan(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-artifact scan: per-document counts of U+FFFD replacement
    characters (a decoder already gave up), C0/C1 control characters
    (excluding tab/newline/CR — binary junk in a 'text' field), and the
    classic UTF-8-read-as-Latin-1 mojibake marker 'Ã' (café→cafÃ©). The
    quarantine triage a crawl pipeline runs before any text-quality
    scoring — encoding damage upstream of the tokenizer poisons every
    downstream metric silently.

    Three regexp counts in one codegen projection, zero shuffles/UDFs;
    all three classes are plain RE2 character classes, so the identical
    scan drives an ANSI-SQL oracle. Returns (id, n_replacement,
    n_control, n_mojibake, suspect)."""
    t = F.col(text_col)

    def cnt(pattern: str):
        return F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0))).cast(
            "bigint"
        )

    n_rep = cnt("�")
    n_ctl = cnt(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    n_moj = cnt("Ã")
    return df.select(
        F.col(id_col),
        n_rep.alias("n_replacement"),
        n_ctl.alias("n_control"),
        n_moj.alias("n_mojibake"),
        ((n_rep > 0) | (n_ctl > 0) | (n_moj > 0)).alias("suspect"),
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
    k: int = 50,
) -> DataFrame:
    """Church–Gale term burstiness: tf(t)/df(t) — the mean occurrence
    count of a term WITHIN the documents that contain it. Uniformly
    sprinkled function words score ~1; template/boilerplate/keyword-stuffed
    terms repeat many times inside their documents and score high — the
    cheap detector for terms worth a repetition filter that plain
    frequency ranking buries under stopwords.

    One tokenize pass → per-(doc, term) counts with map-side combine →
    one vocabulary-grain aggregate; the top-``k`` cut is
    ``orderBy().limit()`` (TakeOrderedAndProject — distributed, never a
    global row_number over the vocabulary), ties broken by term for
    determinism. ``min_df`` drops one-document terms whose burstiness is
    just their own tf. Returns (term, tf, df, burstiness)."""
    words = df.select(
        F.col(id_col).alias("__id"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    per_doc = words.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__c"))
    stats = per_doc.groupBy("__t").agg(
        F.sum("__c").cast("bigint").alias("tf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .select(
            F.col("__t").alias("term"),
            "tf",
            "df",
            F.round(F.col("tf") / F.col("df").cast("double"), 6).alias(
                "burstiness"
            ),
        )
        .orderBy(F.col("burstiness").desc(), F.col("term"))
        .limit(k)
    )


def ngram_coverage(
    df: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k n-gram mass coverage: what fraction of ALL n-gram occurrences
    the k most frequent n-grams account for. The one-number boilerplate
    dial — natural prose puts a few percent of its bigram mass in the
    top-100; template farms and scraped navigation push it toward 1 —
    complementing per-document repetition scores with the CORPUS-level
    view that decides whether a source needs passage-dedup at all.

    One positional explode (occurrences, not distinct) → one vocabulary
    aggregate; the top-k cut is orderBy().limit() with (count desc,
    ngram) determinism, and the coverage fold runs over the k survivor
    rows. Returns one row (n_occurrences, n_distinct, topk_coverage)."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    grams = df.select(
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__g")
    )
    counts = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__c"))
    totals = counts.agg(
        F.sum("__c").cast("bigint").alias("n_occurrences"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    top = (
        counts.orderBy(F.col("__c").desc(), F.col("__g"))
        .limit(k)
        .agg(F.sum("__c").alias("__topk"))
    )
    return totals.crossJoin(F.broadcast(top)).select(
        "n_occurrences",
        "n_distinct",
        F.round(
            F.col("__topk") / F.col("n_occurrences").cast("double"), 6
        ).alias("topk_coverage"),
    )


def pmi_pairs(
    df: DataFrame,
    min_support: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over document
    co-occurrence: PMI(a, b) = ln(N·df(a,b) / (df(a)·df(b))) for term
    pairs appearing together in ≥ ``min_support`` documents. The
    collocation extractor (multi-word entities, domain phrases) whose
    output seeds phrase-aware tokenization — raw co-occurrence counts
    rank stopword pairs first; PMI surfaces the pairs that are GLUED, not
    merely common.

    One tokenize pass to the distinct (doc, term) frame; the pair join is
    per-document (quadratic in a document's distinct vocabulary — bounded
    by document length, never corpus size); document frequencies join
    back from the vocabulary aggregate; top-k by (rounded PMI desc, pair)
    via orderBy().limit(). Returns (t1, t2, n_pairs, pmi)."""
    dt = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
        ).alias("__t"),
    )
    n_docs = df.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    dfreq = dt.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    a = dt.select("__id", F.col("__t").alias("t1"))
    b = dt.select("__id", F.col("__t").alias("t2"))
    co = (
        a.join(b, "__id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_support)
    )
    d1 = dfreq.select(F.col("__t").alias("t1"), F.col("__df").alias("__d1"))
    d2 = dfreq.select(F.col("__t").alias("t2"), F.col("__df").alias("__d2"))
    scored = (
        co.join(d1, "t1")
        .join(d2, "t2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t1",
            "t2",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(
                F.log(
                    F.col("__n")
                    * F.col("n_pairs")
                    / (F.col("__d1") * F.col("__d2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("t1"), F.col("t2")
    ).limit(k)


def weighted_log_odds(
    df: DataFrame,
    label_col: str,
    target: str,
    text_col: str = "text",
    a0: int = 100,
    k: int = 15,
) -> DataFrame:
    """Weighted log-odds-ratio with informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008, "Fightin' Words") — WHICH terms distinguish
    the target class from the rest of the corpus, with the two failure
    modes of the naive alternatives fixed: raw log-odds explodes on rare
    terms, plain frequency difference is dominated by stopwords. The
    corpus-wide term distribution is the prior (alpha_t = a0*y_t/n), so
    a term needs evidence PROPORTIONAL to its overall rate to score, and
    the z-standardization (delta / sqrt(1/(y_kt+a_t) + 1/(y_rt+a_t)))
    downweights low-count noise.

    Cross-engine determinism: every count is an exact integer, alpha_t
    is one IEEE division, and the delta/variance expressions keep an
    identical association order to their SQL mirror, so only the final
    ln/sqrt differ in the last ulp (absorbed by rounding). Top-k is
    ordered by the ROUNDED |z| with the term as tiebreak, so the cut is
    reproducible; the plan is one tokenize pass, one term aggregate, a
    1-row total broadcast, and a TakeOrderedAndProject."""
    tokens = df.select(
        (F.col(label_col) == target).cast("int").alias("__ink"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__w"),
    )
    tc = tokens.groupBy("__w").agg(
        F.sum("__ink").alias("__yk"), F.count(F.lit(1)).alias("__yt")
    )
    tot = tc.agg(F.sum("__yk").alias("__nk"), F.sum("__yt").alias("__n"))
    yk = F.col("__yk")
    yr = F.col("__yt") - F.col("__yk")
    nk = F.col("__nk")
    nr = F.col("__n") - F.col("__nk")
    alpha = (F.lit(a0) * F.col("__yt")) / F.col("__n")
    delta = F.log((yk + alpha) / ((nk + F.lit(a0) - yk) - alpha)) - F.log(
        (yr + alpha) / ((nr + F.lit(a0) - yr) - alpha)
    )
    var = F.lit(1) / (yk + alpha) + F.lit(1) / (yr + alpha)
    z = delta / F.sqrt(var)
    scored = tc.crossJoin(F.broadcast(tot)).select(
        F.col("__w").alias("term"),
        yk.cast("bigint").alias("y_target"),
        yr.cast("bigint").alias("y_rest"),
        F.round(z, 6).alias("zscore"),
        F.round(F.abs(z), 6).alias("__az"),
    )
    return (
        scored.orderBy(F.col("__az").desc(), F.col("term"))
        .limit(k)
        .drop("__az")
    )


def good_turing_mass(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Good-Turing missing-mass estimate (Good, Biometrika 1953) from the
    corpus frequency-of-frequencies: the probability that the NEXT token
    drawn is a type never seen in this corpus is ``p_unseen = N1/N``
    (hapax count over token count), and the Turing-discounted effective
    count for once-seen types is ``r*_1 = 2*N2/N1``. The corpus-coverage
    question the vocabulary profiles (zipf_slope, ngram_coverage) don't
    answer: "how much of the source DISTRIBUTION has this crawl actually
    captured?" — a high unseen mass says the corpus is still
    vocabulary-starved and another crawl round adds real coverage; near
    zero says new data mostly repeats known types.

    Two bounded folds after the one tokenize pass: term counts, then the
    frequency-of-frequencies histogram collapsed to (N1, N2, V, N) —
    every statistic an exact integer, the two ratios single IEEE
    divisions rounded to 6, so the row is bit-identical cross-engine.
    Returns one row (total_tokens, vocab_size, hapax_terms, dis_terms,
    p_unseen, r_star_1)."""
    counts = (
        df.select(
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return counts.agg(
        F.sum("__c").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum((F.col("__c") == 1).cast("int")).cast("bigint").alias("hapax_terms"),
        F.sum((F.col("__c") == 2).cast("int")).cast("bigint").alias("dis_terms"),
        F.round(
            F.sum((F.col("__c") == 1).cast("int")) / F.sum("__c"), 6
        ).alias("p_unseen"),
        F.when(
            F.sum((F.col("__c") == 1).cast("int")) > 0,
            F.round(
                F.lit(2.0)
                * F.sum((F.col("__c") == 2).cast("int"))
                / F.sum((F.col("__c") == 1).cast("int")),
                6,
            ),
        ).alias("r_star_1"),
    )


def hill_tail_index(
    df: DataFrame, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Hill estimator of the power-law tail index of the term-frequency
    distribution (Hill, Annals of Statistics 1975): over the k largest
    term counts x_1 >= ... >= x_k and the (k+1)-th count x_{k+1},
    gamma = (1/k) * sum ln(x_i / x_{k+1}) and alpha = 1/gamma. The
    heavy-tail diagnostic the text family lacked: Zipf-ish corpora have
    alpha near 1; a crawl whose head is boilerplate-inflated (alpha
    drops, head too heavy) or template-stripped (alpha rises) shifts
    measurably before any downstream quality score moves.

    Shape: one explode scan to the Zipf-small term histogram, a
    TakeOrderedAndProject of k+1 rows (count desc, term asc tiebreak —
    tied boundary counts give the same x_{k+1} VALUE either way, so the
    estimate is deterministic), and a k-row fold. Degenerate tails
    (x_i = x_{k+1} for all i, gamma = 0) report NULL alpha; a vocabulary
    of k or fewer terms has no (k+1)-th order statistic and reports NULL
    x_tail/gamma/alpha. Returns one row (k, x_tail, hill_gamma,
    hill_alpha)."""
    from pyspark.sql import Window

    counts = (
        df.select(
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__t")
        )
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    top = counts.orderBy(F.col("__c").desc(), F.col("__t").asc()).limit(k + 1)
    w = Window.orderBy(F.col("__c").desc(), F.col("__t").asc())
    ranked = top.select(
        F.col("__c"), F.row_number().over(w).alias("__r")
    )
    boundary = ranked.filter(F.col("__r") == k + 1).select(
        F.col("__c").alias("__xk1")
    )
    gamma = F.sum(
        F.log(F.col("__c").cast("double") / F.col("__xk1").cast("double"))
    ) / F.lit(float(k))
    return (
        ranked.filter(F.col("__r") <= k)
        .crossJoin(F.broadcast(boundary))
        .agg(
            F.lit(k).cast("bigint").alias("k"),
            F.max("__xk1").cast("bigint").alias("x_tail"),
            F.round(gamma, 6).alias("hill_gamma"),
            F.when(gamma > 0, F.round(F.lit(1.0) / gamma, 6)).alias(
                "hill_alpha"
            ),
        )
    )


def segmental_ttr(
    df: DataFrame,
    segment_len: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean segmental type-token ratio (MSTTR; Johnson 1944) — lexical
    diversity that raw TTR cannot give: TTR falls mechanically with
    document length (types saturate while tokens grow), so corpus-level
    TTR mostly measures length mix. MSTTR cuts each document into
    consecutive ``segment_len``-token segments, takes each FULL
    segment's distinct/total ratio, and averages — a length-controlled
    diversity score that actually flags template spam (low MSTTR at any
    length) vs varied prose.

    Shape: one posexplode scan to (doc, segment, term) — segment id is
    position DIV segment_len, a pure projection — then a two-level
    aggregate (per-segment exact distinct counts, then the mean over
    segments). Partial trailing segments are DISCARDED per the MSTTR
    definition (their inflated TTR is the length artifact being
    controlled away). Returns one row (n_docs, n_segments, msttr,
    raw_ttr) with raw corpus TTR alongside for the contrast."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(whitespace_tokens(F.lower(F.col(text_col)))).alias(
            "__pos", "__t"
        ),
    ).select(
        F.col(id_col).alias("__doc"),
        (F.col("__pos") / segment_len).cast("bigint").alias("__seg"),
        F.col("__t"),
    )
    per_seg = toks.groupBy("__doc", "__seg").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("__t")).alias("__d"),
    )
    full = per_seg.filter(F.col("__n") == segment_len)
    overall = toks.agg(
        F.count(F.lit(1)).alias("__nt"),
        F.count_distinct(F.col("__t")).alias("__dt"),
    )
    return full.agg(
        F.count_distinct(F.col("__doc")).cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.round(
            F.avg(F.col("__d").cast("double") / F.lit(float(segment_len))), 6
        ).alias("msttr"),
    ).crossJoin(F.broadcast(overall)).select(
        "n_docs",
        "n_segments",
        "msttr",
        # a token-free corpus has no TTR (0/0 is an ANSI error, not a 0)
        F.when(
            F.col("__nt") > 0,
            F.round(
                F.col("__dt").cast("double") / F.col("__nt").cast("double"),
                6,
            ),
        ).alias("raw_ttr"),
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney,
    ICASSP 1995; Chen & Goodman 1998) — the standard LM smoothing the
    n-gram family lacked: ``good_turing_mass`` redistributes mass by
    COUNT-of-counts and ``bigram_logprob`` interpolates with the raw
    unigram, but KN's continuation probability P_cont(w2) =
    N1+(·,w2)/|bigram types| asks "how many contexts does w2 COMPLETE",
    which is what separates genuinely productive words from ones frozen
    inside boilerplate collocations ("Francisco" is frequent but follows
    only "San" — raw-unigram backoff overweights it, KN does not).

    P_KN(w2|w1) = max(c(w1,w2)−D, 0)/c(w1)
                  + ((D·N1+(w1,·))/c(w1)) · (N1+(·,w2)/T).

    Shape: bigrams are built ROW-LOCALLY (an index transform over the
    token array — no position self-join, unlike bigram_logprob's
    deliberately join-shaped variant) and every KN quantity folds from
    the Zipf-small bigram-type frame; T is a broadcast 1-row aggregate.
    D = 0.75 is exactly representable, so the per-type probability is a
    fixed-order IEEE expression identical cross-engine; the top-k cut
    compares those bit-identical doubles with (w1, w2) tie-breaks via
    one distributed TakeOrderedAndProject.

    Returns the k highest-probability bigram types
    (w1, w2, c12, pkn)."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    pairs = (
        df.withColumn("__tk", toks)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(__tk, 1, greatest(size(__tk) - 1, 0)),"
                    " (x, i) -> struct(x AS w1, element_at(__tk, i + 2) AS w2))"
                )
            ).alias("__bg")
        )
        .select(F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    c1 = bc.groupBy("w1").agg(
        F.sum("__c12").alias("__c1"),
        F.count(F.lit(1)).alias("__nf"),  # N1+(w1, ·)
    )
    nb = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("__nb"))  # N1+(·, w2)
    tt = bc.agg(F.count(F.lit(1)).alias("__t"))
    d = F.lit(discount)
    pkn = (
        F.greatest(F.col("__c12").cast("double") - d, F.lit(0.0))
        / F.col("__c1").cast("double")
        + (
            (d * F.col("__nf").cast("double"))
            / F.col("__c1").cast("double")
        )
        * (F.col("__nb").cast("double") / F.col("__t").cast("double"))
    )
    return (
        bc.join(c1, "w1")
        .join(nb, "w2")
        .crossJoin(F.broadcast(tt))
        .withColumn("__pkn", pkn)
        .orderBy(F.col("__pkn").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
        .select(
            "w1",
            "w2",
            F.col("__c12").cast("bigint").alias("c12"),
            F.round("__pkn", 6).alias("pkn"),
        )
    )


def yule_k(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Yule's characteristic K (Yule, "The Statistical Study of Literary
    Vocabulary", 1944; Tweedie & Baayen, Computers and the Humanities
    1998): K = 10⁴ · (Σ_m m²·V_m − N) / N², computed from the frequency
    SPECTRUM V_m (how many types occur exactly m times). K is the
    classical repeat-rate measure of lexical richness that — unlike raw
    TTR — is approximately length-invariant, so it is comparable across
    corpus slices of very different sizes (the text_sttr_diversity
    docstring's length confound, solved analytically instead of by
    segmenting).

    Scale shape: tokens collapse to (group, term) counts in one pass,
    those collapse to the Zipf-small (group, m) spectrum, and K is a
    bounded per-group fold. m²·V_m is accumulated as DECIMAL(38,0)
    (m can reach the token count, whose square overflows int64); the
    division happens once per group in double space. Groups whose
    documents produce zero tokens have no spectrum rows and are absent
    from the output (the oracle mirrors: no token rows, no group)."""
    toks = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    tf = toks.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__m"))
    spec = tf.groupBy("__g", "__m").agg(F.count(F.lit(1)).alias("__vm"))
    a = spec.groupBy("__g").agg(
        F.sum(F.col("__m") * F.col("__vm")).cast("bigint").alias("n_tokens"),
        F.sum("__vm").cast("bigint").alias("n_types"),
        F.sum(
            F.col("__m").cast("decimal(38,0)") * F.col("__m") * F.col("__vm")
        )
        .cast("double")
        .alias("__s2"),
    )
    nd = F.col("n_tokens").cast("double")
    return a.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "n_types",
        F.round(F.lit(10000.0) * (F.col("__s2") - nd) / (nd * nd), 6).alias(
            "yule_k"
        ),
    )


def heaps_law(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (Heaps, "Information
    Retrieval: Computational and Theoretical Aspects", 1978; Herdan
    1960): V(N) ≈ K·N^β, estimated by OLS on (ln N_b, ln V_b) over
    ``n_buckets`` checkpoints of the corpus in ``id_col`` order. β well
    below ~0.8 says the vocabulary is saturating (heavy duplication /
    template text); β near 1 says near-linear novelty — a one-row
    corpus-health signal for an ingest monitor deciding whether another
    crawl increment still adds vocabulary.

    The at-scale trick is that the growth CURVE needs no ordered scan:
    bucket b of a doc is integer arithmetic on its id against the
    broadcast (min, max) frame; cumulative tokens per bucket come from
    the bucket totals, and cumulative vocabulary at bucket b is the
    count of types whose FIRST bucket (min over one groupBy) is ≤ b —
    so the corpus is read exactly THREE times, all column-pruned: once
    for the (min, max) id range (id only), then twice through the
    tokenizer (bucket totals + first-occurrence). The tokenized frame
    is deliberately NOT pinned: it is token-grain (larger than the
    corpus), so re-tokenizing beats materializing it to executor disk
    at scale — the opposite trade from the bounded moment frames that
    calinski_harabasz/brown_forsythe pin. Everything after is a
    ≤ n_buckets-row frame, where the single-partition cumulative window
    and the OLS fold are bounded by construction. Log terms are
    9-dp-rounded DECIMAL(38,9) sums.

    Caller contract: the id column must be a dense-ish integer key —
    the bucket expression ``n_buckets·(id − min)`` is int64, so the id
    SPAN must stay below 2^63/n_buckets (~2.9e17 at the default 32
    buckets); 64-bit hash-style ids are out of contract (bucket them
    through a narrower surrogate first)."""
    from pyspark.sql import Window

    ids = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__tx")
    )
    rng = ids.agg(
        F.min("__id").alias("__lo"), F.max("__id").alias("__hi")
    )
    bucketed = ids.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST({n_buckets}L * (__id - __lo) DIV (__hi - __lo + 1) AS BIGINT)"
        ).alias("__b"),
        "__tx",
    )
    toks = bucketed.select(
        "__b", F.explode(whitespace_tokens(F.lower(F.col("__tx")))).alias("__t")
    )
    per_bucket = toks.groupBy("__b").agg(F.count(F.lit(1)).alias("__nt"))
    first_b = toks.groupBy("__t").agg(F.min("__b").alias("__fb"))
    new_types = first_b.groupBy(F.col("__fb").alias("__b")).agg(
        F.count(F.lit(1)).alias("__nv")
    )
    cum = (
        per_bucket.join(new_types, "__b", "full_outer")
        .select(
            "__b",
            F.coalesce("__nt", F.lit(0)).alias("__nt"),
            F.coalesce("__nv", F.lit(0)).alias("__nv"),
        )
        .select(
            "__b",
            F.sum("__nt")
            .over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("__cn"),
            F.sum("__nv")
            .over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("__cv"),
        )
    )
    pts = cum.filter((F.col("__cn") > 0) & (F.col("__cv") > 0)).select(
        F.log(F.col("__cn").cast("double")).alias("__x"),
        F.log(F.col("__cv").cast("double")).alias("__y"),
        "__cn",
        "__cv",
    )
    dsum = lambda c: F.sum(F.round(c, 9).cast("decimal(38,9)")).cast("double")
    a = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.max("__cn").cast("bigint").alias("n_tokens"),
        F.max("__cv").cast("bigint").alias("n_types"),
        dsum(F.col("__x")).alias("__sx"),
        dsum(F.col("__y")).alias("__sy"),
        dsum(F.col("__x") * F.col("__y")).alias("__sxy"),
        dsum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    np_ = F.col("n_points").cast("double")
    den = np_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    beta = (np_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    return a.select(
        "n_points",
        "n_tokens",
        "n_types",
        F.when(den > 1e-12, F.round(beta, 6)).alias("beta"),
        F.when(
            den > 1e-12,
            F.round(F.exp((F.col("__sy") - beta * F.col("__sx")) / np_), 6),
        ).alias("heaps_k"),
    )


def burrows_delta(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    m: int = 50,
) -> DataFrame:
    """Burrows' Delta stylistic distance between groups (Burrows,
    "'Delta': a measure of stylistic difference and a guide to likely
    authorship", LLC 2002; Evert et al. 2017 for the standardization
    form): over the corpus-wide top-``m`` terms, z-score each group's
    relative term frequency against the across-group mean/std, then
    Delta(s₁, s₂) = mean_t |z₁t − z₂t|. The pairwise "who writes like
    whom" matrix over sources — the stylometric complement of
    weighted_log_odds (which contrasts ONE pair on raw counts; Delta
    standardizes every term across ALL groups so high-frequency function
    words can't dominate) — and, for a training-data pipeline, the
    source-similarity signal for mixture design and leakage triage.

    Scale shape: one tokenize pass collapses the corpus to the (group,
    term) count frame; the top-``m`` vocabulary is a
    TakeOrderedAndProject (count desc, term asc — deterministic), never
    a global sort; the z-score stage densifies groups × top terms (a
    bounded #groups·m frame) so a group MISSING a term contributes
    f = 0 rather than silently dropping out of the mean; the output
    pair matrix is #groups² rows. Terms with zero across-group variance
    are dropped from every pair (|z−z| would be 0/0). Exactness:
    relative frequencies are 9-dp-quantized before the mean/std folds
    (DECIMAL(38,9) sums), z's and the final mean fold the same way —
    both engines see identical quantities. Returns (group_a, group_b,
    n_terms_used, delta) for group_a < group_b; if NO term survives the
    variance cut (e.g. every group has identical text) the output is
    empty — there is no distance to report."""
    toks = (
        df.filter(F.col(group_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias(
                "__t"
            ),
        )
    )
    gt = (
        toks.groupBy("__g", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)  # feeds vocab, totals, and the join
    )
    top = (
        gt.groupBy("__t")
        .agg(F.sum("__c").alias("__tc"))
        .orderBy(F.col("__tc").desc(), F.col("__t"))
        .limit(m)
        .select("__t")
    )
    gtot = gt.groupBy("__g").agg(F.sum("__c").alias("__gn"))
    dense = gtot.crossJoin(F.broadcast(top))
    freq = dense.join(gt, ["__g", "__t"], "left").select(
        "__g",
        "__t",
        F.round(
            F.coalesce(F.col("__c"), F.lit(0)).cast("double")
            / F.col("__gn").cast("double"),
            9,
        ).alias("__f"),
    )
    dsum = lambda c: F.sum(F.round(c, 9).cast("decimal(38,9)")).cast("double")
    stats = freq.groupBy("__t").agg(
        (dsum(F.col("__f")) / F.count(F.lit(1))).alias("__mu"),
        F.count(F.lit(1)).alias("__k"),
        dsum(F.col("__f") * F.col("__f")).alias("__ss"),
    )
    # population std over the group set; zero-variance terms dropped.
    # Guard on the VARIANCE before the sqrt: a term with identical 9-dp
    # frequency in every group can land at ss/k − mu² ≈ −1e-18 in float,
    # where sqrt is NaN in Spark (NaN > threshold is TRUE — the term
    # would silently survive) and an error in DuckDB
    var = F.col("__ss") / F.col("__k") - F.col("__mu") * F.col("__mu")
    sd = F.sqrt(var)
    zed = (
        freq.join(F.broadcast(stats), "__t")
        .filter(var > 1e-24)
        .select(
            "__g",
            "__t",
            F.round((F.col("__f") - F.col("__mu")) / sd, 9).alias("__z"),
        )
        .localCheckpoint(eager=False)  # feeds both sides of the pair join
    )
    a = zed.select(
        F.col("__g").alias("group_a"), "__t", F.col("__z").alias("__z1")
    )
    b = zed.select(
        F.col("__g").alias("group_b"), "__t", F.col("__z").alias("__z2")
    )
    pairs = a.join(b, "__t").filter(F.col("group_a") < F.col("group_b"))
    return (
        pairs.groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_used"),
            F.round(
                dsum(F.abs(F.col("__z1") - F.col("__z2")))
                / F.count(F.lit(1)),
                6,
            ).alias("delta"),
        )
    )
