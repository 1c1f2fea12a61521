"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All built-in-function compositions (JVM-side, whole-stage-codegen'd); the
formulas are deterministic so every one of them is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID. Deliberately small and deterministic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "de"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (LineReader/Text-style: bytes in, tokens out)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# GPT-2-style pre-tokenizer pieces (the public BPE split regex, ASCII
# form): contraction suffixes, space-prefixed letter runs, space-prefixed
# digit runs, space-prefixed punctuation runs. Each match ≈ one BPE merge
# seed, so the match count is the standard cheap token-budget estimator.
BPE_SPLIT_REGEX = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token estimate: count of GPT-2 pre-tokenizer pieces
    (regexp_count is codegen'd JVM regex — no UDF). Estimates the token
    budget a real BPE would produce to within the merge factor; exact
    piece counting, deterministic, DuckDB-mirrorable
    (len(regexp_extract_all(...)))."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_REGEX))


def _round6(x: Column) -> Column:
    """Round a non-negative double to 6 decimals the way the DuckDB oracle
    does (``round(x, 6)``: half away from zero on the double ``x * 1e6``).

    Spark's ``round`` rounds the double's decimal string instead, and the
    two disagree on some 6-decimal ties: the double nearest 1371/3200 =
    0.4284375 is 0.42843749999999997, which Spark rounds to 0.428437, while
    its product with 1e6 is 428437.5 and DuckDB gives 0.428438. Neither
    rounds every tie of the exact ratio half-up (DuckDB turns 577/640 =
    0.9015625 into 0.901562), so this follows the oracle's arithmetic."""
    y = x * F.lit(1e6)
    k = F.floor(y)
    return (k + F.when(y - k >= F.lit(0.5), F.lit(1)).otherwise(F.lit(0))) / F.lit(1e6)


def _stats_exprs(text: Column) -> list[Column]:
    """The doc_stats output expressions (aliased), reusable in any select."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"]", ""))
    n_space = F.length(F.regexp_replace(text, r"[^ ]", ""))
    avg_token_len = F.when(n_tokens > 0, (n_chars - n_space).cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    # quality: long-enough, mostly-alphabetic, lightly-punctuated text
    quality = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + alpha_ratio * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.1)
    )
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        token_count_bpe(text).alias("n_tokens_bpe"),
        _round6(avg_token_len).alias("avg_token_len"),
        _round6(alpha_ratio).alias("alpha_ratio"),
        _round6(punct_ratio).alias("punct_ratio"),
        _round6(quality).alias("quality"),
    ]


def doc_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[Column] | None = None,
) -> DataFrame:
    """Per-document quality stats: token count, char classes, ratios, and a
    deterministic quality score. Everything codegen-able, zero shuffles.
    `extra_cols` fuses caller expressions into the same scan."""
    return df.select(
        F.col(id_col), *_stats_exprs(F.col(text_col)), *(extra_cols or [])
    )


def _stopword_hits(text: Column, words: list[str]) -> Column:
    """Occurrences of any of `words` as whole tokens in lowercased text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    total = F.lit(0)
    for w in words:
        # count of " w " occurrences: non-overlapping thanks to the split
        total = total + F.size(F.split(padded, rf"\s{w}\s")) - F.lit(1)
    return total


def _profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    include_stats: bool,
    extra_cols: Sequence[Column] | None = None,
) -> DataFrame:
    """Shared language-ID (+ optional quality-stats) projection: argmax
    over per-language whole-token stopword hit counts; 'und' when no list
    scores > 0. Ties resolved by language code order — deterministic.
    Single scan, zero shuffles. `extra_cols` lets callers fuse more
    per-row expressions into the same projection instead of paying a
    self-join to widen the result later."""
    text = F.col(text_col)
    langs = sorted(STOPWORDS)
    scores = [
        _stopword_hits(text, STOPWORDS[l]).alias(f"score_{l}") for l in langs
    ]
    stats = _stats_exprs(text) if include_stats else []
    stage1 = df.select(F.col(id_col), *stats, *scores, *(extra_cols or []))
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for l in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"score_{l}") == best), F.lit(l)
        ).otherwise(pred)
    keep = [c for c in stage1.columns if c != id_col]
    return stage1.select(id_col, *keep, pred.alias("pred_lang"))


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-profile language ID (see _profile)."""
    return _profile(df, text_col, id_col, include_stats=False)


def doc_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[Column] | None = None,
) -> DataFrame:
    """doc_stats + language_id in ONE projection — a single scan, still
    pure codegen built-ins, zero shuffles. The per-document profile a
    training-data pipeline computes in one pass. `extra_cols` fuses
    caller expressions (digests, string features) into the same scan."""
    return _profile(df, text_col, id_col, include_stats=True, extra_cols=extra_cols)


# PII span patterns, ordered: URL before email (a URL may embed an
# '@'), email before phone (digits in mailbox names must not become
# phone fragments). ASCII-class regexes only, valid in both Java regex
# and RE2 so the DuckDB oracle and Python `re` ground truth can run the
# exact same patterns.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3,4}[-. ][0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(text: Column, kinds: Sequence[str] | None = None) -> Column:
    """Replace PII spans with typed placeholders — the scrubbing stage of
    a training-data pipeline. A chain of codegen'd regexp_replace calls
    (one scan each, zero shuffles, no UDF); order is load-bearing, see
    PII_PATTERNS."""
    out = text
    for kind, pattern, token in PII_PATTERNS:
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> list[Column]:
    """Per-kind PII span counts (audit columns), aliased n_pii_{kind}."""
    return [
        F.regexp_count(text, F.lit(pattern)).alias(f"n_pii_{kind}")
        for kind, pattern, _ in PII_PATTERNS
    ]


def normalize_text(text: Column, lowercase: bool = True) -> Column:
    """Canonical whitespace/case normalization: collapse all whitespace
    runs to single spaces, trim, optionally lowercase. The usual prelude
    to hashing/shingling so formatting differences don't defeat dedup."""
    out = F.trim(F.regexp_replace(text, r"\s+", " "))
    return F.lower(out) if lowercase else out


def fingerprint(text: Column, window: int = 8) -> Column:
    """Rolling-hash document fingerprint (winnowing-lite): min xxhash64
    over character n-grams of the normalized text — a single stable
    64-bit id robust to leading/trailing noise."""
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    n = F.length(norm) - F.lit(window - 1)
    grams = F.when(n <= 0, F.array(norm)).otherwise(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, window)
        )
    )
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


def tokenize_words(text: Column) -> Column:
    """Lowercased word tokens (split on non-alphanumeric runs, empties
    dropped) — the shared tokenizer for tf_idf / decontamination, chosen
    because every ANSI engine can reproduce it (regexp split + filter)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: the classic corpus-keyword
    operator (search indexing, topic tagging, quality filtering).

    Shape at scale: tokenize + explode (narrow), one groupBy
    (doc, term) shuffle for term frequencies, one groupBy (term) for
    document frequencies — the DF table is |vocab|-sized and joined back
    by term (AQE broadcasts it when small). The (doc, term) table is
    eagerly localCheckpointed: dfreq and the final join both read it,
    and column pruning makes the two subtrees canonicalize differently,
    so without the cut Spark re-runs the corpus tokenize+shuffle per
    reference (no ReuseExchange). N is carried in-plan as a broadcast
    one-row aggregate (single-plan rule: no mid-plan driver action).
    Smooth idf = ln(N/df), raw tf (no length normalization) keeps the
    oracle exact in integer+ln arithmetic. Ties break lexicographically
    for determinism.
    """
    n_docs = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )  # one-row: corpus cardinality, count-only column-pruned scan
    terms = df.select(
        F.col(id_col),
        F.explode(tokenize_words(F.col(text_col))).alias("term"),
    )
    tf = (
        terms.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= top_k)
    )


def decontaminate(
    corpus: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Train/test DECONTAMINATION: flag training docs sharing ≥min_hits
    distinct word n-grams with a held-out evaluation set — the standard
    contamination scrub every LLM data pipeline runs before training.

    Shape at scale: both sides explode to (doc, ngram) with distinct
    n-grams per doc; the heldout n-gram set is corpus-independent and
    small (eval sets are thousands of docs), so the join is a broadcast
    semi-ish join on the ngram hash; one groupBy counts hits per training
    doc. Long n-grams (default 8 words) make coincidental overlap
    vanishingly rare — hits mean real leakage.

    Returns (id, n_hits) for CONTAMINATED docs; anti-join the result
    against the corpus to scrub.
    """

    def ngrams(df: DataFrame, keep_id: bool):
        toks = df.select(
            *([F.col(id_col)] if keep_id else []),
            tokenize_words(F.col(text_col)).alias("__t"),
        )
        # sliding word windows -> space-joined n-gram strings (guard:
        # sequence(0, stop) with stop < 0 would generate DESCENDING values,
        # so short docs get an explicit empty array instead)
        windows = F.transform(
            F.sequence(F.lit(0), F.size("__t") - ngram_n),
            lambda i: F.array_join(F.slice("__t", i + 1, ngram_n), " "),
        )
        expr = F.when(F.size("__t") >= ngram_n, windows).otherwise(
            F.array().cast("array<string>")
        )
        cols = [F.col(id_col)] if keep_id else []
        return toks.select(*cols, F.explode(expr).alias("ngram")).distinct()

    train_grams = ngrams(corpus, keep_id=True)
    held_grams = F.broadcast(ngrams(heldout, keep_id=False))
    return (
        train_grams.join(held_grams, "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_distinct_ratio: float = 0.35,
    max_top_word_frac: float = 0.15,
    max_dup_3gram_frac: float = 0.05,
) -> DataFrame:
    """Gopher-style per-document repetition/quality metrics (Rae et al.
    2021 §A.1.1, public): distinct-word ratio, most-frequent-word
    fraction, duplicated-3-gram fraction, mean word length, plus a
    combined keep flag. The standard pre-training repetition scrub.

    Shape at scale: n-gram metrics are PER-ROW array ops (split +
    transform + array_distinct — whole-stage codegen, zero shuffle,
    linear in doc length); word metrics need the per-(doc,word) counts,
    which is explode + two-level groupBy with map-side partial
    aggregation (shuffle carries word-count pairs, not text). The two
    sides meet in one equi-join on the id — both already hash-partitioned
    by it after their aggs. No Python UDFs anywhere.
    """
    ws = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = (
        df.select(F.col(id_col), ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            id_col,
            "ws",
            (F.size("ws") - 2).alias("n_grams"),
            F.size(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(ws)-3),"
                        " i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"
                    )
                )
            ).alias("nd_grams"),
        )
    )
    wc = (
        base.select(id_col, F.explode("ws").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wstats = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
        F.sum(F.col("c") * F.length("w")).alias("sum_len"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_words")
    top_frac = F.col("top_cnt") / F.col("n_words")
    dup3 = 1 - F.col("nd_grams") / F.col("n_grams")
    return (
        base.drop("ws")
        .join(wstats, id_col)
        .select(
            id_col,
            F.col("n_words").cast("long").alias("n_words"),
            F.round(distinct_ratio, 6).alias("distinct_word_ratio"),
            F.round(top_frac, 6).alias("top_word_frac"),
            F.round(dup3, 6).alias("dup_3gram_frac"),
            F.round(F.col("sum_len") / F.col("n_words"), 6).alias("mean_word_len"),
            (
                (distinct_ratio >= min_distinct_ratio)
                & (top_frac <= max_top_word_frac)
                & (dup3 <= max_dup_3gram_frac)
            )
            .cast("int")
            .alias("keep"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
    max_boiler_frac: float = 0.5,
) -> DataFrame:
    """Corpus-level boilerplate detection (CCNet-style, Wenzek et al.
    2020, public — shared headers/footers/templates): a word n-gram
    appearing in >= min_df DISTINCT documents is boilerplate; each doc is
    scored by the fraction of its distinct n-grams that are boilerplate.

    Shape at scale: per-row gram arrays (codegen) → explode DISTINCT
    (doc, gram) pairs → groupBy(gram) for document frequency (map-side
    partials; the gram table is vocabulary-sized, far smaller than the
    corpus) → one equi-join back on gram → per-doc count agg. The join
    fans out exactly df times per boilerplate gram — skew is bounded by
    the very quantity being measured, and AQE's skew-join split covers
    pathological templates. No driver collect, no UDF.
    """
    ws = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    grams = (
        df.select(F.col(id_col), ws.alias("ws"))
        .filter(F.size("ws") >= n)
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(ws)-{n}),"
                        f" i -> concat_ws(' ', {', '.join(f'ws[i+{j}]' for j in range(n))}))"
                    )
                )
            ).alias("gram"),
        )
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    boiler = dfreq.filter(F.col("df") >= min_df).select("gram")
    scored = (
        grams.join(boiler.withColumn("is_boiler", F.lit(1)), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).alias("n_boiler"),
        )
    )
    frac = F.col("n_boiler") / F.col("n_grams")
    return scored.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        F.round(frac, 6).alias("boiler_frac"),
        (frac <= max_boiler_frac).cast("int").alias("keep"),
    )


def perplexity_score(
    corpus: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020, public):
    score every document by the perplexity of an add-one-smoothed
    BIGRAM model trained on a reference corpus — low perplexity ≈
    looks like the clean reference, high ≈ noise. The real pipeline
    uses KenLM; the bigram model keeps the same semantics while every
    count and logarithm stays ANSI-SQL-reproducible.

    logp(w2|w1) = ln((c(w1,w2) + 1) / (c(w1) + V)),
    ppl(doc) = exp(-avg logp over its bigrams).

    Shape at scale: training is two groupBys over the reference corpus
    (vocab-sized outputs); scoring explodes each doc's bigrams once and
    joins the two count tables (AQE broadcasts them when small, hash
    join otherwise), then one per-doc aggregate. All built-ins.
    """
    def bigrams(df: DataFrame) -> DataFrame:
        toks = tokenize_words(F.col(text_col))
        return (
            df.select(F.col(id_col), toks.alias("t"))
            .filter(F.size("t") >= 2)
            .select(
                id_col,
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(t)-2),"
                        " i -> struct(t[i] as w1, t[i+1] as w2))"
                    )
                ).alias("bg"),
            )
            .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )

    # one corpus-sized pass over the reference split (r14, guide §1.2):
    # the bigram explode feeds ONLY the (w1, w2) count table; the head
    # counts and vocabulary size are exact rollups of it —
    # c(w1) = sum_w2 c(w1, w2) and V = |{w1}| = row count of uni — so
    # they derive from the vocab-sized table instead of re-evaluating
    # the tokenize+explode lineage (3 evaluations before). The
    # checkpoints cut lineage on the bounded count tables only.
    tr = bigrams(train)
    bi = (
        tr.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)
    )
    uni = (
        bi.groupBy("w1")
        .agg(F.sum("cb").alias("cu"))
        .localCheckpoint(eager=False)
    )
    v = uni.select(
        F.count(F.lit(1)).alias("__v")
    )  # vocabulary of bigram heads, single-row broadcast

    scored = (
        bigrams(corpus)
        .join(bi, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            F.log(
                (F.coalesce("cb", F.lit(0)) + 1).cast("double")
                / (F.coalesce("cu", F.lit(0)) + F.col("__v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.exp(-F.avg("logp")), 4).alias("perplexity"),
    )


def bm25_rank(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval: score every corpus document against every
    query's term bag and keep the top_k docs per query — the classic
    sparse-retrieval operator (Robertson/Sparck Jones probabilistic
    model, the Lucene/Elasticsearch default scorer) that LLM pipelines
    use for retrieval-based data curation and RAG-corpus construction.

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene form)
    score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Shape at 100 TB — four exchanges total, none of them the full
    postings table:
    1. the query TERM set broadcasts into the exploded token stream,
       so only tokens matching some query term reach the one
       (doc, term) count shuffle — the corpus-wide postings shuffle
       the naive plan pays is gone, and per-doc length rides along
       map-side as size(tokens) instead of a doc-keyed groupBy+join;
    2. df(term) over the full corpus is exact from those candidates
       (every doc containing a query term has exactly one tf row per
       term) and is a per-term window count over the tf rows —
       keeping the tf subtree single instead of a second aggregate
       branch Catalyst de-canonicalizes past ReuseExchange;
    3. the (N, avgdl) scalars are one corpus aggregate (docs with at
       least one token, matching the postings-derived definition);
    4. one repartition on query_id whose hash partitioning satisfies
       BOTH the (query, doc) score aggregation and the per-query
       top_k window — Spark inserts no further exchange.
    The per-query work only ever touches docs sharing ≥1 term.

    `queries` is (query_id_col, term_col) — already tokenized, one row
    per query term (duplicate terms allowed; they are deduped so each
    term contributes once, bag-of-words-set semantics).
    """
    toks = corpus.select(
        F.col(id_col), tokenize_words(F.col(text_col)).alias("__toks")
    )
    qterms = queries.select(
        F.col(query_id_col), F.col(term_col).alias("__t")
    ).distinct()
    term_set = qterms.select("__t").distinct()

    # Token prefilter (r14, guide §2.2): when the distinct query-term
    # set is small enough to be a plan literal, filter each doc's token
    # array BEFORE the explode — the non-matching tokens (the vast
    # majority of the corpus token stream) never become rows, and the
    # broadcast hash-join build disappears. The 1024-term cap keeps the
    # per-token array_contains scan bounded; a wider term set falls
    # back to the broadcast join, whose O(1) hash probe wins at that
    # scale. Both branches produce identical (id, dl, t) rows.
    _TERM_LIT_CAP = 1024
    probe = term_set.limit(_TERM_LIT_CAP + 1).collect()
    if 0 < len(probe) <= _TERM_LIT_CAP:  # empty set: join path types cleanly
        lit_terms = F.array(*[F.lit(r["__t"]) for r in probe])
        cand = toks.select(
            id_col,
            F.size("__toks").cast("long").alias("__dl"),
            F.explode(
                F.filter(
                    "__toks", lambda x: F.array_contains(lit_terms, x)
                )
            ).alias("__t"),
        )
    else:
        cand = toks.select(
            id_col,
            F.size("__toks").cast("long").alias("__dl"),
            F.explode("__toks").alias("__t"),
        ).join(F.broadcast(term_set), "__t")
    tf = cand.groupBy(id_col, "__t", "__dl").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    # exact df: every doc containing a query term has exactly one tf
    # row, so a per-term window count IS the document frequency. A
    # window (rather than a groupBy + self-join) keeps the tf subtree
    # single — a separate dfreq aggregate gets its count(1) pruned by
    # Catalyst, de-canonicalizing the branch and defeating
    # ReuseExchange, which re-ran the whole tokenize+explode twice.
    tf = tf.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__t"))
    )
    # corpus-level scalars carried in-plan (single-plan rule: no
    # mid-plan driver collect) — one row, broadcast; docs with no
    # tokens are outside the postings universe
    scalars = (
        toks.where(F.size("__toks") > 0)
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.avg(F.size("__toks")).alias("__avgdl"),
        )
    )

    return (
        tf.join(F.broadcast(qterms), "__t")
        .crossJoin(F.broadcast(scalars))
        .repartition(query_id_col)
        .select(
            query_id_col,
            id_col,
            (
                F.log1p(
                    (F.col("__n") - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5)
                )
                * (F.col("__tf") * (k1 + 1))
                / (
                    F.col("__tf")
                    + k1
                    * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("__s"),
        )
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .select(
            query_id_col,
            id_col,
            "score",
            F.row_number()
            .over(
                Window.partitionBy(query_id_col).orderBy(
                    F.col("score").desc(), F.col(id_col)
                )
            )
            .alias("rank"),
        )
        .filter(F.col("rank") <= top_k)
    )


def zipf_fit(word_freqs: DataFrame) -> DataFrame:
    """Zipf's-law fit over a (word, freq) vocabulary: least-squares
    slope/intercept/r2 of log10(freq) against log10(rank), plus corpus
    totals — the standard corpus-health diagnostic (natural text runs
    slope ≈ -1; boilerplate-heavy or synthetic corpora bend it).

    Scale shape: rank is assigned with the range-exchange global-
    position kernel (operators/relational.with_global_positions — no
    single-partition window sort even at a 10^8-type vocabulary), and
    the fit is one partial-aggregable pass (regr_* aggregates). Ties
    rank deterministically (freq desc, word asc)."""
    from hadoop_source_spark.operators import relational

    ranked = relational.with_global_positions(
        word_freqs.withColumn("__negf", -F.col("freq")),
        ["__negf", "word"],
        pos_col="__pos",
    )
    lx = F.log10(F.col("__pos") + 1)
    ly = F.log10("freq")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.round(F.regr_slope(ly, lx), 4).alias("slope"),
        F.round(F.regr_intercept(ly, lx), 4).alias("intercept"),
        F.round(F.regr_r2(ly, lx), 4).alias("r2"),
    )


def token_entropy(
    docs: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group token-distribution diagnostics: Shannon entropy of
    the unigram distribution (bits/token), perplexity (2^H), type and
    token counts, type-token ratio — the standard corpus-diversity /
    compressibility panel (a boilerplate-flooded or template-heavy
    source shows up as low entropy long before eyeballing finds it).

    Two partial-agg passes — (group, word) counts then the entropy
    fold via the identity H = log2(N) - sum(c*log2 c)/N — both
    shuffle-partial-aggregable; nothing is ever per-character or
    per-token row-expanded beyond the tokenize explode itself."""
    w = F.explode(
        F.split(F.lower(F.col(text_col)), "[^a-z]+")
    ).alias("word")
    counts = (
        docs.select(F.col(by).alias("grp"), w)
        .filter(F.length("word") > 0)
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = counts.groupBy("grp").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log2("c")).alias("__clog"),
    )
    h = F.log2("n_tokens") - F.col("__clog") / F.col("n_tokens")
    return g.select(
        "grp",
        "n_tokens",
        "n_types",
        F.round(h, 6).alias("entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 4).alias("perplexity"),
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
    )


def stupid_backoff_score(
    corpus: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Web-scale TRIGRAM LM scoring with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" — the scheme
    built FOR distributed count tables: no discounting, no
    normalization, just relative frequencies with a fixed backoff
    penalty):

        S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2)   if the trigram is seen
                    = alpha * S(w3|w2)       otherwise
        S(w3|w2)    = c(w2 w3)/c(w2)         if the bigram is seen
                    = alpha * S(w3)          otherwise
        S(w3)       = (c(w3)+1)/(N+V)        add-one floored so an OOV
                                             word scores finite
                                             (documented deviation;
                                             Brants leaves the unigram
                                             floor to serving)

    Each n-gram order is counted independently over the training
    split, exactly like the paper's MapReduce count jobs. Score per
    doc = avg ln S over its trigrams, plus per-level hit counts (how
    often the model backed off — noisy docs live at the unigram
    level).

    Shape at scale: three groupBys over the training split produce
    count tables SHARDED ON THE N-GRAM KEY (never force-broadcast —
    at 100 TB the trigram table is corpus-sized; AQE broadcasts them
    only when they actually fit), one trigram explode of the scored
    corpus, five equi-joins on high-cardinality keys, one per-doc
    aggregate. All built-ins, zero Python.
    """
    def ngrams(df: DataFrame, n: int) -> DataFrame:
        toks = tokenize_words(F.col(text_col))
        fields = ", ".join(
            f"t[i+{k}] as w{k + 1}" for k in range(n)
        )
        return (
            df.select(F.col(id_col), toks.alias("t"))
            .filter(F.size("t") >= n)
            .select(
                id_col,
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(t)-{n}),"
                        f" i -> struct({fields}))"
                    )
                ).alias("g"),
            )
            .select(id_col, "g.*")
        )

    tri = ngrams(train, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    bi = ngrams(train, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cb")
    )
    uni = ngrams(train, 1).groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    n_v = uni.agg(
        F.sum("c1").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    sc = (
        ngrams(corpus, 3)
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(
            bi.select("w1", "w2", F.col("cb").alias("c_ctx")),
            ["w1", "w2"],
            "left",
        )
        .join(
            bi.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("cb").alias("c_bg"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c_u2")),
            "w2",
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w3"), F.col("c1").alias("c_u3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(n_v))
    )
    s_uni = (
        alpha
        * alpha
        * (F.coalesce("c_u3", F.lit(0)) + 1).cast("double")
        / (F.col("__n") + F.col("__v"))
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c_ctx"),
        )
        .when(
            F.col("c_bg").isNotNull(),
            alpha * F.col("c_bg").cast("double") / F.col("c_u2"),
        )
        .otherwise(s_uni)
    )
    level = (
        F.when(F.col("c3").isNotNull(), F.lit(3))
        .when(F.col("c_bg").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
    )
    return (
        sc.select(id_col, F.log(s).alias("__ls"), level.alias("__lvl"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum((F.col("__lvl") == 3).cast("long")).alias("n_tri_hits"),
            F.sum((F.col("__lvl") == 2).cast("long")).alias(
                "n_bi_backoffs"
            ),
            F.sum((F.col("__lvl") == 1).cast("long")).alias(
                "n_uni_backoffs"
            ),
            F.round(F.avg("__ls"), 4).alias("avg_logscore"),
        )
    )
