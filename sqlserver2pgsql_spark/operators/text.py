"""Text-analysis operators for large-scale training-data pipelines.

No counterpart in the reference (it migrates schemas, not corpora) — these
are the M7 extensions (SURVEY.md §7) the driver's BASELINE.json names as
first-class: language-ID, quality scoring, token counting, fingerprinting.

All operators are pure Spark column expressions (whole-stage codegen, no
Python in the hot path) and embarrassingly partition-parallel: no shuffle,
no driver-side collection — they hold at 100 TB by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: whitespace tokenizer shared by every text operator (and mirrored in the
#: DuckDB oracles via string_split_regex)
WS = r"\s+"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), WS)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


#: BPE-ish pre-tokenizer pattern (GPT-2-style word/number/punct splits,
#: restricted to RE2-compatible syntax — no lookahead — so the DuckDB oracle
#: can run the identical pattern)
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(col: Column) -> Column:
    """Token count under a BPE-style pre-tokenizer — the cheap proxy for
    'how many LLM tokens is this document' used in corpus budgeting."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PATTERN), F.lit(0)))


# --- quality scoring --------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token stats, character-class
    ratios, stopword ratio. Ratios are single IEEE divisions (deterministic
    across engines)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]-]", ""))
    n_stop = F.size(F.filter(toks, lambda w: F.lower(w).isin(*_STOPWORDS)))
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tok.alias("q_tokens"),
        (n_chars.cast("double") / n_tok.cast("double")).alias("q_chars_per_token"),
        (n_alpha.cast("double") / n_chars.cast("double")).alias("q_alpha_ratio"),
        (n_digit.cast("double") / n_chars.cast("double")).alias("q_digit_ratio"),
        (n_punct.cast("double") / n_chars.cast("double")).alias("q_punct_ratio"),
        (n_stop.cast("double") / n_tok.cast("double")).alias("q_stopword_ratio"),
    )


# --- language ID ------------------------------------------------------------

#: tiny per-language marker-word profiles (n-gram-heuristic langid). The
#: classifier scores marker hits per language and takes the argmax with a
#: fixed language priority for ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

_LANG_ORDER = ("en", "es", "fr", "de", "zh")


def detect_language(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language ID: argmax of per-language marker counts, 'und'
    when nothing matches. Fixed priority order breaks ties deterministically.

    Single pass: one ``aggregate`` over the (once-lowered) token array
    accumulates all 5 language counters in a struct — five separate HOF
    ``filter`` passes compiled into a case-when fold ~7ms/row deep; this
    shape is one traversal with 5 shallow conditionals per token."""
    toks_col = f"__toks_{out_col}"
    scored = df.withColumn(
        toks_col, F.transform(tokens(F.col(text_col)), F.lower)
    )
    counts = F.aggregate(
        F.col(toks_col),
        F.struct(*[F.lit(0).alias(lang) for lang in _LANG_ORDER]),
        lambda acc, w: F.struct(
            *[
                (
                    acc[lang]
                    + F.when(w.isin(*LANG_MARKERS[lang]), F.lit(1)).otherwise(F.lit(0))
                ).alias(lang)
                for lang in _LANG_ORDER
            ]
        ),
    )
    counts_col = f"__counts_{out_col}"
    scored = scored.withColumn(counts_col, counts)
    # left fold with strict > : earlier languages in _LANG_ORDER win ties
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in _LANG_ORDER:
        score = F.col(counts_col)[lang]
        cond = score > best_score
        best_score = F.when(cond, score).otherwise(best_score)
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return scored.withColumn(out_col, best).drop(toks_col, counts_col)


# --- tf-idf -----------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf with a LINEAR
    (rational) idf: ``score = tf * N / df`` — one integer product and one
    IEEE division, so the ranking is bit-reproducible across engines
    (``ln``-based idf differs in ulps between libm implementations and can
    flip ranks; the linear variant is order-equivalent for ranking within a
    fixed corpus).

    Plan shape for 100 TB: tokenize→explode→two hash aggregations (tf, then
    document frequency over the much smaller tf table), one shuffle join on
    the term, and a rank-limited window that compiles to WindowGroupLimit
    (per-partition top-k before the shuffle). The corpus size N is a
    1-row aggregate broadcast into the projection, never collected."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(F.col(text_col)), F.lower)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doc_freq, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("doc_freq").cast("double")
            ).alias("score"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --- fingerprinting ---------------------------------------------------------


def fingerprint_md5(col: Column) -> Column:
    """Canonical document fingerprint: md5 of the whitespace-normalized,
    lower-cased text. Stable across engines (oracle: DuckDB md5).

    Whitespace runs collapse BEFORE the trim: Spark's ``trim`` strips only
    spaces, so edge tabs/newlines would otherwise survive canonicalization
    (hypothesis-found edge, tests/test_properties.py)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, WS, " "))))


def fingerprint_rolling(col: Column, window: int = 4) -> Column:
    """Winnowing-style rolling fingerprint: min xxhash64 over token
    ``window``-grams. Order-free min-aggregation → partition-parallel.
    Not SQL-oracle-expressible (xxhash64 is Spark-specific) — covered by
    property tests instead."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), n - window + 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, window), " "))
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


# --- BPE-style pair-merge induction ----------------------------------------

#: merged-token joiner and sequence delimiter for the tokenizer-induction
#: operator; both are asserted absent from the corpus before use
BPE_JOIN = "~"
BPE_DELIM = "|"


def wrap_tokens(tokens_col: Column) -> Column:
    """Encode a token sequence as ``|t1||t2||t3|`` — every adjacent pair owns
    a private ``||`` boundary, so a leftmost non-overlapping string replace
    of ``|a||b|`` → ``|a~b|`` is EXACTLY the greedy left-to-right BPE merge
    (consecutive occurrences don't share delimiter characters, and a token
    can never match another token's suffix because each is |-anchored on
    both sides). Identical semantics in Spark's and DuckDB's replace()."""
    return F.concat(F.lit(BPE_DELIM), F.array_join(tokens_col, BPE_DELIM * 2), F.lit(BPE_DELIM))


def unwrap_tokens(wrapped_col: Column) -> Column:
    """Inverse of wrap_tokens: strip the outer delimiters, split on ``||``."""
    return F.split(F.regexp_replace(wrapped_col, r"^\||\|$", ""), r"\|\|")


def adjacent_pair_counts(df: DataFrame, tokens_col: str) -> DataFrame:
    """(left, right, cnt) over all adjacent token pairs — the count table a
    BPE trainer ranks each round. Explode-free pair construction: zip the
    sequence with its own tail (slice + arrays_zip), one explode, one hash
    agg; never a self-join."""
    t = F.col(tokens_col)
    pairs = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("left"), F.col("p.1").alias("right"))
        .groupBy("left", "right")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_apply_top_merge(df: DataFrame, tokens_col: str, pair_df: DataFrame) -> DataFrame:
    """Apply the single best merge from ``pair_df`` (ties broken by
    (cnt DESC, left, right)) to every sequence. The 1-row winner is
    broadcast into a string replace on the wrapped encoding — no collect(),
    no per-row Python; the merge literally IS one JVM replace() per doc."""
    top = (
        pair_df.orderBy(F.col("cnt").desc(), "left", "right")
        .limit(1)
        .select(
            F.concat(F.lit(BPE_DELIM), "left", F.lit(BPE_DELIM * 2), "right", F.lit(BPE_DELIM)).alias("_pat"),
            F.concat(F.lit(BPE_DELIM), "left", F.lit(BPE_JOIN), "right", F.lit(BPE_DELIM)).alias("_rep"),
        )
    )
    merged = (
        df.withColumn("_w", wrap_tokens(F.col(tokens_col)))
        .crossJoin(F.broadcast(top))
        .withColumn("_w2", F.replace(F.col("_w"), F.col("_pat"), F.col("_rep")))
    )
    return merged.withColumn(
        tokens_col,
        F.split(F.regexp_replace(F.col("_w2"), r"^\||\|$", ""), r"\|\|"),
    ).drop("_w", "_w2", "_pat", "_rep")


# --- inverted index ---------------------------------------------------------


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    postings_cap: int = 20,
) -> DataFrame:
    """Search-engine posting lists: term → exact document frequency + the
    first ``postings_cap`` doc ids (ascending) as a comma-joined string.

    One explode + distinct (term, doc) pass, one per-term window that
    Catalyst rewrites to WindowGroupLimit (rank ≤ cap never materializes a
    full sort of each posting list), one agg with sort_array for a
    deterministic postings order. df is counted BEFORE the cap so the
    frequency is exact while the stored list stays bounded — the shape that
    holds when one term appears in a billion documents."""
    term_doc = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    w = W.partitionBy("term").orderBy("doc")
    capped = (
        term_doc.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= postings_cap) & (F.col("df") >= min_df))
    )
    # numeric postings order: sort structs (sorts by the numeric id), THEN
    # stringify — a string sort would put '100' before '2'
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc"))),
            lambda s: s["doc"].cast("string"),
        ),
        ",",
    )
    return capped.groupBy("term").agg(
        F.max("df").alias("df"), postings.alias("postings")
    )
