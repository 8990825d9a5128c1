"""Text-analysis operators: language-ID, quality scoring, token counting,
fingerprinting — all JVM-side expressions (no Python)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import canon_text, ensure_parallelism, stable_hash64

STOPWORDS = ("the", "a", "of", "and", "to")


def langid_scores(
    df: DataFrame,
    stopwords: tuple[str, ...] = STOPWORDS,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stopword-ratio language heuristic (n-gram-heuristic family): a doc
    whose stopword ratio clears the threshold is labeled 'en'."""
    words = ensure_parallelism(df.select(id_col, F.col(text_col))).select(
        id_col, F.explode(F.split(text_col, " ")).alias("w")
    ).filter(F.col("w") != "")
    agg = words.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("w").isin(*stopwords), 1).otherwise(0))
        .cast("long")
        .alias("n_stop"),
    )
    ratio = F.round(F.col("n_stop") / F.col("n_tokens"), 6)
    return agg.select(
        id_col,
        "n_tokens",
        "n_stop",
        ratio.alias("stop_ratio"),
        F.when(ratio >= threshold, "en").otherwise("other").alias("predicted_lang"),
    )


# Frequent-English character-trigram profile (fixed, engine-independent):
# the classic n-gram langid heuristic scores a document by how many profile
# n-grams it contains. 16 trigrams keep the predicate row-local and cheap.
EN_TRIGRAMS = (
    " th", "the", "he ", "ing", "ng ", " an", "and", "nd ",
    " of", "of ", " to", "to ", "ed ", " in", "in ", "er ",
)


def langid_ngram_scores(
    df: DataFrame,
    trigrams: tuple[str, ...] = EN_TRIGRAMS,
    threshold: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-n-gram language ID: score = fraction of profile trigrams
    present in the document. Pure row-local expression (one ``instr`` per
    profile entry — no explode, no shuffle, pushdown-friendly), the
    other member of the n-gram-heuristic family beside the stopword-ratio
    scorer (:func:`langid_scores`)."""
    hits = sum(
        F.when(F.instr(F.col(text_col), t) > 0, 1).otherwise(0)
        for t in trigrams
    )
    score = F.round(hits / F.lit(len(trigrams)), 6)
    return df.select(
        id_col,
        hits.cast("int").alias("n_hits"),
        score.alias("ngram_score"),
        F.when(score >= threshold, "en").otherwise("other").alias(
            "predicted_lang"
        ),
    )


def quality_scores(
    df: DataFrame,
    min_chars: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_chars_col: str = "n_chars",
    stopwords: tuple[str, ...] = STOPWORDS,
) -> DataFrame:
    """Quality signals per document — length, punctuation ratio, stopword
    ratio — all JVM-side (split/size/higher-order filter/regexp), one
    narrow pass.

    Zero guards: an empty document gets NULL ratios and ``too_short=true``
    instead of a divide-by-zero — under Spark 4 ANSI mode an unguarded
    ``x / 0`` would throw and kill the whole corpus job for one bad row
    (the 'failures degrade, never crash' rule)."""
    n_tokens = F.size(F.split(text_col, " "))
    nonempty = F.length(text_col) > 0
    stripped = F.regexp_replace(F.col(text_col), r"[^a-z0-9\s]", "")
    punct_ratio = F.when(
        nonempty,
        F.round(
            (F.length(text_col) - F.length(stripped)) / F.length(text_col), 6
        ),
    )
    in_list = ", ".join(f"'{w}'" for w in stopwords)
    n_stop = F.size(
        F.expr(f"filter(split({text_col}, ' '), w -> w IN ({in_list}))")
    )
    safe_tokens = F.when(n_tokens > 0, n_tokens)  # NULL divisor, never 0
    return df.select(
        id_col,
        n_chars_col,
        n_tokens.alias("n_tokens"),
        F.when(
            nonempty, F.round(F.col(n_chars_col) / safe_tokens, 4)
        ).alias("chars_per_token"),
        punct_ratio.alias("punct_ratio"),
        F.when(nonempty, F.round(n_stop / safe_tokens, 6)).alias("stop_ratio"),
        (F.col(n_chars_col) < min_chars).alias("too_short"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letter runs / digit runs /
    single punctuation)."""
    return df.select(
        id_col,
        F.size(F.split(text_col, " ")).alias("ws_tokens"),
        F.size(
            F.expr(
                rf"regexp_extract_all({text_col}, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"
            )
        ).alias("bpe_tokens"),
    )


def fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonicalized content fingerprint (rolling-hash family)."""
    canon = canon_text(text_col)
    return df.select(
        id_col,
        F.substring(F.md5(canon), 1, 16).alias("fingerprint"),
        stable_hash64(canon).alias("fingerprint_int"),
    )
