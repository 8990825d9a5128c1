"""Corpus-hygiene operators for training-data pipelines: repetition
scoring (Gopher-style duplicate-n-gram fraction), PII redaction, and
benchmark decontamination.

All three follow the engine's scale rules: repetition and redaction are
pure row-local JVM expressions (no explode, no shuffle, no Python);
decontamination shuffles only n-gram hashes of the SMALL benchmark side
(broadcast) plus per-doc overlap counts — the corpus text itself never
enters an Exchange. Published-heuristic provenance: the duplicate-n-gram
quality rule family is from the public Gopher/MassiveText filtering
literature; decontamination-by-n-gram-overlap is the standard published
eval-hygiene technique (e.g. GPT-2/GPT-3 appendix descriptions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import stable_hash64, word_shingles

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB oracle): character classes, bounded repetition, no backrefs.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def repetition_scores(
    df: DataFrame,
    n: int = 2,
    max_dup_ratio: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate word-n-gram fraction per document (Gopher-style
    repetition rule): ``dup_ratio = 1 - distinct_ngrams / total_ngrams``,
    flagged ``repetitive`` above ``max_dup_ratio``.

    Entirely row-local — still a narrow map over the scan at any corpus
    size. r7: the n-gram counting runs in the Arrow pass (tuple-set per
    document) instead of the earlier ``transform(sequence(...))`` +
    ``array_distinct`` expression chain, whose interpreted per-element
    evaluation (string concat per gram + distinct scan) was the entire
    measured cost of the operator; distinct word-tuples and distinct
    space-joined gram strings are the same count because words cannot
    contain the split character. The ratio/flag arithmetic stays in JVM
    expressions, so rounding semantics are unchanged. Documents with
    fewer than ``n`` words get NULL ratios and ``repetitive=false``
    (zero-guarded for ANSI mode)."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    def counts(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            ids = b[id_col].values
            n_grams: list = []
            n_distinct: list = []
            for t in b[text_col]:
                words = ("" if t is None else t).split(" ")
                m = len(words)
                if m < n:
                    n_grams.append(None)
                    n_distinct.append(None)
                else:
                    n_grams.append(m - (n - 1))
                    n_distinct.append(
                        len(set(zip(*(words[k:] for k in range(n)))))
                    )
            yield _pd.DataFrame(
                {
                    id_col: ids,
                    "n_grams": _pd.array(n_grams, dtype="Int32"),
                    "n_distinct": _pd.array(n_distinct, dtype="Int32"),
                }
            )

    cnt = df.select(id_col, text_col).mapInPandas(
        counts, schema=f"{id_col} long, n_grams int, n_distinct int"
    )
    dup_ratio = F.round(
        (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams"), 6
    )
    return cnt.select(
        id_col,
        "n_grams",
        "n_distinct",
        dup_ratio.alias("dup_ratio"),
        F.coalesce(dup_ratio > max_dup_ratio, F.lit(False)).alias(
            "repetitive"
        ),
    )


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails and phone numbers, keeping audit counts: emails →
    ``<EMAIL>``, phones → ``<PHONE>``. Row-local regexp work only; the
    redacted text is fingerprinted (md5) rather than carried wide so the
    result of a 100-TB redaction audit is a narrow table."""
    txt = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(txt, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(txt, F.lit(EMAIL_RE), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(txt, F.lit(PHONE_RE), F.lit(0)))
        .alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def boilerplate_spans(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate detection: the fraction of a document's
    n-grams that recur in ≥ ``min_docs`` documents (headers, footers,
    navigation chrome — the published cross-doc repeated-span rule
    family).

    100-TB shape: the document-frequency aggregation shuffles 64-bit
    n-gram HASHES, never n-gram strings (``stable_hash64``), and the
    common-span set it produces is small (boilerplate is by definition
    the heavy tail) → broadcast back for the per-doc fraction. Documents
    with fewer than ``n`` words get a NULL fraction."""
    sh = word_shingles(df, n, text_col, id_col).select(
        id_col, stable_hash64(F.col("shingle")).alias("h")
    )
    common = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_cnt"))  # shingles are distinct/doc
        .filter(F.col("df_cnt") >= min_docs)
        .select("h")
    )
    per_doc = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(F.broadcast(common), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("int").alias("n_shingles"),
            F.coalesce("n_common", F.lit(0)).cast("int").alias("n_common"),
            F.when(
                F.col("n_shingles").isNotNull(),
                F.round(
                    F.coalesce("n_common", F.lit(0)) / F.col("n_shingles"), 6
                ),
            ).alias("boilerplate_frac"),
        )
    )


def fluency_scores(
    corpus_model: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-based character-bigram fluency score (the deterministic twin
    of the published LM-perplexity quality filter): score a document by
    the average corpus frequency of its character bigrams — gibberish and
    wrong-language text score low, fluent in-distribution text high.

    All-integer until the final division, so the score is bit-identical
    across engines (a log-prob LM would hinge on transcendental-function
    ULPs). ``corpus_model`` is the training slice — at 100 TB a sample,
    exactly like IVF/PQ training; the model (≤ alphabet² rows) is
    broadcast to the scoring join."""
    model = (
        _char_bigrams(corpus_model, text_col)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    doc_bg = _char_bigrams(df, text_col, keep=(id_col,))
    return (
        doc_bg.join(F.broadcast(model), "bg", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum(F.coalesce("cnt", F.lit(0))).alias("sum_freq"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_freq",
            F.round(F.col("sum_freq") / F.col("n_bigrams"), 4).alias(
                "fluency"
            ),
        )
    )


def _char_bigrams(df: DataFrame, text_col: str, keep: tuple = ()) -> DataFrame:
    """One row per character bigram, built row-locally then exploded —
    rows with < 2 chars contribute nothing."""
    grams = F.expr(
        f"transform(sequence(1, length({text_col}) - 1),"
        f" i -> substr({text_col}, i, 2))"
    )
    return df.filter(F.length(text_col) >= 2).select(
        *keep, F.explode(grams).alias("bg")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    n-word shingle with an eval/benchmark set.

    100-TB shape: the benchmark shingle set is small → broadcast; corpus
    shingles are checked map-side against it, and only per-doc overlap
    counts (one row per contaminated doc) ever shuffle. The final left
    join keys on ``doc_id`` only — corpus text stays out of every
    Exchange."""
    bench_sh = (
        word_shingles(benchmark, n, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    corp_sh = word_shingles(corpus, n, text_col, id_col)
    hits = (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )
