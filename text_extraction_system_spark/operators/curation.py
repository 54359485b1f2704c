"""Training-data curation funnel — the composition the individual operators
exist for: language gate -> quality gate -> token budget -> exact dedup ->
per-source accounting. One narrow pass computes every per-doc signal
(Catalyst expressions shared with the lang_id / quality / token_count /
exact_dedup operators), and one aggregate produces the funnel report.

Scale shape: signals are per-row expressions over the scan (no shuffle),
evaluated once; the only shuffles are the content-hash canonicalization
window (hash keys, uniform) and the per-source rollup (tiny). Conditional
aggregation gives every funnel stage's count in that one rollup — no
per-stage jobs and no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import textstats

KEEP_LANG = "en"
MIN_QUALITY = 0.3
MIN_TOKENS = 20
MAX_TOKENS = 80


def doc_signals(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc curation signals in one narrow pass; ``extra_cols``
    pass through untouched (e.g. the ingest timestamp in the streaming twin).

    ONE tokenization feeds every signal: the signals are built as a single
    let-bound struct and surfaced through ``explode(array(struct))`` — a
    Generate node is a projection-collapse BARRIER, so downstream field
    extractions read the materialized struct instead of inlining (and
    re-evaluating) the whole expression per consumer. The naive per-column
    projection re-ran tokens_col ~15x per row (12 stopword tables + the
    quality and count signals)."""
    from .exprutil import let

    def signals(toks) -> F.Column:
        q = textstats.quality_cols_from_tokens(toks, F.col("text"))
        return F.struct(
            textstats.detect_language_from_tokens(toks, F.col("text")).alias(
                "language"
            ),
            F.size(toks).cast("bigint").alias("n_tokens"),
            q["quality_score"].alias("quality_score"),
        )

    with_sig = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        F.col("lang").alias("declared_lang"),
        F.md5("text").alias("content_hash"),
        F.col("text"),
        *extra_cols,
        F.explode(F.array(let(textstats.tokens_col(F.col("text")), signals))).alias(
            "sig"
        ),
    )
    return with_sig.select(
        "doc_id",
        "source",
        "declared_lang",
        F.col("sig.language").alias("language"),
        F.col("sig.n_tokens").alias("n_tokens"),
        F.col("sig.quality_score").alias("quality_score"),
        "content_hash",
        *extra_cols,
    )


def gates(
    lang: str = KEEP_LANG,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
) -> dict:
    """The funnel's gate columns over doc_signals output — the single
    definition shared by the batch funnel's stage flags and the streaming
    keep predicate. Language gate = declared metadata AND content detection
    agree (mislabeled-crawl noise drops here)."""
    return {
        "lang_ok": (F.col("declared_lang") == lang) & (F.col("language") == lang),
        "q_ok": F.col("quality_score") >= min_quality,
        "tok_ok": F.col("n_tokens").between(min_tokens, max_tokens),
    }


def keep_predicate(
    lang: str = KEEP_LANG,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
):
    """AND of all gates (shared batch/streaming)."""
    g = gates(lang, min_quality, min_tokens, max_tokens)
    return g["lang_ok"] & g["q_ok"] & g["tok_ok"]


def funnel(
    docs: DataFrame,
    lang: str = KEEP_LANG,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
) -> DataFrame:
    """Per-source funnel report: docs entering, surviving each gate in
    sequence, surviving exact dedup, and the token budget kept.

    One signal pass feeds one rollup. Exact dedup keeps the min-doc_id row
    per content_hash among the rows that pass every gate: ``row_number()
    over (partition by content_hash, kept order by doc_id)``, so only kept
    rows compete for "first". Conditional counts and one conditional sum
    then build all six report columns in a single ``groupBy(source)``."""
    from pyspark.sql.window import Window

    g = gates(lang, min_quality, min_tokens, max_tokens)
    lang_ok = g["lang_ok"]
    q_ok = lang_ok & g["q_ok"]
    flagged = doc_signals(docs).select(
        "source", "doc_id", "content_hash", "n_tokens",
        lang_ok.alias("lang_ok"), q_ok.alias("q_ok"),
        (q_ok & g["tok_ok"]).alias("kept"),
    )
    first = Window.partitionBy("content_hash", "kept").orderBy("doc_id")
    rolled = flagged.withColumn(
        "survived", F.col("kept") & (F.row_number().over(first) == 1)
    )
    return rolled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count_if("lang_ok").alias("n_lang"),
        F.count_if("q_ok").alias("n_quality"),
        F.count_if("kept").alias("n_tokens_ok"),
        F.count_if("survived").alias("n_deduped"),
        F.sum(F.when(F.col("survived"), F.col("n_tokens")).otherwise(0))
        .alias("tokens_kept"),
    )
