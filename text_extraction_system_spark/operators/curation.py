"""Training-data curation funnel — the composition the individual operators
exist for: language gate -> quality gate -> token budget -> exact dedup ->
per-source accounting. One narrow pass computes every per-doc signal
(Catalyst expressions shared with the lang_id / quality / token_count /
exact_dedup operators), and one aggregate produces the funnel report.

The gates are the module's constants (``KEEP_LANG``, ``MIN_QUALITY``,
``MIN_TOKENS``, ``MAX_TOKENS``), which the DuckDB oracle reads too; the
copy that survives exact dedup is ``first_copy``'s, in the batch funnel and
in the release manifest alike.

Scale shape: signals are per-row expressions over the scan (no shuffle),
evaluated once; the only shuffles are the content-hash canonicalization
window (hash keys, uniform) and the per-source rollup (tiny). Conditional
aggregation gives every funnel stage's count in that one rollup — no
per-stage jobs and no join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import schemas
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
    projection re-ran word_tokens_col ~15x per row (12 stopword tables + the
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

    with_sig = schemas.keyed(
        docs,
        "source",
        F.col("lang").alias("declared_lang"),
        F.md5("text").alias("content_hash"),
        F.col("text"),
        *extra_cols,
        F.explode(F.array(let(textstats.word_tokens_col(F.col("text")), signals))).alias(
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


def gates() -> dict:
    """The funnel's gate columns over doc_signals output — the single
    definition shared by the batch funnel's stage flags and the streaming
    keep predicate. Language gate = declared metadata AND content detection
    agree (mislabeled-crawl noise drops here)."""
    return {
        "lang_ok": (F.col("declared_lang") == KEEP_LANG)
        & (F.col("language") == KEEP_LANG),
        "q_ok": F.col("quality_score") >= MIN_QUALITY,
        "tok_ok": F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS),
    }


def keep_predicate() -> Column:
    """AND of all gates (shared batch/streaming)."""
    g = gates()
    return g["lang_ok"] & g["q_ok"] & g["tok_ok"]


def first_copy(*keys: str) -> Column:
    """True on the copy that survives exact dedup among the rows sharing
    ``keys``: the least ``doc_id``, a NULL id ranking last, so the NULL-id
    copy survives only a group of NULL ids (the oracle's ``min(doc_id)``
    skips NULL)."""
    w = Window.partitionBy(*keys).orderBy(F.col("doc_id").asc_nulls_last())
    return F.row_number().over(w) == 1


def funnel(docs: DataFrame) -> DataFrame:
    """Per-source funnel report: docs entering, surviving each gate in
    sequence, surviving exact dedup, and the token budget kept.

    One signal pass feeds one rollup. Exact dedup keeps the ``first_copy``
    per content_hash among the rows that pass every gate (partitioned by
    (content_hash, kept), so only kept rows compete for "first").
    Conditional counts and one conditional sum then build all six report
    columns in a single ``groupBy(source)``."""
    g = gates()
    lang_ok = g["lang_ok"]
    q_ok = lang_ok & g["q_ok"]
    flagged = doc_signals(docs).select(
        "source", "doc_id", "content_hash", "n_tokens",
        lang_ok.alias("lang_ok"), q_ok.alias("q_ok"),
        (q_ok & g["tok_ok"]).alias("kept"),
    )
    rolled = flagged.withColumn(
        "survived", F.col("kept") & first_copy("content_hash", "kept")
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
