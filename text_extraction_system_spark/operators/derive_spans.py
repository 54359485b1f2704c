"""documents(doc_id, text) -> interleaved spans table — pure built-ins.

Synthesizes the BASELINE.json ``input_hint`` table shape
``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`` from flat
text, deterministically (ENGINE SPEC in ``core/spec.py``). Everything is
Catalyst expressions — no Python UDF — so the derivation is free of
serialization cost and fully codegen'd.

Reference analog: a PDF is an interleaved sequence of text elements and image
elements (``pdf/pdf.py:201-232`` separates them; ``pdf/pdf.py:261-273``
measures their areas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core import spec


def _media_marker(doc_id: Column, i: Column) -> Column:
    """True iff a media span follows text span i (spec.MEDIA_HEX)."""
    return F.substring(F.md5(F.concat_ws(":", doc_id, i.cast("string"))), 1, 1).isin(
        list(spec.MEDIA_HEX)
    )


def _media_ref(doc_id: Column, i: Column) -> Column:
    return F.concat(F.lit("media://"), doc_id, F.lit("/"), i.cast("string"))


def derived_spans_col(doc_id: Column, text: Column) -> Column:
    """Column expression computing the interleaved span array.

    ``words`` is let-bound: it is referenced inside the per-chunk lambda and
    would otherwise be re-split once per chunk (interpreted HOFs, no CSE)."""
    from .exprutil import let

    def build(words: Column) -> Column:
        n_text = F.ceil(F.size(words) / spec.SPAN_WORDS).cast("int")
        idx = F.when(n_text > 0, F.sequence(F.lit(0), n_text - 1)).otherwise(
            F.array().cast("array<int>")
        )

        def span_pair(i: Column) -> Column:
            chunk = F.array_join(
                F.slice(words, i * spec.SPAN_WORDS + 1, spec.SPAN_WORDS), " "
            )
            text_span = F.struct(
                F.lit("text").alias("kind"),
                chunk.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
            media_span = F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                _media_ref(doc_id, i).alias("media_ref"),
                F.lit(0).alias("offset"),
            )
            return F.when(
                _media_marker(doc_id, i), F.array(text_span, media_span)
            ).otherwise(F.array(text_span))

        return F.flatten(F.transform(idx, span_pair))

    flat = let(F.filter(F.split(text, " "), lambda w: w != ""), build)
    # assign final sequential offsets (the span-order key of the invariant)
    return F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def derive_spans(docs: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (doc_id: string, spans: array<struct<...>>)."""
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        derived_spans_col(F.col(doc_id_col).cast("string"), F.col(text_col)).alias("spans"),
    )
