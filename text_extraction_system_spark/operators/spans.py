"""The span pass: every span consumer reads each document's spans from one
``arrowmap.map_rows`` pass over ``core.oracle``.

The paper's input is ``(doc_id, spans: array<struct<kind,text,media_ref,
offset>>)``. A documents table ``(doc_id, text)`` gets its spans from
``core.oracle.derive_spans`` (ENGINE SPEC section 1), the code the
extraction kernel runs, inside the pass that consumes them:

* ``span_rows(docs, fn, schema)`` hands each document's ``oracle.Span``
  list to ``fn``, so the span, OCR-route and page-route queries and
  rotation emit their rows straight from it, with no span array to explode
  or regroup;
* ``media_rows(docs, fn, schema)`` runs ``fn`` once per media span
  (``oracle.media_spans``: each ref hashed once) with its synthetic payload:
  media metadata, features, resizing, frames and table detection are each
  this one pass;
* ``derive_spans(docs)`` is the ``(doc_id, spans)`` table itself.

A NULL or empty text has no spans. The pass replaced a Catalyst
higher-order-function chain (split, slice, transform and aggregate over the
span array), which runs interpreted, with no common-subexpression
elimination, and which repeated the per-document library a second time.

Reference analog: a PDF is an interleaved sequence of text elements and
image elements (``pdf/pdf.py:201-232`` separates them; ``pdf/pdf.py:261-273``
measures their areas).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import arrowmap, schemas
from ..core import ocr_stub, oracle


def span_rows(
    docs: DataFrame,
    fn: Callable[[str, list[oracle.Span]], Iterable],
    schema: T.StructType | str,
) -> DataFrame:
    """The rows ``fn(doc_id, spans)`` yields for each document of ``docs``
    (``doc_id``, ``text``), ``spans`` being its derived ``oracle.Span``
    list and ``doc_id`` a string (see ``arrowmap.map_rows`` for the row and
    schema forms)."""
    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return arrowmap.map_rows(
        src, lambda doc_id, text: fn(doc_id, oracle.derive_spans(doc_id, text or "")), schema
    )


def derive_spans(docs: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (doc_id: string, spans: array<struct<...>>), one row per
    document."""
    return span_rows(
        docs.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text")),
        lambda doc_id, spans: [(doc_id, spans)],
        schemas.SPANS_INPUT,
    )


def media_rows(
    docs: DataFrame,
    fn: Callable[[str, str, bytes], Iterable],
    schema: T.StructType | str,
) -> DataFrame:
    """The rows ``fn(doc_id, media_ref, payload)`` yields for each media
    span of each document, in span order; ``payload`` is the span's
    synthetic bytes (``ocr_stub.media_payload``)."""

    def rows(doc_id, spans):
        for _, s, h in oracle.media_spans(spans):
            yield from fn(doc_id, s.media_ref, ocr_stub.media_payload(h))

    return span_rows(docs, rows, schema)
