"""OCR-decision cover columns — pure built-ins.

``needs_ocr_col``: the reference predicate ``text_cover < 0.3*image_cover``
(``pdf/pdf.py:31-33`` ``page_requires_ocr``; areas per ``calc_covers``
``pdf/pdf.py:261-273``) expressed as an array aggregate over the span
sequence — JVM-side, codegen'd, zero Python. The ``ocr_route`` queries,
multimodal, rotation and tables read these covers; extraction decides OCR
per document in its kernel (``core.oracle.process_spans``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core import spec

_HEX = "0123456789abcdef"


def _hexpos(c: Column) -> Column:
    """1-based position of a hex char: '0'->1 ... 'f'->16."""
    return F.instr(F.lit(_HEX), c)


def media_area_col(media_ref: Column) -> Column:
    """(1 + hexval(md5[0])) * MEDIA_AREA_UNIT == hexpos * unit."""
    return _hexpos(F.substring(F.md5(media_ref), 1, 1)) * spec.MEDIA_AREA_UNIT


def text_cover_col(spans: Column) -> Column:
    return F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.when(s["kind"] == "text", F.length(s["text"])).otherwise(0),
    )


def media_cover_col(spans: Column) -> Column:
    return F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(s["kind"] == "media", media_area_col(s["media_ref"])).otherwise(0),
    )


def needs_ocr_col(spans: Column) -> Column:
    """Doc-level OCR routing decision (SURVEY.md F2)."""
    return text_cover_col(spans) < F.lit(spec.OCR_RATIO) * media_cover_col(spans)
