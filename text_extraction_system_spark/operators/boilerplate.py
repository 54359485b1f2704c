"""HTML/DOCX boilerplate stripping via text-density scoring (SURVEY.md S4).

The reference shells out to LibreOffice to normalize HTML
(``pdf/convert_to_pdf.py:60-102``); the Spark-native replacement scores each
markup block by text density and link density — the reference's
text-vs-image area-cover idea (``calc_covers``, ``pdf/pdf.py:261-273``)
transplanted to DOM blocks (north_star: "HTML/DOCX boilerplate stripping via
DOM-heuristic text-density scoring").

Block model: one markup block per line ('\\n'-separated). A block is KEPT iff
  * stripped text length >= MIN_TEXT_LEN
  * text density  = len(stripped) / len(raw)        >= MIN_DENSITY
  * link density  = len(text inside <a>) / len(stripped) <= MAX_LINK_DENSITY
  * the block is not a nav/footer/aside container.
Main content = kept stripped blocks joined with '\\n'.

Everything is Catalyst expressions (regexp + higher-order folds) with a
byte-identical SQL twin; ``core``-side python twin lives in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas

MIN_TEXT_LEN = 10
MIN_DENSITY = 0.25
MAX_LINK_DENSITY = 0.5
_TAG_RE = r"<[^>]*>"
_LINK_RE = r"<a[^>]*>([^<]*)</a>"
_BOILER_RE = r"<(nav|footer|aside)[ >]"


def _stripped(block: Column) -> Column:
    return F.trim(F.regexp_replace(block, _TAG_RE, ""))


def _link_text_len(block: Column) -> Column:
    return F.aggregate(
        F.regexp_extract_all(block, F.lit(_LINK_RE), F.lit(1)),
        F.lit(0),
        lambda acc, t: acc + F.length(t),
    )


def block_keep_col(block: Column) -> Column:
    s = _stripped(block)
    density = F.length(s) / F.greatest(F.length(block), F.lit(1))
    link_density = _link_text_len(block) / F.greatest(F.length(s), F.lit(1))
    return (
        (F.length(s) >= MIN_TEXT_LEN)
        & (density >= MIN_DENSITY)
        & (link_density <= MAX_LINK_DENSITY)
        & (~(F.regexp_count(block, F.lit(_BOILER_RE)) > 0))
    )


def main_content_col(html: Column) -> Column:
    """Kept blocks' stripped text joined with '\\n'."""
    blocks = F.filter(F.split(html, "\n"), lambda b: F.trim(b) != "")
    kept = F.filter(blocks, block_keep_col)
    return F.array_join(F.transform(kept, _stripped), "\n")


def strip_boilerplate(docs: DataFrame) -> DataFrame:
    """(doc_id, html) -> (doc_id, main_text)."""
    return schemas.keyed(docs, main_content_col(F.col("html")).alias("main_text"))
