"""Deterministic derived corpora for operators the flat documents table
cannot exercise directly: HTML docs (boilerplate strip) and heading-bearing
docs (section detection). Built from the documents table's word chunks with
pure Catalyst expressions, so the DuckDB oracle can construct the identical
corpus and both engines are compared end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..core import spec

NAV_LINE = '<nav><a href="/">home</a><a href="/x">more</a></nav>'
AD_LINE = '<div class="promo"><a href="#">BUY NOW CHEAP</a></div>'
FOOTER_LINE = '<footer>(c) <a href="/y">site</a> 2020</footer>'


def _chunks(text: Column) -> Column:
    """The same word-chunking as span derivation (spec.SPAN_WORDS)."""
    words = F.filter(F.split(text, " "), lambda w: w != "")
    n = F.ceil(F.size(words) / spec.SPAN_WORDS).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(words, i * spec.SPAN_WORDS + 1, spec.SPAN_WORDS), " ")
    )


def html_doc_col(text: Column) -> Column:
    """Wrap each chunk in <p>, add nav/ad/footer boilerplate lines."""
    paras = F.transform(_chunks(text), lambda c: F.concat(F.lit("<p>"), c, F.lit("</p>")))
    lines = F.concat(
        F.array(F.lit(NAV_LINE)),
        paras,
        F.array(F.lit(AD_LINE), F.lit(FOOTER_LINE)),
    )
    return F.array_join(lines, "\n")


def html_docs(docs: DataFrame) -> DataFrame:
    return schemas.keyed(docs, html_doc_col(F.col("text")).alias("html"))


def heading_doc_col(text: Column) -> Column:
    """Insert numbered headings before every 3rd chunk: level 1 ('N.') when
    the chunk index is a multiple of 6, level 2 ('N.1') otherwise."""
    def para_group(c: Column, i: Column) -> Column:
        sec_num = (F.floor(i / 3) + 1).cast("int").cast("string")
        suffix = F.when(i % 6 == 0, F.lit(".")).otherwise(F.lit(".1"))
        heading = F.concat(sec_num, suffix, F.lit(" "), c)
        return F.when(i % 3 == 0, F.array(heading, c)).otherwise(F.array(c))

    paras = F.flatten(F.transform(_chunks(text), para_group))
    return F.array_join(paras, "\n")


def heading_docs(docs: DataFrame) -> DataFrame:
    return schemas.keyed(docs, heading_doc_col(F.col("text")).alias("plain_text"))
