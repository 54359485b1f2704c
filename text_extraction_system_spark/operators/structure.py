"""Structure segmentation: paragraphs, sentences, sections, language, title.

Paragraph/sentence offset segmentation, language scoring, title and section
detection need regex + offset arithmetic, which is where the reference
leaned on lexnlp (``data_extract.py:149-186``). ``_structure_of`` is the
per-document function; the default extraction kernel
(``pipeline._extract_documents_arrow_native``) calls it in its own pass.
``segment_structure`` wraps it as one ``pandas_udf`` over an assembled
plain-text column (one Arrow batch in, one struct column out) for the
Catalyst engine's results, and the ``*_rows`` operators emit exploded
paragraph/sentence/section rows through ``arrowmap.map_rows``.

The segmentation rules themselves live in ``core.textseg`` / ``core.langid``
so the oracle and the UDF share literally the same code, and they are the
only segmenter: ``_structure_of`` scans a document's paragraphs once and
hands that list to the sentence, title and section steps, and scores every
segment's language from one stopword index of the document.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import arrowmap, schemas
from ..core import langid, textseg


def _structure_of(text: str, force_language: str | None = None) -> dict:
    """``force_language`` mirrors the reference's per-request doc_language
    override: every segment reports the forced language
    (two_langs fixture semantics, test_data_extract.py:44-57).

    One paragraph scan per document: ``textseg.paragraph_spans`` runs once
    and the sentence, title and section steps take its list (sentences come
    from one boundary scan merged into it). Language scoring indexes the
    doc's stopword hits once (``langid.LangIndex``) and scores each
    paragraph/sentence from that index — equivalent to per-slice detection,
    since segment boundaries never cut tokens."""
    if force_language:
        def lang(_s: int, _e: int | None = None) -> str:
            return force_language
    else:
        lang = langid.LangIndex(text).lang

    paras = textseg.paragraph_spans(text)
    return {
        "title": textseg.detect_title(text, paras),
        "language": lang(0, None),
        "paragraphs": [{"start": s, "end": e, "language": lang(s, e)} for s, e in paras],
        "sentences": [
            {"start": s, "end": e, "language": lang(s, e)}
            for s, e in textseg.sentence_spans(text, paras)
        ],
        "sections": textseg.detect_sections(text, paras),
    }


def make_segment_structure(force_language: str | None = None):
    @pandas_udf(schemas.STRUCTURE)
    def segment_structure(texts: pd.Series) -> pd.DataFrame:
        rows = [
            _structure_of(t if t is not None else "", force_language) for t in texts
        ]
        return pd.DataFrame(rows)

    return segment_structure


segment_structure = make_segment_structure()


def with_structure(
    assembled: DataFrame,
    text_col: str = "plain_text",
    force_language: str | None = None,
) -> DataFrame:
    udf = segment_structure if force_language is None else make_segment_structure(force_language)
    return assembled.withColumn("structure", udf(F.col(text_col)))


def paragraph_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-paragraph segmentation: (doc_id, par_start, par_end,
    language). A generator (``explode``) cannot host a pandas-UDF result in
    its input expression tree, so queries that need exploded structure run
    this row kernel instead."""

    def rows(doc_id, text):
        t = text or ""
        lang = langid.LangIndex(t).lang
        for s, e in textseg.paragraph_spans(t):
            yield doc_id, s, e, lang(s, e)

    return arrowmap.map_rows(
        assembled.select("doc_id", text_col), rows,
        "doc_id string, par_start long, par_end long, language string",
    )


def sentence_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-sentence segmentation (W1): (doc_id, sent_start, sent_end,
    language)."""

    def rows(doc_id, text):
        t = text or ""
        lang = langid.LangIndex(t).lang
        for s, e in textseg.sentence_spans(t, textseg.paragraph_spans(t)):
            yield doc_id, s, e, lang(s, e)

    return arrowmap.map_rows(
        assembled.select("doc_id", text_col), rows,
        "doc_id string, sent_start long, sent_end long, language string",
    )


def section_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-section heading detection (W3/J8)."""

    def rows(doc_id, text):
        t = text or ""
        for sec in textseg.detect_sections(t, textseg.paragraph_spans(t)):
            yield (doc_id, sec["start"], sec["end"], sec["title"],
                   sec["title_start"], sec["title_end"], sec["level"])

    return arrowmap.map_rows(
        assembled.select("doc_id", text_col), rows,
        "doc_id string, start long, end long, title string, "
        "title_start long, title_end long, level long",
    )
