"""Structure segmentation: paragraphs, sentences, sections, language, title.

Paragraph/sentence offset segmentation, language scoring, title and section
detection need regex + offset arithmetic, which is where the reference
leaned on lexnlp (``data_extract.py:149-186``). ``_structure_of`` is the
per-document function; the extraction kernel (``pipeline._extract``) calls
it in its own pass, and queries that need one row per paragraph or
sentence explode the kernel's ``structure`` column. ``section_rows`` emits
heading-detected section rows for any text column through
``arrowmap.map_rows``.

The segmentation rules themselves live in ``core.textseg`` / ``core.langid``
so the oracle and the kernel share literally the same code, and they are the
only segmenter: ``_structure_of`` scans a document's paragraphs once and
hands that list to the sentence, title and section steps, and scores every
segment's language from one stopword index of the document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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


def with_structure(assembled: DataFrame) -> DataFrame:
    """``assembled`` plus its ``structure`` column, from ``_structure_of``
    over ``plain_text``. Exists only for the benchmark's traced long-doc cut
    (perfbench/workloads.py), which still calls it; extraction segments
    structure inside the kernel. Deleted with ROADMAP item 0."""
    return arrowmap.append_column(
        assembled, "structure", schemas.STRUCTURE,
        lambda texts: [_structure_of(t or "") for t in texts], "plain_text")


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
