"""TOC-preferred section detection (SURVEY.md W3/J7/J8).

Reference behavior: when a document ships a table of contents, sections come
from TOC entries anchored into the text by coordinate lookup, and the
heading-heuristic (ML in the reference) path is used only as the fallback
(``data_extract.py:165-181`` choose-TOC branch, ``:220-263`` anchoring).

Here the routing and the anchoring are the real logic under test: TOC docs
(a deterministic md5 half of the corpus — the sandbox stand-in for "the PDF
outline exists") anchor one entry per page through the char-coordinate map
(``core.charboxes`` + ``core.geometry.anchor_toc_sections``); the rest fall
back to ``textseg.detect_sections`` over the extracted plain text.

Scale shape: one ``arrowmap.map_rows`` pass over the assembled results — no
shuffle, no driver-side state; the char-box array is built per doc inside
the batch and discarded.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from .. import arrowmap
from ..core import charboxes, geometry, textseg

_SCHEMA = "doc_id string, start long, end long, title string, level long, source string"


def has_toc(doc_id: str) -> bool:
    """Deterministic 'this doc publishes a TOC' bit (md5 half-split)."""
    return int(hashlib.md5(f"toc:{doc_id}".encode()).hexdigest()[0], 16) >= 8


def synth_toc(pages: list[dict]) -> list[dict]:
    """One level-1 TOC entry per page, pointing at the page's top-left —
    the deterministic stand-in for parsed PDF outline destinations."""
    return [
        {
            "title": f"SECTION {int(p['number'])}",
            "level": 1,
            "left": 0.0,
            "top": 0.0,
            "page": int(p["number"]),
        }
        for p in pages
    ]


def sections_for_doc(text: str, pages: list[dict], toc: list[dict]) -> list[dict]:
    """The choose-TOC-over-heuristic branch (data_extract.py:165-181)."""
    if toc:
        bounds = [(int(p["start"]), int(p["end"])) for p in pages]
        boxes = charboxes.char_boxes(text, bounds)
        secs = geometry.anchor_toc_sections(toc, bounds, boxes, len(text))
        return [{**s, "source": "toc"} for s in secs]
    return [
        {
            "start": s["start"],
            "end": s["end"],
            "title": s["title"],
            "level": s["level"],
            "source": "heading",
        }
        for s in textseg.detect_sections(text, textseg.paragraph_spans(text))
    ]


def toc_section_rows(res: DataFrame) -> DataFrame:
    """(doc_id, plain_text, pages) results -> one row per section."""

    def rows(doc_id, text, pages):
        pg = pages or []
        toc = synth_toc(pg) if (has_toc(doc_id) and pg) else []
        for s in sections_for_doc(text or "", pg, toc):
            yield (doc_id, int(s["start"]), int(s["end"]), s["title"],
                   int(s["level"]), s["source"])

    return arrowmap.map_rows(
        res.select("doc_id", "plain_text", "pages"), rows, _SCHEMA
    )
