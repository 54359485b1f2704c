"""The engine's per-document library: one document's spans, OCR decision,
re-stitched output spans, plain text and structure, in plain Python.

Every per-document step of the engine runs this code. The extraction
kernel (``pipeline._extract``) runs ``derive_spans`` (for documents) and
``stitch`` (the span contract check, ``process_spans`` and ``assemble``);
the span pass (``operators.spans``) runs ``derive_spans``, ``media_spans``,
``covers`` and ``requires_ocr`` for the span, OCR-route, media, table and
rotation operators. The DuckDB twins in ``__spark_entry__.oracle_sql`` are
the independent second implementation the engine is checked against.
The module keeps its old name while the benchmark imports it (ROADMAP
item 0).

``extract`` is the whole lifecycle for one flat ``(doc_id, text)`` row, the
expected value pytest and the benchmark compare pipeline output with
(FIXTURES.md section 2 ``expected_extraction``). ``extract_spans`` scores
each paragraph/sentence slice on its own (``langid.detect_language``), the
reference the kernel's one-scan ``langid.LangIndex`` is checked against.

Reference lifecycle being mirrored: ``process_document`` -> ``process_pdf``
page fan-out -> OCR -> ``merge_pdf_pages`` re-stitch ->
``extract_text_and_structure`` (SURVEY.md section 3.1).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import NamedTuple

from . import langid, ocr_stub, spec, textseg


class Span(NamedTuple):
    """One span, in ``schemas.SPAN`` field order. Immutable, so a span that
    passes through a step unchanged is shared, not copied, and pyarrow
    takes it as the struct tuple it already is."""

    kind: str
    text: str
    media_ref: str
    offset: int


@dataclass
class Extraction:
    doc_id: str
    needs_ocr: bool
    in_spans: list[Span]
    out_spans: list[Span]
    plain_text: str
    title: str
    language: str
    parse_failures: list[str] = field(default_factory=list)
    pages: list[dict] = field(default_factory=list)
    paragraphs: list[dict] = field(default_factory=list)
    sentences: list[dict] = field(default_factory=list)
    sections: list[dict] = field(default_factory=list)


def derive_spans(doc_id: str, text: str) -> list[Span]:
    """Flat text -> interleaved text+media span sequence (spec section 1).

    Reference analog: a PDF is an interleaved sequence of text and image
    elements (``pdf/pdf.py:201-232`` separates them); here the interleaving is
    synthesized deterministically from the document content hash.
    """
    words = [w for w in text.split(" ") if w]
    spans: list[Span] = []
    n_text = (len(words) + spec.SPAN_WORDS - 1) // spec.SPAN_WORDS
    for i in range(n_text):
        chunk = " ".join(words[i * spec.SPAN_WORDS: (i + 1) * spec.SPAN_WORDS])
        spans.append(Span("text", chunk, "", len(spans)))
        h = hashlib.md5(f"{doc_id}:{i}".encode("utf-8")).hexdigest()
        if h[0] in spec.MEDIA_HEX:
            ref = spec.MEDIA_REF_FMT.format(doc_id=doc_id, span_idx=i)
            spans.append(Span("media", "", ref, len(spans)))
    return spans


def media_spans(spans: list[Span]) -> list[tuple[int, Span, str]]:
    """``(index, span, media_hash)`` for each media span, in span order:
    each ref is hashed once, for its area, its OCR text and its payload."""
    return [(i, s, ocr_stub.media_hash(s.media_ref))
            for i, s in enumerate(spans) if s.kind == "media"]


def covers(spans: list[Span], media: list[tuple[int, Span, str]]) -> tuple[int, int]:
    """``(text_cover, media_cover)`` of ``spans``, whose ``media_spans`` are
    ``media``: text characters and synthetic media areas (reference
    calc_covers, pdf/pdf.py:261-273)."""
    text_cover = sum(len(s.text) for s in spans if s.kind == "text")
    return text_cover, sum(ocr_stub.media_area(h) for _, _, h in media)


def requires_ocr(text_cover: int, media_cover: int) -> bool:
    """The OCR decision, reference page_requires_ocr (pdf/pdf.py:31-33):
    text_cover < OCR_RATIO * media_cover."""
    return text_cover < spec.OCR_RATIO * media_cover


def process_spans(spans: list[Span]) -> tuple[bool, list[Span], list[str]]:
    """OCR decision, then re-stitch: ``(needs_ocr, out_spans, failures)``.

    Media spans gain OCR text iff the doc ``requires_ocr`` and the ref is
    decodable (media:// scheme); undecodable refs become failure codes,
    never exceptions. (kind, media_ref, order) are preserved exactly — the
    north-rule invariant (reference merge order: tasks.py:394-429,
    pdf/pdf.py:327-367). A span that gains no OCR text is passed through,
    not copied."""
    media = media_spans(spans)
    ocr = requires_ocr(*covers(spans, media))
    out = list(spans)
    failures: list[str] = []
    for i, s, h in media:
        if not s.media_ref.startswith("media://"):
            failures.append(f"bad_media_ref:{s.offset}")
        elif ocr:
            out[i] = s._replace(text=ocr_stub.ocr_text(h))
    return ocr, out, failures


def span_failure(spans: list[Span | None] | None) -> str | None:
    """The failure code of a span sequence that breaks the span contract
    (``spec.MAX_SPAN_OFFSET``), or None when it holds."""
    if spans is None:
        return "null_spans"
    prev = -1
    for i, s in enumerate(spans):
        if s is None or None in s:
            return f"null_span:{i}"
        if not prev < s.offset < spec.MAX_SPAN_OFFSET:
            return f"bad_offset:{i}"
        prev = s.offset
    return None


def stitch(spans: list[Span | None] | None) -> tuple[bool, list[str], list[Span], str, list[dict]]:
    """One doc's spans -> ``(needs_ocr, parse_failures, out_spans,
    plain_text, pages)``: the span contract check, ``process_spans`` and
    ``assemble``. A doc that breaks the contract gets its failure code and
    empty outputs (spec section "Span contract")."""
    bad = span_failure(spans)
    if bad:
        return False, [bad], [], "", []
    ocr, out, failures = process_spans(spans)
    return (ocr, failures, out, *assemble(out))


def assemble(out_spans: list[Span]) -> tuple[str, list[dict]]:
    """Plain text + page table.

    Page p holds spans with offset in [PAGE_SPANS*p, PAGE_SPANS*(p+1)).
    Page text = '\\n'.join(non-empty span texts) + '\\n\\f'
    (separators per PDFToTextWithCoordinates.java:581-582).
    Returns (plain_text, pages) with char-offset page bounds
    (dto.py:87-98 PlainTextPage semantics; bbox fixed US-Letter, rotation 0).
    """
    if not out_spans:
        return "", []
    n_pages = out_spans[-1].offset // spec.PAGE_SPANS + 1
    by_page: list[list[str]] = [[] for _ in range(n_pages)]
    for s in out_spans:
        if s.text:
            by_page[s.offset // spec.PAGE_SPANS].append(s.text)
    text_parts: list[str] = []
    pages: list[dict] = []
    pos = 0
    for p in range(n_pages):
        # F5: NUL chars are scrubbed from the assembled text (reference
        # data_extract.py:113-114) — after joining, so a NUL-only span still
        # contributes its separator slot
        page_text = (spec.PARAGRAPH_SEP.join(by_page[p])).replace("\x00", "") + spec.PAGE_END
        pages.append({
            "number": p,
            "start": pos,
            "end": pos + len(page_text),
            "bbox": [0.0, 0.0, 612.0, 792.0],
            "rotation": 0,
        })
        text_parts.append(page_text)
        pos += len(page_text)
    return "".join(text_parts), pages


def extract(doc_id: str, text: str) -> Extraction:
    """Full oracle pipeline for one document."""
    in_spans = derive_spans(doc_id, text)
    return extract_spans(doc_id, in_spans)


def extract_spans(doc_id: str, in_spans: list[Span | None] | None) -> Extraction:
    """Oracle pipeline over an already-materialized span sequence (used for
    the archetype corpus where spans are authored directly)."""
    ocr, failures, out_spans, plain_text, pages = stitch(in_spans)
    paras = textseg.paragraph_spans(plain_text)
    paragraphs = [
        {"start": s, "end": e, "language": langid.detect_language(plain_text[s:e])}
        for s, e in paras
    ]
    sentences = [
        {"start": s, "end": e, "language": langid.detect_language(plain_text[s:e])}
        for s, e in textseg.sentence_spans(plain_text, paras)
    ]
    return Extraction(
        doc_id=doc_id,
        needs_ocr=ocr,
        in_spans=in_spans,
        out_spans=out_spans,
        plain_text=plain_text,
        title=textseg.detect_title(plain_text, paras),
        language=langid.detect_language(plain_text),
        parse_failures=failures,
        pages=pages,
        paragraphs=paragraphs,
        sentences=sentences,
        sections=textseg.detect_sections(plain_text, paras),
    )
