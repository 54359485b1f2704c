"""Deterministic OCR stub — the sandbox stand-in for tesseract.

Reference analog: ``ocr/ocr.py:80-131`` (``ocr_page_to_pdf``) runs tesseract
``--psm 1 -c textonly_pdf=1`` per page image. Here, media bytes do not exist;
instead the recognized text is a pure function of ``media_ref`` so that
expected outputs are computable without pixel work (FIXTURES.md section 1
"Determinism"). Media payloads are synthetic too (``media_payload``). Each
function reads the ref's md5 hex digest only, so the DuckDB twins replay it
with md5 and hex-char positions.
"""

from __future__ import annotations

import hashlib

from . import spec

_HEX = "0123456789abcdef"


def media_hash(media_ref: str) -> str:
    """md5 hex digest of ``media_ref``; ``ocr_text`` and ``media_area`` read
    it, so a caller hashes each ref once."""
    return hashlib.md5(media_ref.encode("utf-8")).hexdigest()


def ocr_text(digest: str) -> str:
    """Recognized text for a media span: OCR_WORDS vocab words picked by the
    first hex chars of its ``media_hash``."""
    return " ".join(spec.OCR_VOCAB[_HEX.index(c)] for c in digest[: spec.OCR_WORDS])


def media_area(digest: str) -> int:
    """Synthetic pixel-area of a media span from its ``media_hash``, used by
    the OCR-decision classifier (reference: calc_covers,
    pdf/pdf.py:261-273)."""
    return (1 + _HEX.index(digest[0])) * spec.MEDIA_AREA_UNIT


def media_payload(digest: str) -> bytes:
    """Synthetic binary payload of a media span from its ``media_hash``:
    the md5 digest bytes repeated ``1 + hexval(digest[0])`` times (16..256
    bytes), the stand-in for an image's bytes."""
    return bytes.fromhex(digest) * (1 + _HEX.index(digest[0]))
