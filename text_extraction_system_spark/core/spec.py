"""ENGINE SPEC v1 — the deterministic contract shared by every implementation.

Two independent implementations must agree byte-for-byte on these semantics:

1. the Spark engine (``operators/`` + ``pipeline.py``), whose per-document
   steps run the per-document library ``core/oracle.py``,
2. the DuckDB ANSI-SQL oracle (``__spark_entry__.oracle_sql``) used by the
   correctness gate.

Reference semantics being modeled (citations into /root/reference/):

* paragraph separator '\\n' and page separator '\\n\\f' — Java
  ``PDFToTextWithCoordinates.java:581-582`` (``setParagraphEnd("\\n")``,
  ``setPageEnd("\\n\\f")``).
* OCR-needed predicate ``text_cover < 0.3 * image_cover`` —
  ``text_extraction_system/pdf/pdf.py:31-33`` (``page_requires_ocr``) with
  area sums per ``calc_covers`` (``pdf/pdf.py:261-273``).
* span re-stitch in original page order — ``tasks.py:394-429`` +
  ``pdf/pdf.py:327-367`` (``merge_pdf_pages``): the north-rule invariant
  "span-sequence equality (kind, text, media_ref, order) per doc_id".
* deterministic OCR stub — sandbox replacement for tesseract
  (``ocr/ocr.py:80-131``); maps media_ref -> text purely by hash so expected
  output is computable without pixel work (FIXTURES.md section 1).
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Span derivation from a flat document (doc_id, text) row.
# ---------------------------------------------------------------------------

#: number of whitespace-separated words per derived text span (a "paragraph")
SPAN_WORDS = 8

#: a media span is injected AFTER text span i iff
#: md5(doc_id || ':' || i)'s first hex char is in MEDIA_HEX (3/16 of spans)
MEDIA_HEX = ("0", "1", "2")

#: media_ref naming scheme for injected media spans
MEDIA_REF_FMT = "media://{doc_id}/{span_idx}"

# ---------------------------------------------------------------------------
# Span contract (a spans-table row: BASELINE.json input_hint)
# ---------------------------------------------------------------------------
#
# A doc's span sequence is well-formed iff the array is not NULL, no span and
# no span field is NULL, and offsets strictly increase from >= 0 and stay
# below MAX_SPAN_OFFSET (gaps are allowed: they are empty pages). A doc that
# breaks the contract is not extracted, never dropped and never an error: it
# yields its one result row with needs_ocr false, no output spans, empty
# plain text, no pages and the single failure code of its first violation:
#   'null_spans'          the spans array is NULL
#   'null_span:<i>'       array element i, or one of its fields, is NULL
#   'bad_offset:<i>'      element i's offset is negative, not above the
#                         previous one, or >= MAX_SPAN_OFFSET

#: exclusive offset bound: at most 2^18 pages per document (about 8M words
#: of derived text), so one stray offset cannot make a worker build billions
#: of empty pages
MAX_SPAN_OFFSET = 1 << 20

# ---------------------------------------------------------------------------
# OCR-decision classifier (reference: page_requires_ocr, pdf/pdf.py:31-33)
# ---------------------------------------------------------------------------

#: text_cover < OCR_RATIO * media_cover  =>  OCR branch fires for the doc
OCR_RATIO = 0.3

#: synthetic media area for a media span: (1 + hexval(md5(media_ref)[0])) * MEDIA_AREA_UNIT
#: hexval in 0..15 via position in '0123456789abcdef'
MEDIA_AREA_UNIT = 40

# ---------------------------------------------------------------------------
# Deterministic OCR stub (sandbox tesseract replacement)
# ---------------------------------------------------------------------------

#: 16-word vocabulary; OCR text = 8 words chosen by the first 8 hex chars of
#: md5(media_ref)
OCR_VOCAB = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
)
OCR_WORDS = 8

# ---------------------------------------------------------------------------
# Plain-text assembly (reference: PDFToTextWithCoordinates.java:581-582)
# ---------------------------------------------------------------------------

#: paragraph separator inside a page
PARAGRAPH_SEP = "\n"
#: appended at the end of every page (after its last paragraph)
PAGE_END = "\n\f"
#: spans with original offset in [PAGE_SPANS*p, PAGE_SPANS*(p+1)) belong to page p
PAGE_SPANS = 4

# ---------------------------------------------------------------------------
# Sentence segmentation (deterministic re-derivation of the lexnlp behavior
# pinned by our own fixtures — SURVEY.md section 7.4 "segmentation parity")
# ---------------------------------------------------------------------------

#: a sentence boundary is any of .!? followed by one space
SENTENCE_BOUNDARY_REGEX = r"(?<=[.!?]) "

# ---------------------------------------------------------------------------
# Language identification (stopword-hit heuristic; reference uses fastText
# lid.176.bin — data_extract/lang.py:13-37 — replaced by a deterministic
# closed-vocabulary scorer)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "that", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "fr": ("le", "la", "les", "et", "un", "une", "dans", "pour", "est", "que"),
}
#: language priority for deterministic tie-breaks (first wins)
LANG_PRIORITY = ("en", "de", "es", "fr")
DEFAULT_LANG = "en"
#: any char in the CJK unified block short-circuits detection to 'zh'
#: (stopword lists don't apply to unsegmented text); literal-range character
#: class is portable between Java regex and RE2
CJK_REGEX = "[一-鿿]"

# ---------------------------------------------------------------------------
# Document fingerprint (rolling polynomial hash over tokens)
# ---------------------------------------------------------------------------

#: base/modulus chosen so acc*base + tok < 2^63 (portable to any SQL engine
#: with 64-bit signed ints: acc < 2^31, base < 2^21 -> product < 2^52)
FP_BASE = 1000003
FP_MOD = (1 << 31) - 1
#: token hash = first FP_HEX_CHARS hex chars of md5(token) as an integer
FP_HEX_CHARS = 7

# ---------------------------------------------------------------------------
# MinHash / shingling for near-dup detection
# ---------------------------------------------------------------------------

SHINGLE_K = 3          # words per shingle
MINHASH_PERMS = 16     # number of affine "permutations" over the shingle hash
LSH_BANDS = 4          # bands of MINHASH_PERMS // LSH_BANDS rows each
#: permutation p: h_p(s) = (a_p * h(s) + p) mod MINHASH_MOD with
#: a_p = ((2p+1) * MINHASH_MULT) mod MINHASH_MOD, h(s) = md5-prefix integer —
#: ONE md5 per shingle, PERMS cheap affine maps. The multiplier must be LARGE:
#: with small a_p the maps rarely wrap the modulus, stay order-preserving,
#: and all permutations pick the same argmin shingle (measured: candidate
#: pairs inflated 80x). a_p*h < 2^62 keeps the arithmetic in int64.
MINHASH_MOD = (1 << 31) - 1
MINHASH_MULT = 2654435761  # Knuth multiplicative-hash constant

# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------

QUALITY_MIN_WORDS = 5
QUALITY_ROUND = 6      # decimals kept on every float emitted by analytics ops
