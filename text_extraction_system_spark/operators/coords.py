"""Char-coordinate operators: box construction + coordinate<->text queries.

``with_char_boxes`` produces the reference's PDFCoordinates analog as an
``array<array<float>>`` column via Arrow batches (``dto.py:168-173``); the
``char_coord_stats`` rows feed the oracle-checked query (the full box array
is validated by pytest invariants, the aggregates by DuckDB).

All four operators run the batched kernel (``charboxes.BatchBoxes``): one
numpy pass over the concatenation of the whole Arrow batch's texts instead
of python-per-document / python-per-paragraph loops — the per-paragraph
``line_areas`` calls alone were ~60% of the text_coords query's wall time.
The three query operators cross the Python boundary through
``arrowmap.map_batches``, ``with_char_boxes`` through
``arrowmap.append_column``.
The batched outputs are pinned row-for-row against the per-doc kernels by
pytest (tests/test_charboxes.py, tests/test_geometry.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import arrowmap
from ..core import charboxes

CHAR_STATS_SCHEMA = (
    "doc_id string, n_chars long, n_boxes long, n_zero long, sum_x long, sum_y long"
)


def _batch(texts: list, pages: list) -> tuple[list[str], charboxes.BatchBoxes]:
    texts = [t or "" for t in texts]
    bounds = [[(p["start"], p["end"]) for p in ps or []] for ps in pages]
    return texts, charboxes.BatchBoxes(texts, bounds)


def _coord_pass(assembled: DataFrame, kernel, schema: str) -> DataFrame:
    """One ``arrowmap.map_batches`` pass over (doc_id, plain_text, pages):
    ``kernel(doc_ids, texts, boxes)`` maps a batch to its output columns."""

    def gen(batches):
        for doc_ids, texts, pages in batches:
            texts, bb = _batch(texts, pages)
            yield kernel(np.asarray(doc_ids, dtype=object), texts, bb)

    return arrowmap.map_batches(
        assembled.select("doc_id", "plain_text", "pages"), gen, schema
    )


def char_coord_stats(assembled: DataFrame) -> DataFrame:
    """Per-doc char-box aggregates (len(text)==len(boxes) is part of the
    emitted data: n_chars vs n_boxes)."""

    def kernel(doc_ids, texts, bb):
        n = bb.doc_off[1:] - bb.doc_off[:-1]
        # n_boxes == n_chars is the invariant: one box per char; box coords
        # are integral multiples of CHAR_W/H, so the sums are exact int64
        return (doc_ids, n, n, bb.doc_sums(~bb.printable),
                bb.doc_sums(bb.boxes[:, 0]), bb.doc_sums(bb.boxes[:, 1]))

    return _coord_pass(assembled, kernel, CHAR_STATS_SCHEMA)


#: J5 selection area: everything on page-local lines 1 and 2, any column
#: (y in [CHAR_H, 3*CHAR_H), x unbounded)
SELECTION_AREA = (0.0, charboxes.CHAR_H, 1e9, 2 * charboxes.CHAR_H)

TEXT_COORDS_SCHEMA = (
    "doc_id string, par_start long, par_end long, x long, y long, w long, h long"
)
COORDS_TEXT_SCHEMA = "doc_id string, sel_start long, sel_end long, sel_text string"


def text_to_coords(assembled: DataFrame) -> DataFrame:
    """J6 text->coords: every paragraph's char span -> merged per-line
    rectangles (reference ``text_coord_map.py:41-150``). A paragraph is a
    maximal run containing no '\\n'/'\\f' (textseg.paragraph_spans), so every
    char in it is printable and on ONE line of one page — the merged rect is
    (first x, line y, last x + CHAR_W - first x, CHAR_H), computed for ALL
    paragraphs of the batch by indexing the run endpoints (equality with the
    per-paragraph ``geometry.line_areas`` path is pinned by pytest). Integral
    CHAR_W/CHAR_H keep the emitted coords exact bigints (SQL-oracle-checkable).
    """

    def kernel(doc_ids, texts, bb):
        starts, ends, docs = bb.runs(bb.printable)
        x0 = bb.boxes[starts, 0].astype(np.int64)
        y0 = bb.boxes[starts, 1].astype(np.int64)
        x1 = (bb.boxes[ends - 1, 0] + bb.boxes[ends - 1, 2]).astype(np.int64)
        off = bb.doc_off[docs]
        return (doc_ids[docs], starts - off, ends - off, x0, y0, x1 - x0,
                np.full(len(starts), int(charboxes.CHAR_H), dtype=np.int64))

    return _coord_pass(assembled, kernel, TEXT_COORDS_SCHEMA)


def coords_to_text(assembled: DataFrame) -> DataFrame:
    """J5 coords->text: the longest run of consecutive chars overlapping the
    SELECTION_AREA (>= 20% of each char's own box) and its text — reference
    ``coord_text_map.py:96-128`` find_longest_location. Separator chars have
    zero boxes, so runs never cross lines; the area covers page-local lines
    1-2 of every page, and the winner is the longest such run (earliest on
    ties, matching argmax-first semantics). One vectorized overlap pass over
    the whole batch, then a per-doc first-of-group selection."""
    from ..core import geometry

    def kernel(doc_ids, texts, bb):
        if len(bb.printable) == 0:
            return [], [], [], []
        starts, ends, docs = bb.runs(geometry.overlaps_enough(bb.boxes, SELECTION_AREA))
        # per doc: longest run, earliest start on ties (argmax-first)
        order = np.lexsort((starts, -(ends - starts), docs))
        _, first = np.unique(docs[order], return_index=True)
        best = order[first]
        off = bb.doc_off[docs[best]]
        ls = starts[best] - off
        le = ends[best] - off
        return (doc_ids[docs[best]], ls, le,
                [texts[d][s:e] for d, s, e in zip(docs[best], ls, le)])

    return _coord_pass(assembled, kernel, COORDS_TEXT_SCHEMA)


def with_char_boxes(assembled: DataFrame) -> DataFrame:
    """Append the full char-bbox array column (float32 rows of [x,y,w,h]),
    one box per char of ``plain_text``, in one narrow pass."""

    def boxes(texts, pages):
        _, bb = _batch(texts, pages)
        return [bb.boxes[s:e].tolist() for s, e in zip(bb.doc_off[:-1], bb.doc_off[1:])]

    return arrowmap.append_column(
        assembled, "char_bboxes", T.ArrayType(T.ArrayType(T.FloatType())),
        boxes, "plain_text", "pages",
    )
