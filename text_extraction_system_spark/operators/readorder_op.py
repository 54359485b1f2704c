"""Reading-order reconstruction over multi-column word-box pages
(north_star "column and reading-order reconstruction"; SURVEY.md layout
parse — Java sortByPosition / processPage visual re-sort analog).

Deterministic synthetic layout (the sandbox stand-in for the glyph boxes a
PDF parser emits): each doc's tokens are typeset 4 words per line on a
1-3-column page (column count from md5), columns filled top-to-bottom then
left-to-right — and the boxes are handed to the reconstruction in a
SCRAMBLED, md5-keyed order, so the only way to reproduce the original token
sequence is to actually reconstruct the columns geometrically. The oracle is
therefore brutal and simple: reconstructed text must equal the token stream.

Scale shape: one ``arrowmap.map_rows`` pass per document synthesizes its
scrambled boxes and reconstructs them with core.readorder (numpy
x-projection cut) — no shuffle, one Python crossing, no driver-side state.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from .. import arrowmap, schemas
from ..core import readorder
from . import textstats

WORDS_PER_LINE = 4
LINE_H = 20
CHAR_W = 8


def scrambled_boxes(doc_id: str, text: str) -> list:
    """(shuffle key, word, x, y, w) per token, sorted by the md5-hex shuffle
    key — the doc's word boxes in scrambled order.

    Layout: line(i) = i//4; columns split the line range evenly
    (lines_per_col = ceil(total_lines/n_cols)); per-doc column pitch =
    32*(max_word_len+1) + 40, so the inter-column gap always exceeds the
    intra-line word gap (8 px) by more than COLUMN_GAP_MIN. Integer layout
    arithmetic, exact as doubles.

    A NULL ``doc_id`` has no per-doc hash key: its page is one column and
    its boxes keep their typeset order (as in the oracle, whose
    ``md5('cols:' || doc_id)`` is NULL there)."""
    def key(s: str) -> str:
        return "" if doc_id is None else hashlib.md5(s.encode()).hexdigest()

    toks = textstats.py_tokens(text)
    n_cols = 1 if doc_id is None else 1 + int(key(f"cols:{doc_id}")[0], 16) % 3
    total_lines = -(-len(toks) // WORDS_PER_LINE)
    lines_per_col = -(-total_lines // n_cols) if total_lines else 1
    max_len = max((len(t) for t in toks), default=0)
    pitch = (WORDS_PER_LINE * CHAR_W) * (max_len + 1) + 40
    boxes = []
    x_in_line = 0
    for i, word in enumerate(toks):
        line, k = divmod(i, WORDS_PER_LINE)
        if k == 0:
            x_in_line = 0
        boxes.append((
            key(f"{doc_id}:{i}"), word,
            float(line // lines_per_col * pitch + x_in_line),
            float((line % lines_per_col) * LINE_H),
            float(CHAR_W * len(word)),
        ))
        x_in_line += CHAR_W * (len(word) + 1)
    boxes.sort(key=lambda b: b[0])  # stable: equal keys keep typeset order
    return boxes


def reading_order_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) documents -> (doc_id, reconstructed, n_columns): each
    doc's scrambled word boxes go through column detection + visual
    ordering (core.readorder) in the same row function. Zero-token docs
    have no boxes, hence no row. Pinned by the ``reading_order`` oracle."""

    def rows(doc_id, text):
        boxes = scrambled_boxes(doc_id, text)
        if not boxes:
            return
        _, words, xs, ys, ws = zip(*boxes)
        x, w = np.array(xs), np.array(ws)
        order = readorder.reading_order(x, np.array(ys), w)
        yield doc_id, " ".join(words[i] for i in order), readorder.n_columns(x, w)

    return arrowmap.map_rows(
        schemas.documents(docs), rows, "doc_id string, reconstructed string, n_columns int"
    )


def reading_order_query(spark, sf_dir: str) -> DataFrame:
    # single row-group input: spread the scan or every downstream kernel
    # runs in one task (see partitioning.spread_unsplittable)
    from .partitioning import spread_unsplittable

    return reading_order_rows(spread_unsplittable(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    ))
