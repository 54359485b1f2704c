"""``detect_tables`` operator (SURVEY.md I8-I10) — table regions from media
spans, detected per media span inside the span pass (``spans.media_rows``).

The pixel stage (contours from a rendered page — ``table_detection.py:311+``)
is stubbed: cell boxes are derived deterministically from md5(media_ref), the
same convention as the OCR stub. The geometry clustering, thresholds, grid
assignment and DTO construction (``data_extract/tables.py:10-27`` analog) are
the real logic, shared with pytest goldens through ``core.tables``.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ..core import tables as T
from . import spans

TABLE_ROWS_SCHEMA = (
    "doc_id string, media_ref string, table_idx int, "
    "left double, top double, width double, height double, "
    "n_rows int, n_cols int, n_cells int, data array<array<string>>"
)

_CELL_VOCAB = ("sum", "qty", "rate", "net", "tax", "due", "ref", "id")


def synth_cells(media_ref: str) -> np.ndarray:
    """DETERMINISTIC stub for the contour stage: one aligned grid per media
    ref (dims from the hash) plus scattered noise boxes that must NOT be
    accepted as a table."""
    h = hashlib.md5(media_ref.encode()).hexdigest()
    v = [int(c, 16) for c in h]
    n_rows = 3 + v[0] % 4          # 3..6
    n_cols = 2 + v[1] % 3          # 2..4
    cw, ch = 40 + v[2], 16 + v[3] % 8
    ox, oy = 20 + v[4], 30 + v[5]
    cells = [
        [ox + c * (cw + 4), oy + r * (ch + 4), cw, ch]
        for r in range(n_rows)
        for c in range(n_cols)
    ]
    # noise: v[6] % 3 isolated boxes far below the grid, spread apart
    grid_bottom = oy + n_rows * (ch + 4)
    for k in range(v[6] % 3):
        cells.append(
            [400 + 90 * k + v[7 + k] * 3, grid_bottom + 300 + 200 * k, 30, 12]
        )
    return np.array(cells, dtype=np.float64)


def cell_text(media_ref: str, r: int, c: int) -> str:
    hh = hashlib.md5(f"{media_ref}:{r}:{c}".encode()).hexdigest()
    return _CELL_VOCAB[int(hh[0], 16) % len(_CELL_VOCAB)]


def detect_tables_for_ref(doc_id: str, media_ref: str) -> list[dict]:
    """Single-ref detection: stubbed cells -> geometry clustering -> DTOs."""
    found = T.detect_tables(synth_cells(media_ref))
    out = []
    for idx, t in enumerate(found):
        data = [["" for _ in range(t["n_cols"])] for _ in range(t["n_rows"])]
        for r, c, _cell_i in t["grid"]:
            data[r][c] = cell_text(media_ref, r, c)
        out.append({
            "doc_id": doc_id,
            "media_ref": media_ref,
            "table_idx": idx,
            "left": t["left"],
            "top": t["top"],
            "width": t["width"],
            "height": t["height"],
            "n_rows": t["n_rows"],
            "n_cols": t["n_cols"],
            "n_cells": t["n_cells"],
            "data": data,
        })
    return out


def detect_tables(docs: DataFrame) -> DataFrame:
    """One row per detected table over all media spans of the corpus,
    detected inside the span pass. Like every per-document kernel it runs
    in ``docs``' partitions, so a caller spreads an unsplittable scan first
    (``partitioning.spread_unsplittable``)."""
    return spans.media_rows(
        docs, lambda doc_id, ref, _payload: detect_tables_for_ref(doc_id, ref),
        TABLE_ROWS_SCHEMA,
    )
