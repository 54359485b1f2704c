"""Table-detection geometry goldens (reference analog:
test_table_detection.py cluster geometry + integration 'exactly 6 tables'
golden, test_basic_api.py:68-146)."""

from __future__ import annotations

import numpy as np

from text_extraction_system_spark.core import tables as T
from text_extraction_system_spark.operators import tables_op


def _grid(ox, oy, n_rows, n_cols, cw=50, ch=20, gap=4):
    return [
        [ox + c * (cw + gap), oy + r * (ch + gap), cw, ch]
        for r in range(n_rows)
        for c in range(n_cols)
    ]


def test_clean_grid_detected():
    cells = np.array(_grid(10, 10, 4, 3), dtype=float)
    found = T.detect_tables(cells)
    assert len(found) == 1
    t = found[0]
    assert (t["n_rows"], t["n_cols"], t["n_cells"]) == (4, 3, 12)
    assert t["left"] == 10 and t["top"] == 10


def test_too_few_cells_rejected():
    cells = np.array(_grid(10, 10, 2, 2), dtype=float)  # 4 cells < MIN_CELLS
    assert T.detect_tables(cells) == []


def test_single_column_rejected():
    cells = np.array(_grid(10, 10, 6, 1), dtype=float)  # 1 multi-cell column
    assert T.detect_tables(cells) == []


def test_scattered_noise_rejected():
    cells = np.array(
        [[i * 200, i * 300, 30, 12] for i in range(6)], dtype=float
    )
    assert T.detect_tables(cells) == []


def test_two_stacked_tables_split():
    cells = _grid(10, 10, 3, 3) + _grid(10, 400, 4, 2)
    found = T.detect_tables(np.array(cells, dtype=float))
    assert len(found) == 2
    assert (found[0]["n_rows"], found[0]["n_cols"]) == (3, 3)
    assert (found[1]["n_rows"], found[1]["n_cols"]) == (4, 2)


def test_pivot_tolerance():
    """Cells jittered within PIVOT_TOL still cluster into the same column."""
    cells = _grid(10, 10, 4, 3)
    jittered = [[l + (i % 3), t + (i % 2), w, h] for i, (l, t, w, h) in enumerate(cells)]
    found = T.detect_tables(np.array(jittered, dtype=float))
    assert len(found) == 1
    assert found[0]["n_cols"] == 3


def test_synth_ref_one_table_plus_noise():
    """The per-ref stub yields exactly one accepted table; noise boxes never
    form a second one."""
    for i in range(20):
        ref = f"media://tdoc/{i}"
        out = tables_op.detect_tables_for_ref("tdoc", ref)
        assert len(out) == 1, ref
        t = out[0]
        assert t["n_cells"] == t["n_rows"] * t["n_cols"]
        assert all(all(c != "" for c in row) for row in t["data"])


def test_six_tables_archetype(spark):
    """Reference integration golden: a document with 6 table-bearing media
    spans yields exactly 6 tables (test_basic_api.py:68-146 analog)."""
    from text_extraction_system_spark.core import oracle

    # 29 eight-word text spans: this doc id derives exactly 6 media spans
    doc = ("tables_0", " ".join(f"w{i}" for i in range(29 * 8)))
    refs = {s.media_ref for s in oracle.derive_spans(*doc) if s.kind == "media"}
    assert len(refs) == 6
    df = spark.createDataFrame([doc], "doc_id string, text string")
    rows = tables_op.detect_tables(df).collect()
    assert len(rows) == 6
    assert {r["media_ref"] for r in rows} == refs
