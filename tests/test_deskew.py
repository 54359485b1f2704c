"""Deskew composition tests (A2-A4, W7 analogs)."""

from __future__ import annotations

import numpy as np

from text_extraction_system_spark.core import deskew


def test_histogram_rounding():
    h = deskew.page_angle_histogram(np.array([0.04, 0.06, 0.11, 90.0]))
    assert h == {0.0: 1, 0.1: 2, 90.0: 1}


def test_straight_page():
    res = deskew.detect_page_rotation(np.zeros(500))
    assert res["rotation"] == 0.0 and res["skew"] == 0.0


def test_small_skew_detected():
    angs = np.full(400, 2.3) + np.concatenate([np.zeros(399), [0.1]])
    res = deskew.detect_page_rotation(angs)
    assert res["rotation"] == 0.0
    assert abs(res["skew"] - 2.3) < 0.05


def test_rotated_90_with_skew():
    angs = np.full(300, 88.0)  # 90-degree page with -2 skew
    res = deskew.detect_page_rotation(angs)
    assert res["rotation"] == 90.0
    assert abs(res["skew"] - (-2.0)) < 1e-9


def test_rotated_180():
    res = deskew.detect_page_rotation(np.full(200, 179.6))
    assert res["rotation"] == -180.0
    assert abs(res["skew"] - (-0.4)) < 1e-6


def test_minority_angle_ignored():
    """A watermark at 45 degrees must not sway the dominant cluster."""
    angs = np.concatenate([np.zeros(900), np.full(40, 45.0)])
    res = deskew.detect_page_rotation(angs)
    assert res["rotation"] == 0.0 and abs(res["skew"]) < 0.5
    assert deskew.processing_order(res["clusters"]) == [0.0, 45.0]


def test_noise_rejected_by_std():
    """Angles spread uniformly chain-merge into one wide cluster centered at
    zero -> no meaningful correction (fp residue tolerated)."""
    angs = np.linspace(-170, 170, 300)
    res = deskew.detect_page_rotation(angs)
    assert abs(res["skew"]) < 1e-9
    # a genuinely bimodal noisy cluster IS std-rejected (std > 30)
    assert deskew.cluster_skew([(-40.0, 100), (40.0, 100), (-30.0, 80), (30.0, 80)]) == 0.0


def test_trend_fallback():
    """No glyph angles, but glyph advances point downward -> 90 rotation."""
    res = deskew.detect_page_rotation(
        np.array([]), dx=np.zeros(60), dy=np.ones(60)
    )
    assert res["rotation"] == 90.0
    # too few samples -> no decision
    res2 = deskew.detect_page_rotation(np.array([]), dx=np.zeros(5), dy=np.ones(5))
    assert res2["rotation"] == 0.0


def test_trend_left_to_right_is_upright():
    res = deskew.detect_page_rotation(np.array([]), dx=np.ones(100), dy=np.zeros(100))
    assert res["rotation"] == 0.0


def test_deskew_operator_matches_core(spark):
    """The distributed operator (synthetic glyph arrays -> one mapInArrow
    pass) agrees with a driver-side rerun of core.deskew on the same
    ``synth_glyph_arrays`` rows."""
    import math

    from text_extraction_system_spark.operators import deskew_op

    docs = spark.createDataFrame([(str(i),) for i in range(80)], "doc_id string")
    glyphs = deskew_op.synth_glyph_arrays(docs).collect()
    rows = deskew_op.deskew_rows(deskew_op.synth_glyph_arrays(docs)).collect()
    got = {r["doc_id"]: r for r in rows}
    assert len(glyphs) == len(got) == 80
    for g in glyphs:
        exp = deskew.detect_page_rotation(
            *(np.asarray(g[c], dtype=np.float64) for c in ("angles", "dxs", "dys"))
        )
        row = got[g["doc_id"]]
        assert row["rotation"] == int(exp["rotation"]), g["doc_id"]
        assert row["skew_milli"] == int(math.floor(exp["skew"] * 1000.0 + 0.5)), g["doc_id"]
        assert row["n_clusters"] == len(exp["clusters"]), g["doc_id"]
        assert row["top_count"] == (int(exp["clusters"][0][1]) if exp["clusters"] else 0)
    # the corpus exercises both the glyph histogram and the trend fallback
    assert any(g["angles"] for g in glyphs) and any(g["dxs"] for g in glyphs)
