"""Deskew over a per-page glyph-angle table (SURVEY.md A2-A4, W7).

Reference composition being exercised end-to-end here:
``PDFToTextWithCoordinates.java:372-451`` (per-page char-angle histogram ->
cluster -> weighted 10%-trimmed mean -> snap to the nearest right angle) with
the reading-direction trend fallback (``getAngleByTrend`` Java :354-370) and
the python twin ``ocr/rotation_detection.py:165-230``. The numeric core lives
in ``core.deskew`` / ``core.angles`` (golden-tested); this module gives it a
distributed operator + a deterministic synthetic glyph corpus so the whole
composition is DuckDB-oracle-checkable by the driver.

Scale shape: a page's glyphs live in per-doc arrays, so the operator is one
narrow ``arrowmap.map_rows`` pass (numpy inside) — no shuffle, no
driver-side collection, and per-row state is O(glyphs-per-page).

Cross-engine float discipline (the oracle must match the numpy result
bit-for-bit): glyph angles are integers, per-page member weight totals are
powers of two (32/64), so histogram counts, cluster representatives
(one exact int/int division) and the cumulative weight shares (dyadic
rationals) are exact in both engines; the only order-sensitive reduction —
the final sum of value*clipped-share products — is a left fold both in numpy
(sequential for n < 8 elements; member sets here are 4-5 bins) and in the
oracle's ``list_reduce``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import arrowmap, schemas
from ..core import deskew

_HEX = "0123456789abcdef"

#: number of reading-direction shift samples synthesized per trend doc
#: (> deskew.MIN_TREND_SAMPLES)
TREND_SHIFTS = 48

def _hp(h: Column, i: int) -> Column:
    """1-based hex value (1..16) of char i of an md5 hex string."""
    return F.instr(F.lit(_HEX), F.substring(h, i, 1))


def synth_glyph_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, angles, dxs, dys): a deterministic per-doc glyph-angle /
    reading-trend sample derived from md5(doc_id) — the sandbox stand-in for
    the text-matrix angles a PDF parser would emit, kept in per-doc arrays
    (one element per glyph / per consecutive-glyph shift). Catalyst
    expressions, replayed step by step by the ``deskew`` DuckDB oracle.

    Per doc (hp(i) = hex value 1..16 of md5 char i):

    * trend doc (hp1 <= 2): no glyphs; TREND_SHIFTS (dx, dy) shifts whose
      signs come from md5 chars, axis chosen by (hp2-1)%4
      (right/left/down/up).
    * glyph doc: base rotation ((hp2-1)%4)*90, integer skew hp3-8 in
      [-7, 8]; five histogram bins at base+skew+d, d in -2..2 with counts
      1+(hp(4..7)-1)%8 and a balancing last bin so the total is 32 or 64
      (power of two — keeps weight shares dyadic-exact, see module doc);
      plus a decoy cluster 20 degrees away with 0-3 glyphs.
    """
    from .exprutil import let

    h = F.md5("doc_id")
    is_trend = _hp(h, 1) <= 2
    base = ((_hp(h, 2) - 1) % 4) * 90
    skew = _hp(h, 3) - 8
    c4 = [(1 + (_hp(h, k) - 1) % 8) for k in (4, 5, 6, 7)]
    tot = 32 * (1 + (_hp(h, 9) - 1) % 2)
    c_last = tot - (c4[0] + c4[1] + c4[2] + c4[3])
    decoy = (_hp(h, 8) - 1) % 4

    def rep(cnt: Column, val: Column) -> Column:
        # sequence(1, 0) would be a DESCENDING 2-element sequence — guard
        return F.when(
            cnt > 0,
            F.transform(F.sequence(F.lit(1), cnt), lambda _: val.cast("int")),
        ).otherwise(F.array().cast("array<int>"))

    counts = dict(zip((-2, -1, 0, 1), c4))
    counts[2] = c_last
    angles_arr = F.concat(
        *[rep(counts[d], base + skew + d) for d in (-2, -1, 0, 1, 2)],
        rep(decoy, base + skew + 20),
    )
    angles_arr = F.when(is_trend, F.array().cast("array<int>")).otherwise(angles_arr)

    dmode = (_hp(h, 2) - 1) % 4
    shifts = F.when(
        is_trend,
        F.transform(
            F.sequence(F.lit(1), F.lit(TREND_SHIFTS)),
            lambda i: F.struct(
                F.when(dmode == 0, _hv(h, i)).when(dmode == 1, -_hv(h, i))
                .otherwise(F.lit(0)).cast("int").alias("dx"),
                F.when(dmode == 2, _hv(h, i)).when(dmode == 3, -_hv(h, i))
                .otherwise(F.lit(0)).cast("int").alias("dy"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<dx:int,dy:int>>"))

    return docs.select(
        "doc_id",
        angles_arr.alias("angles"),
        let(
            shifts,
            lambda s: F.struct(
                F.transform(s, lambda x: x["dx"]).alias("dxs"),
                F.transform(s, lambda x: x["dy"]).alias("dys"),
            ),
        ).alias("c"),
    ).select("doc_id", "angles", "c.dxs", "c.dys")


def _hv(h: Column, i: Column) -> Column:
    """Signed hex value in [-7, 8] from md5 char 1 + (i*7)%32."""
    return F.instr(F.lit(_HEX), F.substring(h, (i * 7) % 32 + 1, 1)) - 8


def deskew_rows(arrs: DataFrame) -> DataFrame:
    """(doc_id, angles, dxs, dys) per-doc glyph arrays (``synth_glyph_arrays``)
    -> one deskew decision per doc: (rotation multiple of 90, residual skew
    in milli-degrees half-up, n_clusters, dominant cluster glyph count).
    One ``arrowmap.map_rows`` pass runs ``core.deskew.detect_page_rotation``
    on each doc's arrays where they sit: no explode, no gather."""

    def rows(doc_id, angles, dxs, dys):
        r = deskew.detect_page_rotation(
            np.asarray(angles, dtype=np.float64),
            np.asarray(dxs, dtype=np.float64),
            np.asarray(dys, dtype=np.float64),
        )
        yield (
            doc_id,
            int(r["rotation"]),
            int(math.floor(r["skew"] * 1000.0 + 0.5)),
            len(r["clusters"]),
            int(r["clusters"][0][1]) if r["clusters"] else 0,
        )

    return arrowmap.map_rows(
        arrs.select("doc_id", "angles", "dxs", "dys"), rows,
        "doc_id string, rotation int, skew_milli bigint, n_clusters int, top_count int",
    )


def deskew_query(spark, sf_dir: str) -> DataFrame:
    # single row-group input: spread the scan or the glyph synthesis runs
    # in one task (see partitioning.spread_unsplittable)
    from .partitioning import spread_unsplittable

    docs = spread_unsplittable(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    return deskew_rows(synth_glyph_arrays(schemas.keyed(docs)))
