"""Rotation detection over media spans (SURVEY.md A5/A6/F4/C1 analogs).

In the reference, per-page pixel work (tile deskew / dilated-contour
estimates) produces a raw angle which is then normalized, snapped to the
nearest right angle (or rejected), and gated by ``should_correct_rotation``
(``data_extract.py:386-418``). The sandbox has no cv2, so the Catalyst query
path uses the deterministic stub ``(hexval(md5(media_ref)[3]) * 24) - 180``;
``detect_rotation`` additionally carries a REAL pixel estimator — the
reference's tile-mode scheme (``ocr/rotation_detection.py:98-126``) over a
projection-profile per-tile skew — that runs whenever a PIL-like module can
decode the payload, with the stub as the never-raise fallback (the same
fence as ``multimodal._resize_payload``). The downstream normalize/snap/
guard pipeline is Catalyst columns with a SQL twin either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import derive_spans as ds

_HEX = "0123456789abcdef"

SNAP_MAX_DIFF = 10.0
#: correction is skipped when the doc is text-dominated (reference guard:
#: word_percent > 40 -> don't rotate; data_extract.py:386-418)
TEXT_DOMINANCE_GUARD = 0.4


def raw_angle_col(media_ref: Column) -> Column:
    """Deterministic stub for the pixel-domain angle estimate."""
    hexval = F.instr(F.lit(_HEX), F.substring(F.md5(media_ref), 3, 1)) - 1
    return (hexval.cast("double") * 24.0) - 180.0


def norm_angle_col(a: Column) -> Column:
    """[-180, 180) — twin of core.angles.norm_angle."""
    m = a - F.floor(a / 360.0) * 360.0
    return F.when(m < 180.0, m).otherwise(m - 360.0)


def snap_rotation_col(a: Column, max_diff: float = SNAP_MAX_DIFF) -> Column:
    """Twin of core.angles.snap_rotation."""
    n = norm_angle_col(a)
    return F.when(
        F.abs(n - F.round(n / 90.0, 0) * 90.0) > max_diff, F.lit(0.0)
    ).otherwise(n)


def normalize_angle_90_col(a: Column) -> Column:
    """Twin of core.angles.normalize_angle_90 (inscribe into [-45, 45])."""
    sign = F.when(a < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    aa = F.abs(a)
    return sign * F.when(aa > 45.0, aa - 90.0).otherwise(aa)


#: candidate skew angles for the projection-profile estimate (0.5-degree
#: grid over the deskew range — quantization is what makes "most frequent
#: tile angle" meaningful)
_SKEW_ANGLES = tuple(x / 2.0 for x in range(-90, 91))
#: tile height (reference IMAGE_PART_SIZE analog, scaled to this container's
#: small synthetic images)
TILE_PART_SIZE = 32


def stub_raw_angle(media_ref: str) -> float:
    """Python twin of ``raw_angle_col`` (the deterministic no-pixels stub)."""
    import hashlib

    return float(_HEX.index(hashlib.md5(media_ref.encode()).hexdigest()[2])) * 24.0 - 180.0


def _tile_skew(ink_ys, ink_xs) -> float | None:
    """Projection-profile skew of one tile's ink pixels: the candidate angle
    whose sheared horizontal projection has maximal variance (the standard
    projection-profile deskew criterion — sharp text-line profiles are
    high-variance). Returns None for empty tiles, like the reference's
    per-tile ``determine_skew`` (``ocr/rotation_detection.py:115-117``)."""
    import numpy as np

    if len(ink_ys) == 0:
        return None
    best_a, best_v = None, -1.0
    for a in _SKEW_ANGLES:
        idx = np.floor(ink_ys + np.tan(np.radians(a)) * ink_xs).astype(np.int64)
        prof = np.bincount(idx - idx.min())
        v = float(prof.var())
        if v > best_v:
            best_v, best_a = v, float(a)
    return best_a


def _most_frequent_tile_angle(gray, part_size: int = TILE_PART_SIZE) -> float | None:
    """The reference's tile-mode estimate (A5,
    ``ocr/rotation_detection.py:98-126`` detect_rotation_most_frequent):
    split along the longer axis into part_size tiles, estimate skew per
    tile, return the most frequent angle if any repeats, else the median —
    per-tile voting defuses documents whose global alignment fakes a skew."""
    import statistics

    import numpy as np
    from collections import Counter

    gray = np.asarray(gray, dtype=np.float64)
    if gray.ndim != 2 or gray.size == 0:
        return None
    ink = gray < gray.mean()  # Otsu-free threshold: darker-than-mean is ink
    h, w = ink.shape
    n_parts = max(round((h if h >= w else w) / part_size), 1)
    tiles = (
        [ink[i * part_size:(i + 1) * part_size] for i in range(n_parts)]
        if h >= w
        else [ink[:, i * part_size:(i + 1) * part_size] for i in range(n_parts)]
    )
    angles = []
    for t in tiles:
        ys, xs = np.nonzero(t)
        a = _tile_skew(ys.astype(np.float64), xs.astype(np.float64))
        if a is not None:
            angles.append(a)
    if not angles:
        return None
    (top_angle, top_n), = Counter(angles).most_common(1)
    if top_n > 1:
        return top_angle
    return float(statistics.median(angles))


#: dilated-rows parameters (reference ocr/rotation_detection.py:17-21):
#: 11x11 Gaussian blur, 30x5 rect dilation kernel applied 5 times
DILATE_BLUR_KSIZE = 11
DILATE_KERNEL = (30, 5)
DILATE_ITERS = 5


def _gaussian_blur(gray, ksize: int = DILATE_BLUR_KSIZE):
    """Separable Gaussian blur; sigma follows cv2's sigma=0 convention
    (0.3*((ksize-1)*0.5 - 1) + 0.8)."""
    import numpy as np

    sigma = 0.3 * ((ksize - 1) * 0.5 - 1.0) + 0.8
    r = ksize // 2
    k = np.exp(-0.5 * (np.arange(-r, r + 1) / sigma) ** 2)
    k /= k.sum()
    pad = np.pad(gray, ((0, 0), (r, r)), mode="edge")
    win = np.lib.stride_tricks.sliding_window_view(pad, ksize, axis=1)
    out = win @ k
    pad = np.pad(out, ((r, r), (0, 0)), mode="edge")
    win = np.lib.stride_tricks.sliding_window_view(pad, ksize, axis=0)
    return win @ k


def _otsu_ink(gray):
    """Boolean ink mask via Otsu's threshold on a 256-bin histogram —
    the cv2.THRESH_BINARY_INV + THRESH_OTSU analog (dark pixels = ink)."""
    import numpy as np

    g = np.clip(gray, 0, 255).astype(np.uint8)
    hist = np.bincount(g.ravel(), minlength=256).astype(np.float64)
    n = hist.sum()
    if n == 0:
        return np.zeros_like(g, dtype=bool)
    w0 = np.cumsum(hist)
    m = np.cumsum(hist * np.arange(256))
    w1 = n - w0
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = m / w0
        mu1 = (m[-1] - m) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between = np.where(np.isfinite(between), between, -1.0)
    t = int(np.argmax(between))  # constant image -> t=0 -> white page has no ink
    return g <= t


def _dilate_rect(mask, kernel=DILATE_KERNEL, iters: int = DILATE_ITERS):
    """Binary dilation by a rect kernel applied ``iters`` times, computed in
    one shot as a centered box-OR with the composed window size
    ((k-1)*iters + 1 per axis, odd-centered) via an integral image —
    O(pixels) independent of kernel size. The wide-X kernel merges glyphs
    into line bars; the short-Y keeps separate text lines apart."""
    import numpy as np

    kx, ky = kernel
    wx = (kx - 1) * iters + 1
    wy = (ky - 1) * iters + 1
    rx, ry = wx // 2, wy // 2
    h, w = mask.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(mask, axis=0), axis=1, out=ii[1:, 1:])
    y0 = np.clip(np.arange(h) - ry, 0, h)
    y1 = np.clip(np.arange(h) + ry + 1, 0, h)
    x0 = np.clip(np.arange(w) - rx, 0, w)
    x1 = np.clip(np.arange(w) + rx + 1, 0, w)
    s = (ii[y1][:, x1] - ii[y0][:, x1] - ii[y1][:, x0] + ii[y0][:, x0])
    return s > 0


def _rle_components(mask):
    """8-connected components over row runs (classic RLE labeling): returns
    (run_y, run_s, run_e_exclusive, run_component_id). Python work is
    O(rows + runs) with vectorized per-row overlap ranges — dilation leaves
    few, long runs, so this stays cheap without cv2/scipy."""
    import numpy as np

    h, _w = mask.shape
    padded = np.pad(mask, ((0, 0), (1, 1)))
    d = np.diff(padded.astype(np.int8), axis=1)
    ys, starts = np.where(d == 1)
    _ys2, ends = np.where(d == -1)
    n = len(ys)
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    row_ofs = np.searchsorted(ys, np.arange(h + 1))
    for y in range(1, h):
        a0, a1 = row_ofs[y - 1], row_ofs[y]
        b0, b1 = row_ofs[y], row_ofs[y + 1]
        if a0 == a1 or b0 == b1:
            continue
        # run [s,e) in row y-1 touches [bs,be) in row y (8-conn) iff
        # s <= be and bs <= e; runs per row are sorted and disjoint
        lo = np.searchsorted(ends[a0:a1], starts[b0:b1], side="left")
        hi = np.searchsorted(starts[a0:a1], ends[b0:b1], side="right")
        for bi, (l, r) in enumerate(zip(lo, hi)):
            rb = find(b0 + bi)
            for ai in range(a0 + l, a0 + r):
                ra = find(ai)
                if ra != rb:
                    parent[ra] = rb
                    rb = rb if find(rb) == rb else find(rb)
    roots = np.array([find(i) for i in range(n)])
    _, comp = np.unique(roots, return_inverse=True)
    return ys.astype(np.float64), starts.astype(np.float64), ends.astype(np.float64), comp


def _convex_hull(pts):
    """Andrew monotone chain; pts (n, 2) float. Returns hull vertices in
    counter-clockwise order (in a y-down frame), without the closing point."""
    import numpy as np

    pts = np.unique(pts, axis=0)  # lexsorted by (x, y)
    if len(pts) <= 2:
        return pts

    def half(seq):
        out: list = []
        for p in seq:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def _min_area_rect(pts):
    """Rotating calipers over the convex hull: (angle_of_best_edge_deg,
    rect_area) of the minimum-area enclosing rectangle — the cv2
    minAreaRect analog (one side of the min rect is collinear with a hull
    edge). Degenerate hulls (point / segment) get angle from the segment
    and area from its pixel extent."""
    import numpy as np

    hull = _convex_hull(pts)
    if len(hull) == 1:
        return 0.0, 1.0
    edges = np.roll(hull, -1, axis=0) - hull
    lens = np.hypot(edges[:, 0], edges[:, 1])
    keep = lens > 0
    if not keep.any():
        return 0.0, 1.0
    u = edges[keep] / lens[keep, None]          # (m, 2) edge directions
    v = np.stack([-u[:, 1], u[:, 0]], axis=1)   # perpendiculars
    pu = hull @ u.T                              # (n, m) projections
    pv = hull @ v.T
    w1 = pu.max(axis=0) - pu.min(axis=0) + 1.0   # +1: pixel extent
    w2 = pv.max(axis=0) - pv.min(axis=0) + 1.0
    areas = w1 * w2
    i = int(np.argmin(areas))
    dx, dy = u[i]
    return float(np.degrees(np.arctan2(dy, dx))), float(areas[i])


def dilated_rows_status(gray, kernel=DILATE_KERNEL, iters: int = DILATE_ITERS,
                        blur_ksize: int = DILATE_BLUR_KSIZE):
    """A6 — the reference's dilated-rows estimator
    (``ocr/rotation_detection.py:38-89`` detect_rotation_dilated_rows) in
    pure numpy: blur -> Otsu ink -> wide-X dilation merges each text line
    (or skew-aligned paragraph block) into a bar -> per-component
    minimum-area rectangle via convex hull + rotating calipers (a merged
    block of parallel skewed lines still yields the skew angle, which plain
    PCA would not) -> area-weighted 10%-trimmed mean angle
    (core.angles.weighted_trimmed_mean IS the reference's
    WeightedAverage.get_weighted_avg). Returns (angle_degrees,
    occupied_area_percent) or None when the page has no ink — matching
    PageRotationStatus's two fields."""
    import math

    import numpy as np

    gray = np.asarray(gray, dtype=np.float64)
    if gray.ndim != 2 or gray.size == 0:
        return None
    ink = _otsu_ink(_gaussian_blur(gray, blur_ksize))
    if not ink.any():
        return None
    bars = _dilate_rect(ink, kernel, iters)
    ys, ss, es, comp = _rle_components(bars)
    ncomp = int(comp.max()) + 1
    angles, areas = [], []
    for i in range(ncomp):
        sel = comp == i
        # candidate hull points are run endpoints (interior run pixels are
        # never hull vertices)
        px = np.concatenate([ss[sel], es[sel] - 1.0])
        py = np.concatenate([ys[sel], ys[sel]])
        a, area = _min_area_rect(np.stack([px, py], axis=1))
        # rect-edge direction -> skew angle (y grows downward), folded into
        # [-45, 45) like the reference's minAreaRect angle<-45 -> +90
        a = -a
        while a > 45.0:
            a -= 90.0
        while a <= -45.0:
            a += 90.0
        angles.append(a)
        areas.append(area)
    from ..core import angles as core_angles

    w_angle = core_angles.weighted_trimmed_mean(angles, areas, 0.1)
    w_angle = math.floor(w_angle * 10.0 + 0.5) / 10.0  # half-up, 1 decimal
    share = math.floor(100.0 * sum(areas) / gray.size * 100.0 + 0.5) / 100.0
    return w_angle, share


def detect_rotation(media_ref: str, payload: bytes, image_mod=None,
                    part_size: int = TILE_PART_SIZE, method: str = "tile",
                    with_osd: bool = True) -> float:
    """A5/A6 raw-angle estimate with the same never-raise fence as
    ``multimodal._resize_payload``: with a PIL-like ``image_mod``, a
    decodable payload is decoded to grayscale and run through the chosen
    estimator — ``method="tile"`` (A5, per-tile projection-profile voting)
    or ``method="dilated_rows"`` (A6, the reference's dilated-contour
    weighted mean); undecodable payloads (this container's synthetic md5
    payloads) and the no-PIL case fall back to the deterministic stub —
    PIL's presence never turns a working query into a failing one, and a
    poison payload degrades instead of killing the job."""
    if image_mod is not None:
        try:
            import io

            import numpy as np

            img = image_mod.open(io.BytesIO(payload)).convert("L")
            arr = np.asarray(img)
            if method == "dilated_rows":
                # the reference's full flow (rotation_detection.py:42-53,
                # 79): coarse OSD orientation first, rotate the image
                # upright (np.rot90 — exact), fine dilated-rows angle on
                # the rotated page, then norm_angle(orientation + angle)
                orient = 0
                if with_osd:
                    osd = detect_orientation(arr)
                    if osd is not None and osd[0] and osd_confident(osd):
                        orient = osd[0]
                        arr = np.rot90(arr, orient // 90)
                st = dilated_rows_status(arr)
                if st is not None:
                    from ..core import angles as core_angles

                    return core_angles.norm_angle(orient + st[0])
            else:
                a = _most_frequent_tile_angle(arr, part_size)
                if a is not None:
                    return a
        except Exception:
            pass  # not a decodable image -> deterministic stub
    return stub_raw_angle(media_ref)


def detected_rotation_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref, raw_angle) through the REAL payload path: Arrow
    binary batches into ``detect_rotation``. On synthetic payloads this
    equals ``raw_angle_col`` exactly (pinned by pytest); with PIL and real
    images the pixel estimate takes over, plumbing unchanged."""
    from .. import arrowmap
    from . import multimodal

    def rows(doc_id, ref, payload):
        yield doc_id, ref, detect_rotation(ref, payload, multimodal._pil_image())

    return arrowmap.map_rows(
        multimodal.media_table(docs), rows,
        "doc_id string, media_ref string, raw_angle double",
    )


def rotation_rows(docs: DataFrame) -> DataFrame:
    """Per-media-span rotation decision over the derived spans corpus."""
    spans = ds.derive_spans(docs)
    text_share = F.col("text_cover") / F.greatest(
        F.col("text_cover") + F.col("media_cover"), F.lit(1).cast("bigint")
    )
    from . import ocr  # local import to avoid cycle

    per_doc = spans.select(
        "doc_id",
        "spans",
        ocr.text_cover_col(F.col("spans")).alias("text_cover"),
        ocr.media_cover_col(F.col("spans")).alias("media_cover"),
    )
    media = per_doc.select(
        "doc_id",
        text_share.alias("text_share"),
        F.explode(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).alias("s"),
    )
    raw = raw_angle_col(F.col("s.media_ref"))
    snapped = snap_rotation_col(raw)
    return media.select(
        "doc_id",
        F.col("s.offset").alias("span_offset"),
        F.col("s.media_ref").alias("media_ref"),
        raw.alias("raw_angle"),
        snapped.alias("detected_angle"),
        normalize_angle_90_col(snapped).alias("angle90"),
        ((F.abs(snapped) > 0.0) & (F.col("text_share") < TEXT_DOMINANCE_GUARD)).alias(
            "should_correct"
        ),
    )


def detect_orientation(gray):
    """I3 — coarse page orientation in {0, 90, 180, 270} degrees (the
    tesseract-OSD analog, reference ocr.image_to_osd /
    rotation_detection.py:42-53), pure numpy:

    * AXIS (0/180 vs 90/270): the horizontal projection profile of ink has
      far higher variance when text lines run horizontally (sharp
      line/gap alternation) than when they run vertically (near-uniform
      smear) — the same criterion the tile estimator optimizes per angle.
    * POLARITY (0 vs 180 / 90 vs 270): left-aligned text has aligned LEFT
      edges and ragged RIGHT edges; upside-down pages flip the raggedness.
      Scored as var(right-edge positions) - var(left-edge positions) over
      ink rows. A documented heuristic: centered/justified text defeats
      it, which is why the reference leans on glyph-shape OSD — callers
      get (orientation, axis_score_ratio) and can ignore low-confidence
      answers.

    Returns (orientation_degrees, axis_ratio, polarity_margin) — rotating
    the image by +orientation (counter-clockwise, PIL convention) restores
    upright — or None for empty/inkless pages. Gate applications on
    ``osd_confident`` (the reference's
    ``orientation_and_script_detected_in_osd`` analog): uniform-width line
    blocks have no raggedness signal and should not be flipped on noise."""
    import numpy as np

    gray = np.asarray(gray, dtype=np.float64)
    if gray.ndim != 2 or gray.size == 0:
        return None
    ink = _otsu_ink(gray)
    if not ink.any():
        return None

    def profile_var(m):  # variance of the per-row ink counts
        return float(np.var(m.sum(axis=1)))

    h_var = profile_var(ink)           # lines horizontal -> high
    v_var = profile_var(ink.T)         # lines vertical -> high
    axis_ratio = (h_var + 1.0) / (v_var + 1.0)
    base = ink if h_var >= v_var else ink.T  # np.rot90(x,1) CCW == x.T flipped

    def edge_raggedness(m):
        """var(right edges) - var(left edges) over TEXT-LINE BANDS
        (contiguous runs of ink rows) — positive for upright left-aligned
        text. Band-level extents, not per-pixel-row ones: within one
        skewed line the per-row segment walks across the page and fakes
        asymmetry, while the band's min/max columns are skew-invariant."""
        rows_mask = m.any(axis=1)
        edges = np.diff(np.concatenate(([0], rows_mask.astype(np.int8), [0])))
        starts = np.nonzero(edges == 1)[0]
        ends = np.nonzero(edges == -1)[0]
        if len(starts) < 2:
            return 0.0
        cols = np.arange(m.shape[1])
        firsts, lasts = [], []
        for s, e in zip(starts, ends):
            cc = cols[m[s:e].any(axis=0)]
            firsts.append(cc.min())
            lasts.append(cc.max())
        return float(np.var(np.asarray(lasts, dtype=np.float64))
                     - np.var(np.asarray(firsts, dtype=np.float64)))

    r_up = edge_raggedness(base)
    r_dn = edge_raggedness(base[::-1, ::-1])
    polarity_margin = (r_up - r_dn) / (abs(r_up) + abs(r_dn) + 1.0)
    upright = polarity_margin >= 0.0
    if h_var >= v_var:
        orientation = 0 if upright else 180
    else:
        # base = ink.T maps a 90deg-CW-rotated page (np.rot90(up, -1))
        # back toward upright modulo a flip; resolve the pair by polarity
        orientation = 90 if upright else 270
    return orientation, axis_ratio, polarity_margin


#: axis variance ratio beyond which the 0/180-vs-90/270 call is trusted,
#: and minimum |polarity margin| to trust an upside-down call
OSD_AXIS_CONF = 2.0
OSD_POLARITY_CONF = 0.2


def osd_confident(osd) -> bool:
    """The reference applies OSD output only when orientation AND script
    were confidently detected (ocr.orientation_and_script_detected_in_osd);
    this is the numpy probe's analog. A non-flip answer (orientation 0)
    needs no polarity evidence; 90/270 need a confident axis; 180 and 270
    additionally need a real raggedness margin."""
    if osd is None:
        return False
    orientation, axis_ratio, margin = osd
    if orientation == 0:
        return True
    if orientation == 180:
        return abs(margin) >= OSD_POLARITY_CONF
    axis_ok = axis_ratio <= 1.0 / OSD_AXIS_CONF
    if orientation == 90:
        return axis_ok
    return axis_ok and abs(margin) >= OSD_POLARITY_CONF  # 270
