"""Multimodal binary-column plumbing: decode metadata, feature extraction,
resize and frame sampling — Arrow binary batches with real schemas and batch
shapes (pixel kernels are deterministic fakes; see operators/multimodal.py)."""

from __future__ import annotations

import hashlib

from text_extraction_system_spark.operators import multimodal

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(60)


def test_payload_matches_spec(spark):
    rows = multimodal.media_table(_docs(spark)).limit(5).collect()
    assert rows
    for r in rows:
        digest = hashlib.md5(r["media_ref"].encode()).digest()
        k = int(hashlib.md5(r["media_ref"].encode()).hexdigest()[0], 16) + 1
        assert bytes(r["payload"]) == digest * k


def test_feature_histogram_properties(spark):
    rows = multimodal.extract_features(_docs(spark)).collect()
    assert rows
    for r in rows:
        f = r["feature"]
        assert len(f) == multimodal.FEATURE_DIM
        assert abs(sum(f) - 1.0) < 1e-9          # normalized histogram
        assert all(v >= 0.0 for v in f)
        # repetition-invariance: histogram of the digest alone is identical
        digest = hashlib.md5(r["media_ref"].encode()).digest()
        exp = [sum(1 for b in digest if b >> 4 == i) / 16.0 for i in range(16)]
        assert f == exp


def test_resize_plumbing(spark):
    rows = multimodal.resize_media(_docs(spark), target=32).collect()
    assert rows
    for r in rows:
        assert r["width"] == 32 and r["height"] == 32
        assert len(bytes(r["payload"])) == 32


def test_frame_sampling_fanout(spark):
    rows = multimodal.sample_frames(_docs(spark), every=2).collect()
    assert rows
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, frames in by_ref.items():
        k = int(hashlib.md5(ref.encode()).hexdigest()[0], 16) + 1
        assert sorted(f["frame_idx"] for f in frames) == list(range(0, k, 2))
        assert all(len(bytes(f["frame"])) == multimodal.FRAME_BYTES for f in frames)
        digest = hashlib.md5(ref.encode()).digest()
        assert all(bytes(f["frame"]) == digest for f in frames)  # fake payload = digest*k


def test_resize_kernel_with_pil_like_module():
    """Round-2 verdict item 3: a present-and-working PIL module must route
    through the decode/resize/re-encode body (exercised here with a
    PIL-shaped fake, since the container has no PIL), and a payload PIL
    cannot decode must FALL BACK to the deterministic kernel — never raise."""

    class FakeImg:
        def convert(self, mode):
            assert mode == "RGB"
            return self

        def resize(self, wh):
            self.wh = wh
            return self

        def save(self, buf, format):
            assert format == "PNG"
            buf.write(b"PNG" + bytes(self.wh))

    class FakeImageMod:
        @staticmethod
        def open(fp):
            if fp.read(4) != b"good":
                raise OSError("cannot identify image file")
            return FakeImg()

    out = multimodal._resize_payload(b"good-image-bytes", 8, FakeImageMod)
    assert out == b"PNG" + bytes((8, 8))  # went through the PIL-shaped path

    bad = hashlib.md5(b"x").digest() * 3  # synthetic payload: not decodable
    out2 = multimodal._resize_payload(bad, 8, FakeImageMod)
    assert out2 == multimodal._resize_payload(bad, 8, None)  # fell back
    assert len(out2) == 8


def test_resize_kernel_no_pil_matches_fake():
    b = bytes(range(100))
    out = multimodal._resize_payload(b, 16, None)
    step = 100 // 16
    assert out == b[::step][:16].ljust(16, b"\x00")


def test_detect_rotation_real_branch_with_fake_pil():
    """A PIL-shaped module drives the REAL tile-mode estimator (A5): a
    synthetic grayscale page with text lines drawn at a known skew is
    detected within the angle grid's resolution; garbage payloads fall back
    to the deterministic stub; a throwing module never raises."""
    import numpy as np

    from text_extraction_system_spark.operators import rotation

    def page_with_skew(theta_deg: float, h: int = 128, w: int = 128) -> np.ndarray:
        arr = np.full((h, w), 255.0)
        slope = -np.tan(np.radians(theta_deg))
        xs = np.arange(w)
        for y0 in range(8, h - int(abs(slope) * w) - 2, 16):
            ys = np.clip(np.round(y0 + slope * xs).astype(int), 0, h - 1)
            arr[ys, xs] = 0.0  # a "text line" rising/falling at theta
        return arr

    class FakeImg:
        def __init__(self, arr):
            self.arr = arr

        def convert(self, mode):
            assert mode == "L"
            return self

        def __array__(self, dtype=None, copy=None):
            return self.arr if dtype is None else self.arr.astype(dtype)

    def mod_for(arr):
        class FakeImageMod:
            @staticmethod
            def open(fp):
                if fp.read(4) != b"good":
                    raise OSError("cannot identify image file")
                return FakeImg(arr)

        return FakeImageMod

    for theta in (0.0, 3.0, -7.5):
        got = rotation.detect_rotation("ref", b"good-image", mod_for(page_with_skew(theta)))
        assert abs(got - theta) <= 1.0, (theta, got)

    # undecodable payload -> stub, identical to the Catalyst column's value
    bad = b"\x00\x01junk"
    assert rotation.detect_rotation("refx", bad, mod_for(page_with_skew(3.0))) == (
        rotation.stub_raw_angle("refx")
    )

    class ExplodingMod:
        @staticmethod
        def open(fp):
            raise RuntimeError("poison payload")

    assert rotation.detect_rotation("refy", b"good", ExplodingMod) == (
        rotation.stub_raw_angle("refy")
    )


def test_rotation_rows_take_the_pixel_path_or_the_stub(spark):
    """``rotation_rows`` runs ``detect_rotation`` on each media span's real
    payload inside the span pass. A PIL-like module that decodes the
    payload (into a page skewed by an angle its first byte picks) makes
    the pixel estimate the raw angle; the snap, the fold and the guard
    follow ``core.angles``. A module that raises gives every span
    ``stub_raw_angle``, and rows equal to the default's."""
    import numpy as np

    from text_extraction_system_spark.core import angles
    from text_extraction_system_spark.operators import rotation

    thetas = (-4.0, 0.0, 4.0)

    class Page:
        def __init__(self, theta, h=128, w=128):
            arr = np.full((h, w), 255.0)
            slope = -np.tan(np.radians(theta))
            xs = np.arange(w)
            for y0 in range(8, h - int(abs(slope) * w) - 2, 16):
                arr[np.clip(np.round(y0 + slope * xs).astype(int), 0, h - 1), xs] = 0.0
            self.arr = arr

        def convert(self, mode):
            return self

        def __array__(self, dtype=None, copy=None):
            return self.arr if dtype is None else self.arr.astype(dtype)

    class DecodingMod:
        @staticmethod
        def open(fp):
            payload = fp.read()
            assert payload == payload[:16] * (len(payload) // 16)
            return Page(thetas[payload[0] % 3])

    class ExplodingMod:
        @staticmethod
        def open(fp):
            raise RuntimeError("poison payload")

    docs = _docs(spark).limit(20)
    pixel = rotation.rotation_rows(docs, DecodingMod).collect()
    assert pixel
    for r in pixel:
        theta = thetas[hashlib.md5(r["media_ref"].encode()).digest()[0] % 3]
        assert abs(r["raw_angle"] - theta) <= 1.0, (theta, r)
        assert r["detected_angle"] == angles.snap_rotation(r["raw_angle"])
        assert r["angle90"] == angles.normalize_angle_90(r["detected_angle"])
        assert not r["should_correct"] or r["detected_angle"] != 0.0

    stub = rotation.rotation_rows(docs, ExplodingMod).collect()
    assert [r["raw_angle"] for r in stub] == [rotation.stub_raw_angle(r["media_ref"]) for r in stub]
    assert sorted(stub) == sorted(rotation.rotation_rows(docs).collect())
    assert sorted(r["media_ref"] for r in stub) == sorted(r["media_ref"] for r in pixel)


def test_dilated_rows_estimator_recovers_skew():
    """A6 (reference ocr/rotation_detection.py:38-89): the pure-numpy
    dilated-rows kernel — blur -> Otsu -> rect dilation -> per-component
    min-area rect (hull + rotating calipers) -> area-weighted 10%-trimmed
    mean — recovers synthetic page skews exactly in the fine-deskew regime
    it exists for, reports an occupied-area share, returns None on inkless
    pages, and routes through detect_rotation's never-raise fence."""
    import numpy as np

    from text_extraction_system_spark.operators import rotation

    def page(theta_deg, h=600, w=480, spacing=40, thick=6):
        arr = np.full((h, w), 255.0)
        slope = -np.tan(np.radians(theta_deg))
        xs = np.arange(w)
        for y0 in range(60, h - int(abs(slope) * w) - 10, spacing):
            for t in range(thick):
                ys = np.clip(np.round(y0 + t + slope * xs).astype(int), 0, h - 1)
                arr[ys, xs] = 0.0
        return arr

    for theta in (0.0, 1.5, -3.2):
        st = rotation.dilated_rows_status(page(theta))
        assert st is not None
        angle, share = st
        assert abs(angle - theta) <= 0.11, (theta, st)
        assert 0.0 < share <= 100.0 + 1e-9

    assert rotation.dilated_rows_status(np.full((64, 64), 255.0)) is None

    class FakeImg:
        def __init__(self, arr):
            self.arr = arr

        def convert(self, mode):
            return self

        def __array__(self, dtype=None, copy=None):
            return self.arr if dtype is None else self.arr.astype(dtype)

    class FakeMod:
        @staticmethod
        def open(fp):
            return FakeImg(page(1.5))

    got = rotation.detect_rotation("r", b"x", FakeMod, method="dilated_rows")
    assert abs(got - 1.5) <= 0.11

    class ExplodingMod:
        @staticmethod
        def open(fp):
            raise RuntimeError("poison")

    assert rotation.detect_rotation(
        "ry", b"x", ExplodingMod, method="dilated_rows"
    ) == rotation.stub_raw_angle("ry")


def test_rotate_payload_real_branch_and_fallback():
    """I5: with a PIL-like module the payload is decoded, rotated
    expand=True and re-encoded; undecodable payloads fall back to the
    deterministic quarter-turn byte rotation (lossless and invertible:
    four quarter turns compose to identity); throwing modules never
    raise."""
    import numpy as np

    from text_extraction_system_spark.operators import multimodal

    calls = {}

    class FakeImg:
        def __init__(self, arr):
            self.arr = arr

        def rotate(self, angle, expand=False):
            calls["angle"] = angle
            calls["expand"] = expand
            k = int(round(angle / 90.0)) % 4
            return FakeImg(np.rot90(self.arr, k))

        def save(self, buf, format=None):
            calls["format"] = format
            buf.write(self.arr.tobytes())

    class FakeMod:
        @staticmethod
        def open(fp):
            if fp.read(4) != b"good":
                raise OSError("cannot identify image file")
            return FakeImg(np.arange(16, dtype=np.uint8).reshape(4, 4))

    out = multimodal._rotate_payload(b"good-img", 90.0, FakeMod)
    assert calls == {"angle": 90.0, "expand": True, "format": "PNG"}
    assert out == np.rot90(np.arange(16, dtype=np.uint8).reshape(4, 4), 1).tobytes()

    # deterministic fallback: byte rotation by len/4 * turns, identity at 0
    b = bytes(range(32))
    assert multimodal._rotate_payload(b, 0.0, None) == b
    r90 = multimodal._rotate_payload(b, 90.0, None)
    assert r90 == b[8:] + b[:8]
    back = r90
    for _ in range(3):
        back = multimodal._rotate_payload(back, 90.0, None)
    assert back == b  # four quarter turns = identity
    assert multimodal._rotate_payload(b, -90.0, None) == b[24:] + b[:24]

    class ExplodingMod:
        @staticmethod
        def open(fp):
            raise RuntimeError("poison")

    assert multimodal._rotate_payload(b, 90.0, ExplodingMod) == b[8:] + b[:8]


def test_orientation_probe_and_osd_composition():
    """I3: the coarse orientation probe recovers all four right-angle
    rotations of a left-aligned page (axis via projection-profile variance,
    polarity via edge raggedness), and detect_rotation's dilated-rows path
    composes OSD -> upright rotation -> fine angle -> norm_angle like the
    reference flow (rotation_detection.py:42-53, 79)."""
    import numpy as np

    from text_extraction_system_spark.operators import rotation

    def page(theta_deg=0.0, h=600, w=480):
        """Left-aligned paragraphs (ragged right edges), optional fine
        skew; 40-px line spacing keeps bars separate under the composed
        dilation window (the regime the fine estimator exists for)."""
        arr = np.full((h, w), 255.0)
        slope = -np.tan(np.radians(theta_deg))
        xs = np.arange(w)
        lens = [w - 60, w - 70, w - 64, w // 3, w - 62, w // 2 - 30]
        y, i = 40, 0
        while y < h - 40:
            ln = lens[i % len(lens)]
            for t in range(6):
                ys = np.clip(np.round(y + t + slope * xs).astype(int), 0, h - 1)
                sel = xs < 20 + ln
                arr[ys[sel], xs[sel]] = 0.0
            y += 40
            i += 1
        return arr

    up = page()
    for k, want in [(0, 0), (1, 270), (2, 180), (3, 90)]:
        got = rotation.detect_orientation(np.rot90(up, k))
        assert got is not None and got[0] == want, (k, got)
    assert rotation.detect_orientation(np.full((64, 64), 255.0)) is None

    class FakeImg:
        def __init__(self, arr):
            self.arr = arr

        def convert(self, mode):
            return self

        def __array__(self, dtype=None, copy=None):
            return self.arr if dtype is None else self.arr.astype(dtype)

    def mod_for(arr):
        class M:
            @staticmethod
            def open(fp):
                return FakeImg(arr)
        return M

    # a page rotated 90deg CW (np.rot90 k=-1) with 1.5deg fine skew:
    # the composition must report ~ +90 + 1.5, normalized
    skewed = np.rot90(page(1.5), -1)
    got = rotation.detect_rotation("r", b"x", mod_for(skewed),
                                   method="dilated_rows")
    assert abs(got - 91.5) <= 0.2, got
    # osd off: the fine estimator alone cannot see the quarter turn
    got_no = rotation.detect_rotation("r", b"x", mod_for(np.rot90(page(), -1)),
                                      method="dilated_rows", with_osd=False)
    assert abs(got_no) <= 45.0
