"""Property-based tests (hypothesis) over the core spec functions — beyond
the reference's example-based style (SURVEY.md section 5: the reference has
no property tests; these pin the invariants the golden examples can't)."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_system_spark.core import angles, langid, oracle, spec, textseg

WORDS = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=60
)
TEXTS = st.text(
    alphabet="abc def.!? \n\f", min_size=0, max_size=300
)


@settings(max_examples=150, deadline=None)
@given(TEXTS)
def test_paragraph_spans_invariants(text):
    spans = textseg.paragraph_spans(text)
    prev_end = -1
    for s, e in spans:
        assert 0 <= s < e <= len(text)
        assert s > prev_end
        seg = text[s:e]
        assert "\n" not in seg and "\f" not in seg
        # maximality: neighbors are separators
        if s > 0:
            assert text[s - 1] in "\n\f"
        if e < len(text):
            assert text[e] in "\n\f"
        prev_end = e
    covered = sum(e - s for s, e in spans)
    assert covered == len(text.replace("\n", "").replace("\f", ""))


@settings(max_examples=150, deadline=None)
@given(TEXTS)
def test_sentence_spans_partition_paragraphs(text):
    paras = textseg.paragraph_spans(text)
    sents = textseg.sentence_spans(text, paras)
    by_para = []
    for ps, pe in paras:
        inside = [(s, e) for s, e in sents if ps <= s and e <= pe]
        # sentences exactly tile their paragraph
        assert inside and inside[0][0] == ps and inside[-1][1] == pe
        for (s1, e1), (s2, e2) in zip(inside, inside[1:]):
            assert e1 == s2
        by_para.extend(inside)
    assert by_para == sents


def _per_paragraph_sentences(text: str) -> list[tuple[int, int]]:
    """The sentence rule applied paragraph by paragraph: split each
    paragraph's own slice after every spec boundary (a lookbehind match),
    dropping empty pieces."""
    boundary = re.compile(spec.SENTENCE_BOUNDARY_REGEX)
    out = []
    for ps, pe in textseg.paragraph_spans(text):
        cuts = [ps] + [ps + m.end() for m in boundary.finditer(text[ps:pe])] + [pe]
        out.extend((s, e) for s, e in zip(cuts, cuts[1:]) if e > s)
    return out


@settings(max_examples=300, deadline=None)
@given(st.one_of(TEXTS, st.text(alphabet=".!? \n\fa\t", max_size=80)))
def test_sentence_sweep_equals_per_paragraph_split(text):
    """One boundary scan over the whole text, merged into the paragraphs,
    equals splitting every paragraph on its own."""
    assert textseg.sentence_spans(text, textseg.paragraph_spans(text)) == (
        _per_paragraph_sentences(text)
    )


def _sections_reference(text: str) -> list[dict]:
    """The section rule written out: try the heading pattern on every
    paragraph, then end each section at the first later heading of the same
    or a higher level."""
    heads = []
    for ps, pe in textseg.paragraph_spans(text):
        m = textseg._HEADING_RE.match(text[ps:pe])
        if m:
            level = m.group(1).count(".") + 1
            heads.append({"start": ps, "end": len(text), "title": m.group(2),
                          "title_start": ps + m.start(2), "title_end": ps + m.end(2),
                          "level": level, "abs_level": level})
    for i, h in enumerate(heads):
        h["end"] = next((g["start"] for g in heads[i + 1:] if g["level"] <= h["level"]),
                        len(text))
    return heads


HEADING_TEXTS = st.lists(
    st.sampled_from(
        ["1. Intro", "2.1 Sub", "3 Top", "10.2.3 Deep", "2.1.", "\u0663 Arabic",
         "\u00b2 sup", "1.x y", "7", "words", " ", "\t", "\n", "\f"]
    ),
    max_size=30,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(HEADING_TEXTS)
def test_sections_equal_reference(text):
    """Sections from the shared paragraph list (headings tried only on
    digit-led paragraphs, ends assigned in one stack sweep) equal the
    rule applied paragraph by paragraph."""
    assert textseg.detect_sections(text, textseg.paragraph_spans(text)) == (
        _sections_reference(text)
    )


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef .", min_size=0, max_size=400), st.text(max_size=8))
def test_oracle_pipeline_invariants(text, doc_suffix):
    doc_id = "prop_" + "".join(c for c in doc_suffix if c.isalnum())
    ex = oracle.extract(doc_id, text)
    # span order + offsets contiguous
    assert [s.offset for s in ex.out_spans] == list(range(len(ex.out_spans)))
    # (kind, media_ref, order) preserved from input
    assert [(s.kind, s.media_ref, s.offset) for s in ex.out_spans] == [
        (s.kind, s.media_ref, s.offset) for s in ex.in_spans
    ]
    # text spans never modified
    for i, o in zip(ex.in_spans, ex.out_spans):
        if i.kind == "text":
            assert i.text == o.text
        elif not ex.needs_ocr:
            assert o.text == ""
    # reconstructed words == original words
    orig_words = [w for w in text.split(" ") if w]
    got_words = [w for s in ex.out_spans if s.kind == "text" for w in s.text.split(" ")]
    assert got_words == orig_words
    # pages tile the plain text exactly
    if ex.pages:
        assert ex.pages[0]["start"] == 0
        assert ex.pages[-1]["end"] == len(ex.plain_text)
        for a, b in zip(ex.pages, ex.pages[1:]):
            assert a["end"] == b["start"]
        n_pages_expected = ex.out_spans[-1].offset // spec.PAGE_SPANS + 1
        assert len(ex.pages) == n_pages_expected
    else:
        assert ex.plain_text == "" and not ex.out_spans
    # paragraph/sentence offsets index into plain_text and never cross pages
    for p in ex.paragraphs:
        seg = ex.plain_text[p["start"]: p["end"]]
        assert seg and "\n" not in seg and "\f" not in seg


LANGY_TEXTS = st.lists(
    st.sampled_from(
        ["the", "und", "los", "les", "der", "que", "abc", "x.", "y!", "一", "中",
         " ", "\n", "\f", ". ", "The", "DER", "İ", "\t", "\u00a0", "x. \n"]
    ),
    min_size=0,
    max_size=60,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(LANGY_TEXTS)
def test_lang_index_equals_per_slice_detection(text):
    """LangIndex (one stopword scan, score by offsets) must agree with
    detect_language on every paragraph/sentence slice and the whole doc.
    'İ' lowers to two chars, so texts holding it take the per-slice
    fallback."""
    idx = langid.LangIndex(text)
    assert idx.lang(0, None) == langid.detect_language(text)
    for s, e in textseg.paragraph_spans(text):
        assert idx.lang(s, e) == langid.detect_language(text[s:e]), (s, e)
    for s, e in textseg.sentence_spans(text, textseg.paragraph_spans(text)):
        assert idx.lang(s, e) == langid.detect_language(text[s:e]), (s, e)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-180, 180, allow_nan=False),
            st.floats(0.001, 1000, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
    ),
    st.floats(0, 0.4),
)
def test_weighted_trimmed_mean_bounds(pairs, q):
    vals = [v for v, _ in pairs]
    ws = [w for _, w in pairs]
    m = angles.weighted_trimmed_mean(vals, ws, q)
    assert min(vals) - 1e-6 <= m <= max(vals) + 1e-6


@settings(max_examples=100, deadline=None)
@given(st.floats(-1000, 1000, allow_nan=False))
def test_angle_normalization_ranges(a):
    n = angles.norm_angle(a)
    assert -180.0 <= n < 180.0
    n90 = angles.normalize_angle_90(n)
    assert -90.0 <= n90 <= 90.0  # sign-folding keeps |a|<=45 except at +/-90 folds
    s = angles.snap_rotation(a)
    assert s == 0.0 or abs(s - 90.0 * round(s / 90.0)) <= 10.0


SPAN_ROWS = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.fixed_dictionaries({
                    "kind": st.sampled_from(["text", "media"]),
                    "text": st.one_of(st.none(), st.text(max_size=5)),
                    "media_ref": st.text(max_size=3),
                    "offset": st.integers(-(2**31), 2**31 - 1),
                    "bbox": st.lists(st.floats(width=32, allow_nan=False), max_size=3),
                    "ok": st.booleans(),
                }),
            ),
            max_size=6,
        ),
    ),
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(SPAN_ROWS, st.integers(0, 8), st.integers(0, 8))
def test_arrow_decode_equals_to_pylist(rows, lo, n):
    """``arrowmap._pylist`` is ``to_pylist`` value for value and type for
    type, with and without nulls at every level, on sliced arrays too."""
    import pyarrow as pa

    from text_extraction_system_spark.arrowmap import _pylist

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32()),
                      ("bbox", pa.list_(pa.float32())), ("ok", pa.bool_())])
    arr = pa.array(rows, type=pa.list_(span)).slice(lo, n)

    def typed(v):
        if isinstance(v, list):
            return [typed(x) for x in v]
        if isinstance(v, dict):
            return {k: typed(x) for k, x in v.items()}
        return (type(v), v)

    assert typed(_pylist(arr)) == typed(arr.to_pylist())
