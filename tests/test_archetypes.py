"""Archetype corpus (FIXTURES.md section 3) through the full pipeline vs the
oracle — including OCR-decision polarity, failure capture, empty docs, the
giant-skew doc, and spans that break the span contract."""

from __future__ import annotations

import pytest

from text_extraction_system_spark import pipeline, synth
from text_extraction_system_spark.core import oracle, spec


@pytest.fixture(scope="module")
def archetype_results(spark):
    df = synth.corpus_df(spark)
    res = pipeline.extract_from_spans(df)
    return {r["doc_id"]: r.asDict(recursive=True) for r in res.collect()}


@pytest.fixture(scope="module")
def archetype_oracle():
    out = {}
    for doc_id, spans in synth.corpus():
        in_spans = [
            oracle.Span(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
        ]
        out[doc_id] = oracle.extract_spans(doc_id, in_spans)
    return out


def test_span_equality_all_archetypes(archetype_results, archetype_oracle):
    for doc_id, exp in archetype_oracle.items():
        got = archetype_results[doc_id]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["out_spans"]]
        exp_spans = [(s.kind, s.text, s.media_ref, s.offset) for s in exp.out_spans]
        assert got_spans == exp_spans, doc_id
        assert got["plain_text"] == exp.plain_text, doc_id
        assert got["needs_ocr"] == exp.needs_ocr, doc_id
        assert got["parse_failures"] == exp.parse_failures, doc_id


def test_ocr_polarity(archetype_oracle):
    """media_heavy docs must fire OCR; text_heavy must not (reference:
    test_pdf.py:14-24 positive/negative predicate cases)."""
    assert archetype_oracle["mediaheavy_0"].needs_ocr is True
    assert archetype_oracle["textheavy_0"].needs_ocr is False


def test_media_heavy_gets_ocr_text(archetype_results):
    got = archetype_results["mediaheavy_0"]
    media_texts = [s["text"] for s in got["out_spans"] if s["kind"] == "media"]
    assert media_texts and all(t != "" for t in media_texts)


def test_corrupt_doc_failure_codes(archetype_results):
    got = archetype_results["corrupt_0"]
    assert got["parse_failures"] == ["bad_media_ref:1"]
    # corrupt media contributes no text but keeps its place in the sequence
    kinds = [s["kind"] for s in got["out_spans"]]
    assert kinds == ["text", "media", "text"]
    assert got["out_spans"][1]["text"] == ""


def test_nine_pages_markers(archetype_results):
    got = archetype_results["ninepages_0"]
    assert len(got["pages"]) == 9
    for p in range(9):
        page = got["pages"][p]
        page_text = got["plain_text"][page["start"]: page["end"]]
        assert f"This is page {p + 1}." in page_text
        for q in range(9):
            if q != p:
                assert f"This is page {q + 1}." not in page_text


def test_structured_counts(archetype_results):
    """Reference-style golden counts (test_data_extract.py:30-41 analog)."""
    st = archetype_results["structured_0"]["structure"]
    assert len(st["paragraphs"]) == 5
    # 18: numbered headings split after 'N. ' plus 3+5+6 body sentences
    assert len(st["sentences"]) == 18
    assert len(st["sections"]) == 3
    assert st["sections"][0]["title"] == "INTRODUCTION TO SORTING"
    assert [s["level"] for s in st["sections"]] == [1, 1, 2]
    # section end assignment: sec1 ends where sec2 starts; sec2.1 runs to EOF
    assert st["sections"][0]["end"] == st["sections"][1]["start"]


def test_lang_samples(archetype_results):
    for lang in ("en", "de", "es", "fr", "zh"):
        assert archetype_results[f"lang_{lang}"]["structure"]["language"] == lang


def test_empty_doc(archetype_results):
    got = archetype_results["empty_0"]
    assert got["plain_text"] == ""
    assert got["out_spans"] == []
    assert got["pages"] == []


def test_giant_skew_fanout(archetype_results, archetype_oracle):
    """A 2000-span doc runs through the same kernel pass as every other."""
    got = archetype_results["giant_0"]
    exp = archetype_oracle["giant_0"]
    assert len(got["out_spans"]) == 2000
    assert got["plain_text"] == exp.plain_text


def test_giant_doc_assembly_is_linear(spark):
    """A 10^5-span doc extracts in bounded time: the kernel's decode
    (``arrowmap``), re-stitch and page assembly (``core.oracle.assemble``)
    are O(n_spans). A per-page scan over all spans would be ~2.5e9
    comparisons for this doc (minutes); the kernel takes seconds."""
    import time

    from pyspark.sql import functions as F

    from text_extraction_system_spark.core import spec

    n = 100_000
    df = spark.range(1).select(
        F.lit("giantperf").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("w"), i.cast("string")).alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    t0 = time.monotonic()
    row = pipeline.extract_from_spans(df, with_structure=False).collect()[0]
    elapsed = time.monotonic() - t0
    assert len(row["pages"]) == n // spec.PAGE_SPANS
    assert row["pages"][-1]["end"] == len(row["plain_text"])
    assert elapsed < 60, f"giant-doc assembly took {elapsed:.1f}s — quadratic regression?"


def test_fanout_keeps_empty_docs(spark):
    """Zero-span docs keep their row: the kernel emits one row per input
    row, which a span-level explode would not."""
    df = synth.corpus_df(spark)
    res = pipeline.extract_from_spans(df, with_structure=False)
    rows = {r["doc_id"]: r for r in res.collect()}
    assert rows["empty_0"]["out_spans"] == []
    assert rows["empty_0"]["plain_text"] == ""
    assert len(rows) == df.count()


def test_sparse_offsets_keep_page_semantics(spark):
    """Spans with offset gaps (an intentionally empty leading page) must land
    on the page their OFFSET names, exactly like core/oracle.assemble — the
    slice fast path only applies to dense offset sequences."""
    from pyspark.sql import Row

    spans = [
        Row(kind="text", text="page one a", media_ref="", offset=4),
        Row(kind="text", text="page one b", media_ref="", offset=5),
    ]
    df = spark.createDataFrame([Row(doc_id="sparse_0", spans=spans)])
    res = pipeline.extract_from_spans(df, with_structure=False).collect()[0]
    exp = oracle.extract_spans(
        "sparse_0",
        [
            oracle.Span("text", "page one a", "", 4),
            oracle.Span("text", "page one b", "", 5),
        ],
    )
    assert res["plain_text"] == exp.plain_text == "\n\fpage one a\npage one b\n\f"
    assert len(res["pages"]) == 2
    assert [(p["start"], p["end"]) for p in res["pages"]] == [
        (p["start"], p["end"]) for p in exp.pages
    ]


def test_null_char_scrub(spark):
    """F5: NUL chars never reach the assembled plain text (reference
    data_extract.py:113-114); page offsets stay consistent, and the Spark
    path matches the python oracle byte-for-byte."""
    from pyspark.sql import Row

    spans = [
        Row(kind="text", text="abc\x00def", media_ref="", offset=0),
        Row(kind="text", text="\x00", media_ref="", offset=1),
    ]
    df = spark.createDataFrame([Row(doc_id="nul_0", spans=spans)])
    res = pipeline.extract_from_spans(df).collect()[0]
    exp = oracle.extract_spans(
        "nul_0",
        [oracle.Span("text", "abc\x00def", "", 0), oracle.Span("text", "\x00", "", 1)],
    )
    assert "\x00" not in res["plain_text"]
    assert res["plain_text"] == exp.plain_text == "abcdef\n\n\f"
    assert res["pages"][0]["end"] == len(res["plain_text"])


def test_language_override(archetype_oracle):
    """Reference two_langs semantics: forcing the doc language makes every
    segment report it (test_data_extract.py:44-57)."""
    from text_extraction_system_spark.operators.structure import _structure_of

    st = _structure_of(archetype_oracle["twolangs_0"].plain_text, "de")
    assert st["language"] == "de"
    assert st["paragraphs"] and st["sentences"]
    assert all(p["language"] == "de" for p in st["paragraphs"])
    assert all(s["language"] == "de" for s in st["sentences"])


def _malformed_spans():
    """Span sequences that break the span contract (core.spec), each with
    the failure code its doc must get."""
    S = oracle.Span
    big = spec.MAX_SPAN_OFFSET
    return {
        "unordered": ([S("text", "a\n\f", "", 9), S("text", "b", "", 0)], "bad_offset:1"),
        "repeated": ([S("text", "a", "", 3), S("text", "b", "", 3)], "bad_offset:1"),
        "negative": ([S("text", "a", "", -1)], "bad_offset:0"),
        "huge": ([S("text", "a", "", 2_000_000_000)], "bad_offset:0"),
        "at_bound": ([S("text", "a", "", 0), S("text", "b", "", big)], "bad_offset:1"),
        "null_spans": (None, "null_spans"),
        "null_span": ([S("text", "a", "", 0), None], "null_span:1"),
        "null_text": ([S("text", None, "", 0)], "null_span:0"),
        "null_media_ref": ([S("media", "", None, 0)], "null_span:0"),
        "null_offset": ([S("text", "a", "", 0), S("text", "b", "", None)], "null_span:1"),
    }


@pytest.mark.parametrize("case", sorted(_malformed_spans()))
def test_malformed_spans_become_failure_codes(spark, case):
    """A doc whose spans break the contract gets one row with its failure
    code and empty outputs, in the oracle and in the kernel alike, and the
    well-formed doc beside it in the same batch is unaffected."""
    from pyspark.sql import types as T

    from text_extraction_system_spark import schemas

    spans, code = _malformed_spans()[case]
    exp = oracle.extract_spans(case, spans)
    assert (exp.needs_ocr, exp.parse_failures, exp.out_spans, exp.plain_text, exp.pages) == (
        False, [code], [], "", [])

    nullable = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType(
            [T.StructField(f.name, f.dataType) for f in schemas.SPAN.fields]))),
    ])
    good = [oracle.Span("text", "fine", "", 0)]
    df = spark.createDataFrame(
        [(case, None if spans is None else [None if s is None else tuple(s) for s in spans]),
         ("good", [tuple(s) for s in good])],
        nullable,
    )
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in pipeline.extract_from_spans(df).collect()}
    assert len(rows) == 2
    got = rows[case]
    assert (got["needs_ocr"], got["parse_failures"], got["out_spans"], got["plain_text"],
            got["pages"]) == (False, [code], [], "", [])
    assert got["structure"]["paragraphs"] == []
    ok = oracle.extract_spans("good", good)
    assert rows["good"]["parse_failures"] == [] and rows["good"]["plain_text"] == ok.plain_text
