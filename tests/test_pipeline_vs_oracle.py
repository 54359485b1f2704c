"""End-to-end parity: Spark pipeline == single-threaded Python oracle.

This is the rebuild's rendition of the reference's golden-assertion test
style (SURVEY.md section 5): span-sequence equality (kind, text, media_ref,
order) per doc_id plus structure equality, on the deterministic corpus.
"""

from __future__ import annotations

import pytest

from text_extraction_system_spark import pipeline
from text_extraction_system_spark.core import oracle


@pytest.fixture(scope="module")
def spark_results(spark, docs_df):
    res = pipeline.extract_from_documents(docs_df)
    return {r["doc_id"]: r.asDict(recursive=True) for r in res.collect()}


@pytest.fixture(scope="module")
def oracle_results(docs_rows):
    return {d: oracle.extract(d, t) for d, t in docs_rows}


def test_row_counts(spark_results, oracle_results):
    assert len(spark_results) == len(oracle_results) == 500


def test_span_sequence_equality(spark_results, oracle_results):
    """The north-rule invariant."""
    for doc_id, exp in oracle_results.items():
        got = spark_results[doc_id]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["out_spans"]]
        exp_spans = [(s.kind, s.text, s.media_ref, s.offset) for s in exp.out_spans]
        assert got_spans == exp_spans, f"span mismatch for doc {doc_id}"


def test_needs_ocr_and_plain_text(spark_results, oracle_results):
    n_ocr = 0
    for doc_id, exp in oracle_results.items():
        got = spark_results[doc_id]
        assert got["needs_ocr"] == exp.needs_ocr, doc_id
        assert got["plain_text"] == exp.plain_text, doc_id
        n_ocr += int(exp.needs_ocr)
    # corpus sanity: both branches actually exercised
    assert 0 < n_ocr < len(oracle_results)


def test_pages(spark_results, oracle_results):
    for doc_id, exp in oracle_results.items():
        got_pages = [
            {k: v for k, v in p.items()} for p in spark_results[doc_id]["pages"]
        ]
        assert got_pages == exp.pages, doc_id


def test_structure(spark_results, oracle_results):
    for doc_id, exp in oracle_results.items():
        st = spark_results[doc_id]["structure"]
        assert st["language"] == exp.language, doc_id
        assert st["title"] == exp.title, doc_id
        assert st["paragraphs"] == exp.paragraphs, doc_id
        assert st["sentences"] == exp.sentences, doc_id


def test_span_texts_contain_no_separator_chars(spark, docs_df):
    """Corpus invariant the paragraph/sentence oracle SQL relies on: span
    texts never contain the paragraph/page separator chars (\\n, \\f) or NUL,
    so 'one non-empty span == one paragraph' holds. Checked over the derived
    spans AND the OCR'd output spans."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import spans as spans_op

    derived = spans_op.derive_spans(docs_df).select(F.col("spans").alias("out_spans"))
    out = pipeline.extract_from_documents(docs_df, with_structure=False)
    bad = derived.unionByName(out.select("out_spans")).select(
        F.exists(
            "out_spans",
            lambda s: s["text"].contains("\n")
            | s["text"].contains("\f")
            | s["text"].contains("\x00"),
        ).alias("bad")
    ).where("bad")
    assert bad.count() == 0


def test_span_pass_gives_blank_text_no_spans(spark):
    """A NULL, empty or blank text derives no spans, so no media rows, and
    its covers are ``(0, 0, false)`` — what the DuckDB span and cover
    twins give such a document."""
    from text_extraction_system_spark.core import oracle
    from text_extraction_system_spark.operators import multimodal
    from text_extraction_system_spark.operators import spans as spans_op

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "two words")], "doc_id int, text string")
    got = {r["doc_id"]: r["spans"] for r in spans_op.derive_spans(docs).collect()}
    assert got == {"1": [], "2": [], "3": [], "4": [("text", "two words", "", 0)]}
    assert multimodal.media_table(docs.where("doc_id < 4")).count() == 0
    assert oracle.covers([], oracle.media_spans([])) == (0, 0)
    assert oracle.requires_ocr(0, 0) is False


def _long_doc_corpus() -> list[tuple[str, str | None]]:
    """Docs around 8*256-17 chars, the shortest text that can derive more
    than 256 spans: the sf corpora top out near 600 chars, so nothing else
    on the default path sees a document that length."""
    import random

    cutoff = 8 * 256 - 17
    rng = random.Random(7)
    vocab = ["a", "to", "of", "the", "and", "der", "und", "le", "et", "data",
             "model", "Spark.", "text,", "page"]
    heads = ["1", "2.1", "3.2.1", "4."]

    def words(n: int) -> list[str]:
        # a numbered token opening an 8-word span makes it a section heading
        return [rng.choice(heads) if i % 8 == 0 and rng.random() < 0.2
                else rng.choice(vocab) for i in range(n)]

    def exact(n_chars: int) -> str:
        # 1-2 char words pack the most spans into the length (and make the
        # media spans outweigh the text, so the OCR branch fires)
        t = " ".join(rng.choice(["a", "b", "of", "to"])
                     for _ in range(n_chars))[:n_chars]
        return t[:-1] + "z" if t.endswith(" ") else t

    return [
        ("cut-1", exact(cutoff - 1)),
        ("cut", exact(cutoff)),
        ("cut+1", exact(cutoff + 1)),
        ("words3000", " ".join(words(3000))),
        ("spaces", " " * (cutoff + 500)),
        ("empty", ""),
        ("null", None),
    ]


def test_long_docs_match_oracle_with_and_without_structure(spark):
    """Every doc, giant or not, runs through one kernel pass; it must equal
    the oracle on every field (structure included), and the kernel without
    structure must give the same rows minus the structure column."""
    corpus = _long_doc_corpus()
    docs = spark.createDataFrame(corpus, "doc_id string, text string")

    def snap(df):
        return {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}

    got = snap(pipeline.extract_from_documents(docs))
    assert {d: {k: v for k, v in r.items() if k != "structure"} for d, r in got.items()} == snap(
        pipeline.extract_from_documents(docs, with_structure=False))
    assert len(got) == len(corpus)
    for doc_id, text in corpus:
        exp = oracle.extract(doc_id, text or "")
        row = got[doc_id]
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["out_spans"]] == [
            (s.kind, s.text, s.media_ref, s.offset) for s in exp.out_spans
        ], doc_id
        assert row["needs_ocr"] == exp.needs_ocr, doc_id
        assert row["parse_failures"] == exp.parse_failures, doc_id
        assert row["plain_text"] == exp.plain_text, doc_id
        assert row["pages"] == exp.pages, doc_id
        assert row["structure"] == {
            "title": exp.title, "language": exp.language,
            "paragraphs": exp.paragraphs, "sentences": exp.sentences,
            "sections": exp.sections,
        }, doc_id
    # corpus sanity: above the span threshold, OCR and sections exercised
    assert len(got["words3000"]["out_spans"]) > 256
    assert any(r["needs_ocr"] for r in got.values())
    assert got["words3000"]["structure"]["sections"]
