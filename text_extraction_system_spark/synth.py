"""Deterministic archetype corpus generator (FIXTURES.md section 3).

Generates spans-table rows (the BASELINE.json ``input_hint`` shape) for every
fixture archetype the reference's test corpus models — no RNG, everything
derived from md5(seed tag) so expected outputs are computable by the oracle.

Archetypes mirror the reference fixtures:
  structured_text   <- data_extract/tests/data/structured_text.pdf goldens
  two_langs         <- two_langs_no_ocr.pdf
  media_heavy       <- pdf/tests/data/ocr1.pdf (OCR fires)
  text_heavy        <- pdf_complicated.pdf (OCR must NOT fire)
  nine_pages        <- pdf_9_pages.pdf ('This is page i' markers)
  interleaved       <- merge-order tests (tasks.py:394-429)
  empty_doc         <- empty-structure path
  corrupt           <- not_pdf.pdf -> failure code, job survives
  giant_skew        <- one doc with 100x median span count
  lang_samples      <- data_extract/tests/test_lang.py goldens
"""

from __future__ import annotations

import hashlib

from .core import spec


def _h(*parts: object) -> str:
    return hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()


def _words(tag: str, n: int, vocab: tuple[str, ...]) -> list[str]:
    return [vocab[int(_h(tag, i)[0], 16) % len(vocab)] for i in range(n)]


_VOCAB = (
    "table", "scan", "merge", "join", "filter", "window", "batch", "stream",
    "vector", "column", "query", "spark", "value", "order", "group", "hash",
)

_LANG_SENTENCES = {
    "en": "the cat and the dog sat in the big house",
    "de": "der hund und die katze sind nicht mit der maus",
    "es": "el perro y la casa de los gatos por la noche",
    "fr": "le chien et la maison dans les champs pour un jour",
    "zh": "这是一个中文文档 的示例",
}


def span(kind: str, text: str = "", media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _seal(spans: list[dict]) -> list[dict]:
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans


def structured_text_doc(doc_id: str) -> list[dict]:
    """2 pages, 5 paragraphs, 15 sentences, 3 sections (reference goldens
    test_data_extract.py:30-41)."""
    paras = [
        "1. INTRODUCTION TO SORTING",               # heading para (sec 1)
        "The engine sorts rows. It merges runs. The output is stable.",
        "2. SCANNING THE TABLE",                    # heading para (sec 2)
        "Scans push filters. Columns are pruned. Pages are skipped. Stats are kept. Costs drop fast.",
        "2.1 Vector batches flow. Buffers are reused. Memory stays flat. Output spills never. Reads are cheap. The plan wins.",
    ]
    return _seal([span("text", p) for p in paras])


def two_langs_doc(doc_id: str) -> list[dict]:
    return _seal([span("text", "the cat and the dog ran. el perro y la casa corre.")])


def media_heavy_doc(doc_id: str) -> list[dict]:
    """Tiny text + several media spans -> text_cover < 0.3*media_cover."""
    spans = [span("text", "tiny")]
    for k in range(4):
        spans.append(span("media", media_ref=f"media://{doc_id}/{k}"))
    return _seal(spans)


def text_heavy_doc(doc_id: str) -> list[dict]:
    """Lots of text + one media span -> OCR must NOT fire."""
    txt = " ".join(_words(f"{doc_id}:t", 600, _VOCAB))
    return _seal([span("text", txt), span("media", media_ref=f"media://{doc_id}/0")])


def nine_pages_doc(doc_id: str) -> list[dict]:
    """PAGE_SPANS spans per page x 9 pages; marker para on each page."""
    spans = []
    for p in range(9):
        spans.append(span("text", f"This is page {p + 1}."))
        for j in range(spec.PAGE_SPANS - 1):
            spans.append(span("text", " ".join(_words(f"{doc_id}:{p}:{j}", 6, _VOCAB))))
    return _seal(spans)


def interleaved_doc(doc_id: str, n: int = 50) -> list[dict]:
    spans = []
    for i in range(n):
        if int(_h(doc_id, "kind", i)[0], 16) < 6:
            spans.append(span("media", media_ref=f"media://{doc_id}/{i}"))
        else:
            spans.append(span("text", " ".join(_words(f"{doc_id}:{i}", 5, _VOCAB))))
    return _seal(spans)


def empty_doc(doc_id: str) -> list[dict]:
    return []


def corrupt_doc(doc_id: str) -> list[dict]:
    """media_ref not matching the media:// scheme -> parse failure code."""
    return _seal([
        span("text", "ok text before"),
        span("media", media_ref=f"corrupt://{doc_id}/broken"),
        span("text", "ok text after"),
    ])


def giant_skew_doc(doc_id: str, n_spans: int = 2000) -> list[dict]:
    return _seal(
        [span("text", " ".join(_words(f"{doc_id}:{i}", 8, _VOCAB))) for i in range(n_spans)]
    )


def lang_sample_doc(doc_id: str, lang: str) -> list[dict]:
    return _seal([span("text", _LANG_SENTENCES[lang])])


def corpus(n_per_archetype: int = 3) -> list[tuple[str, list[dict]]]:
    """The full archetype corpus as (doc_id, spans) rows."""
    rows: list[tuple[str, list[dict]]] = []
    makers = {
        "structured": structured_text_doc,
        "twolangs": two_langs_doc,
        "mediaheavy": media_heavy_doc,
        "textheavy": text_heavy_doc,
        "ninepages": nine_pages_doc,
        "interleaved": interleaved_doc,
        "corrupt": corrupt_doc,
    }
    for name, maker in makers.items():
        for i in range(n_per_archetype):
            doc_id = f"{name}_{i}"
            rows.append((doc_id, maker(doc_id)))
    rows.append(("empty_0", empty_doc("empty_0")))
    rows.append(("giant_0", giant_skew_doc("giant_0")))
    for lang in _LANG_SENTENCES:
        rows.append((f"lang_{lang}", lang_sample_doc(f"lang_{lang}", lang)))
    return rows


def corpus_df(spark, n_per_archetype: int = 3):
    from . import schemas

    data = [
        (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for doc_id, spans in corpus(n_per_archetype)
    ]
    return spark.createDataFrame(data, schemas.SPANS_INPUT)


def replicate_corpus(docs, rep: int, num_partitions: int):
    """Replicate a documents table ``rep`` times with distinct doc_ids —
    bench.py's pipeline corpus builder."""
    from pyspark.sql import functions as F

    return (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .select(F.concat_ws("_", "doc_id", "rep").alias("doc_id"), "text")
        .repartition(num_partitions)
    )
