"""End-to-end extraction pipeline (the reference's section-3.1 lifecycle,
Spark-first).

    documents(doc_id, text)                      -- or a spans table directly
      -> derive_spans          (built-ins, SPEC section 1)
      -> process_spans         (OCR decide + stub + re-stitch; inline or
                                fan-out/fan-in for giant docs)
      -> assemble              (plain text + page table, built-ins)
      -> segment_structure     (one Arrow UDF: paragraphs/sentences/
                                sections/language/title)

That is the Catalyst engine, where only the giant-doc fan-out shuffles;
``extract_from_documents`` runs it without structure. With structure it
runs the ``mapInArrow`` engine instead: every stage above runs in one
Python pass per batch, so the whole plan is a single narrow stage for
documents of any length. In that pass each document is scanned once per
step: its media refs are hashed once (``core.oracle.process_spans``), its
paragraphs are found once and shared by the sentence, title and section
steps, and its stopwords are indexed once for every language score
(``structure._structure_of``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import arrowmap, schemas
from .operators import derive_spans as ds
from .operators import layout, restitch, structure


def _extract_documents_arrow_native(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
) -> DataFrame:
    """``mapInArrow`` extraction kernel: one pass per batch running the
    per-document reference semantics (``core.oracle``: derive spans, decide
    OCR and re-stitch with one hash per media ref, assemble) plus the
    engine's structure segmentation (``structure._structure_of``, the
    function the structure pandas_udf calls: one paragraph scan and one
    stopword index per document). Value-identical by construction: every
    field comes from the exact oracle/struct code the pytest fixtures pin.
    ``arrowmap.map_rows`` builds the nested columns (out_spans, pages,
    structure) straight into Arrow, never through pandas objects; the
    ``oracle.Span`` tuples go in as the span structs they already are."""
    from .core import oracle

    def row(doc_id, text):
        do_ocr, out, fails = oracle.process_spans(oracle.derive_spans(doc_id, text or ""))
        ptext, pages = oracle.assemble(out)
        yield doc_id, do_ocr, fails, out, ptext, pages, structure._structure_of(ptext)

    return arrowmap.map_rows(
        docs.select(F.col(doc_id_col).cast("string").alias(doc_id_col), text_col),
        row,
        T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("needs_ocr", T.BooleanType()),
            T.StructField("parse_failures", T.ArrayType(T.StringType())),
            T.StructField("out_spans", T.ArrayType(schemas.SPAN)),
            T.StructField("plain_text", T.StringType()),
            T.StructField("pages", T.ArrayType(schemas.PAGE)),
            T.StructField("structure", schemas.STRUCTURE),
        ]),
    )


def extract_from_documents(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    fanout_threshold: int | None = restitch.DEFAULT_FANOUT_THRESHOLD,
    with_structure: bool = True,
) -> DataFrame:
    """documents -> extraction results (one row per doc).

    The engine follows from ``with_structure``: WITH structure the
    ``mapInArrow`` kernel does extraction AND structure in one pass;
    WITHOUT it the catalyst pipeline runs. The kernel is the faster of the
    two even though it also builds structure: 1.16 s vs 4.52 s for the
    catalyst engine without structure at sf0.1 on a 4-core host (ROADMAP
    table); ROADMAP item 1 is to route every caller through the kernel
    and delete the catalyst chain. The kernel is pinned
    row-for-row equal to the catalyst engine plus
    ``structure.with_structure`` (tests/test_integration.py,
    tests/test_pipeline_vs_oracle.py).

    ``fanout_threshold`` routes the catalyst engine only. The arrow
    engine sends every document, whatever its length, through the kernel:
    the fan-out gives a document no parallelism (its ``groupBy(doc_id)``
    gathers all of one document's spans into one reduce task, just as the
    kernel holds one document in one task) and would add a shuffle, a
    second python boundary and a union. The kernel is also faster per
    giant doc (local[4] on a 4-core / 15 GiB host, 7g heap, median of 5
    warm passes): 0.72 s for a 200k-word doc and 1.94 s for an 800k-word
    one (119k spans), where the routed catalyst engine took 1.51 s and
    4.82 s when last measured, with equal rows.

    Catalyst giant-doc routing happens HERE, on the RAW text length, not
    downstream on ``size(spans)``: a filter over the derived-spans
    projection gets collapsed/pushed by Catalyst so the span-construction
    HOF re-evaluates once for the predicate and again for the output — per
    branch (measured: the two routing filters more than doubled the
    restitch stage, 1.8 s -> 4.1 s on 320k docs). ``length(text)`` is a
    scan-cheap upper bound: words <= (len+1)/2 and spans <=
    2*ceil(words/8), so any doc that COULD exceed ``fanout_threshold``
    spans satisfies len > 8*threshold - 17. Long-worded docs below the
    span threshold may still route to fanout — harmless, all paths are
    result-identical (pytest-pinned).

    derive_spans assigns sequential offsets, so density is an invariant
    here — declared statically (dense=True) rather than re-discovered with
    a per-row pass (the round-2 assembly-family bench regression)."""
    if with_structure:
        return _extract_documents_arrow_native(docs, doc_id_col, text_col)

    if fanout_threshold is not None and fanout_threshold > 0:
        tlen = F.length(F.coalesce(F.col(text_col), F.lit("")))
        cutoff = 8 * fanout_threshold - 17
        # the non-space guard keeps degenerate all-space giants (zero spans)
        # on the inline path, so the fanout branch never needs its
        # empty-doc carry-through union — one fewer plan branch for the
        # downstream structure UDF to be pushed into
        has_word = F.col(text_col).rlike("[^ ]")
        small = ds.derive_spans(docs.where((tlen <= cutoff) | ~has_word),
                                doc_id_col=doc_id_col, text_col=text_col)
        giant = ds.derive_spans(docs.where((tlen > cutoff) & has_word),
                                doc_id_col=doc_id_col, text_col=text_col)
        stitched = restitch.process_spans_inline(small).unionByName(
            restitch.process_spans_fanout(giant, may_have_empty=False)
        )
    else:
        stitched = restitch.process_spans(
            ds.derive_spans(docs, doc_id_col=doc_id_col, text_col=text_col),
            fanout_threshold=fanout_threshold,
        )
    return layout.assemble(stitched, dense=True)


def extract_from_spans(
    spans_df: DataFrame,
    fanout_threshold: int | None = restitch.DEFAULT_FANOUT_THRESHOLD,
    with_structure: bool = True,
    dense: bool | None = None,
) -> DataFrame:
    """spans table (input_hint shape) -> extraction results.

    ``dense=None`` (default, externally-authored spans): a per-row O(S)
    probe routes each doc to the slice or offset-keyed assembly. Pass
    ``dense=True`` only when offsets are sequential 0..n-1 by construction
    (restitch preserves and re-sorts on input offsets, so the contract is
    about the INPUT spans, not about restitch)."""
    stitched = restitch.process_spans(spans_df, fanout_threshold=fanout_threshold)
    assembled = layout.assemble(stitched, dense=dense)
    if not with_structure:
        return assembled
    return structure.with_structure(assembled)


def summary(results: DataFrame) -> DataFrame:
    """Flat per-doc summary (stable schema for the driver smoke check)."""
    return results.select(
        "doc_id",
        "needs_ocr",
        F.size("parse_failures").alias("n_failures"),
        F.size("out_spans").alias("n_spans"),
        F.length("plain_text").alias("n_chars"),
        F.size("pages").alias("n_pages"),
        F.col("structure.language").alias("language"),
        F.size("structure.paragraphs").alias("n_paragraphs"),
        F.size("structure.sentences").alias("n_sentences"),
        F.size("structure.sections").alias("n_sections"),
    )
