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
documents of any length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas
from .operators import derive_spans as ds
from .operators import layout, restitch, structure


def _extract_documents_arrow_native(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
) -> DataFrame:
    """``mapInArrow`` extraction kernel: one pass per batch running the
    per-document reference semantics (``core.oracle``) plus the engine's
    structure segmentation (``structure._structure_of``, the function the
    structure pandas_udf calls). The nested output columns (out_spans,
    pages, structure) are built as pyarrow arrays from flat child buffers +
    offset vectors, not pandas object Series of dicts: converting nested
    python objects through pandas cost a ``mapInPandas`` kernel of this
    shape 13.2 s vs catalyst 8.8 s on an 800k-doc corpus (this kernel: see
    OPTIMIZATION_r06.md). Value-identical by construction: every field
    comes from the exact oracle/struct code the pytest fixtures pin."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .core import oracle

    def _nullable(dt: T.DataType) -> T.DataType:
        # pyarrow builders emit nullable arrays; declare the kernel's output
        # schema nullable throughout (metadata-only — no value changes) so
        # no non-nullable cast is needed on the Arrow side
        if isinstance(dt, T.StructType):
            return T.StructType([
                T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields
            ])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_nullable(dt.elementType), True)
        return dt

    out_schema = _nullable(T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("needs_ocr", T.BooleanType()),
        T.StructField("parse_failures", T.ArrayType(T.StringType())),
        T.StructField("out_spans", T.ArrayType(schemas.SPAN)),
        T.StructField("plain_text", T.StringType()),
        T.StructField("pages", T.ArrayType(schemas.PAGE)),
        T.StructField("structure", schemas.STRUCTURE),
    ]))
    arrow_schema = to_arrow_schema(out_schema)

    def gen(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            txts = batch.column(1).to_pylist()
            n = len(ids)
            needs = np.empty(n, dtype=bool)
            pt: list[str] = []
            f_off = np.empty(n + 1, dtype=np.int32); f_off[0] = 0
            f_val: list[str] = []
            s_off = np.empty(n + 1, dtype=np.int32); s_off[0] = 0
            s_kind: list[str] = []; s_text: list[str] = []
            s_ref: list[str] = []; s_num: list[int] = []
            p_off = np.empty(n + 1, dtype=np.int32); p_off[0] = 0
            p_num: list[int] = []; p_start: list[int] = []; p_end: list[int] = []
            st_title: list[str] = []; st_lang: list[str] = []
            para_off = np.empty(n + 1, dtype=np.int32); para_off[0] = 0
            para_s: list[int] = []; para_e: list[int] = []; para_l: list[str] = []
            sent_off = np.empty(n + 1, dtype=np.int32); sent_off[0] = 0
            sent_s: list[int] = []; sent_e: list[int] = []; sent_l: list[str] = []
            sec_off = np.empty(n + 1, dtype=np.int32); sec_off[0] = 0
            sec_cols: dict[str, list] = {
                "start": [], "end": [], "title": [],
                "title_start": [], "title_end": [], "level": [], "abs_level": [],
            }
            for i in range(n):
                spans = oracle.derive_spans(ids[i], txts[i] or "")
                do_ocr = oracle.needs_ocr(spans)
                out, fails = oracle.restitch(spans, do_ocr)
                ptext, pages = oracle.assemble(out)
                needs[i] = do_ocr
                pt.append(ptext)
                f_val.extend(fails)
                f_off[i + 1] = len(f_val)
                for s in out:
                    s_kind.append(s.kind); s_text.append(s.text)
                    s_ref.append(s.media_ref); s_num.append(s.offset)
                s_off[i + 1] = len(s_kind)
                for p in pages:
                    p_num.append(p["number"]); p_start.append(p["start"])
                    p_end.append(p["end"])
                p_off[i + 1] = len(p_num)
                st = structure._structure_of(ptext)
                st_title.append(st["title"]); st_lang.append(st["language"])
                for q in st["paragraphs"]:
                    para_s.append(q["start"]); para_e.append(q["end"])
                    para_l.append(q["language"])
                para_off[i + 1] = len(para_s)
                for q in st["sentences"]:
                    sent_s.append(q["start"]); sent_e.append(q["end"])
                    sent_l.append(q["language"])
                sent_off[i + 1] = len(sent_s)
                for q in st["sections"]:
                    for k in sec_cols:
                        sec_cols[k].append(q[k])
                sec_off[i + 1] = len(sec_cols["start"])

            def lst(offsets, child):
                return pa.ListArray.from_arrays(pa.array(offsets), child)

            spans_struct = pa.StructArray.from_arrays(
                [pa.array(s_kind, type=pa.string()),
                 pa.array(s_text, type=pa.string()),
                 pa.array(s_ref, type=pa.string()),
                 pa.array(s_num, type=pa.int32())],
                names=["kind", "text", "media_ref", "offset"],
            )
            n_pages_tot = len(p_num)
            bbox_child = pa.array(
                np.tile(np.array([0.0, 0.0, 612.0, 792.0], dtype=np.float32),
                        n_pages_tot),
                type=pa.float32(),
            )
            pages_struct = pa.StructArray.from_arrays(
                [pa.array(p_num, type=pa.int32()),
                 pa.array(p_start, type=pa.int32()),
                 pa.array(p_end, type=pa.int32()),
                 lst(np.arange(n_pages_tot + 1, dtype=np.int32) * 4, bbox_child),
                 pa.array(np.zeros(n_pages_tot, dtype=np.int32))],
                names=["number", "start", "end", "bbox", "rotation"],
            )

            def text_spans(ss, ee, ll):
                return pa.StructArray.from_arrays(
                    [pa.array(ss, type=pa.int32()),
                     pa.array(ee, type=pa.int32()),
                     pa.array(ll, type=pa.string())],
                    names=["start", "end", "language"],
                )

            sections_struct = pa.StructArray.from_arrays(
                [pa.array(sec_cols["start"], type=pa.int32()),
                 pa.array(sec_cols["end"], type=pa.int32()),
                 pa.array(sec_cols["title"], type=pa.string()),
                 pa.array(sec_cols["title_start"], type=pa.int32()),
                 pa.array(sec_cols["title_end"], type=pa.int32()),
                 pa.array(sec_cols["level"], type=pa.int32()),
                 pa.array(sec_cols["abs_level"], type=pa.int32())],
                names=["start", "end", "title", "title_start", "title_end",
                       "level", "abs_level"],
            )
            cols = [
                pa.array(ids, type=pa.string()),
                pa.array(needs),
                lst(f_off, pa.array(f_val, type=pa.string())),
                lst(s_off, spans_struct),
                pa.array(pt, type=pa.string()),
                lst(p_off, pages_struct),
                pa.StructArray.from_arrays(
                    [pa.array(st_title, type=pa.string()),
                     pa.array(st_lang, type=pa.string()),
                     lst(para_off, text_spans(para_s, para_e, para_l)),
                     lst(sent_off, text_spans(sent_s, sent_e, sent_l)),
                     lst(sec_off, sections_struct)],
                    names=["title", "language", "paragraphs", "sentences",
                           "sections"],
                ),
            ]
            yield pa.RecordBatch.from_arrays(
                [c.cast(f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return docs.select(
        F.col(doc_id_col).cast("string").alias(doc_id_col), text_col
    ).mapInArrow(gen, schema=out_schema)


def extract_from_documents(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    fanout_threshold: int | None = restitch.DEFAULT_FANOUT_THRESHOLD,
    with_structure: bool = True,
) -> DataFrame:
    """documents -> extraction results (one row per doc).

    The engine follows from ``with_structure``, per the measured boundary
    economics: WITHOUT structure the pure-expression catalyst pipeline
    wins (0.76 s vs 0.99 s at sf1.0 — no python boundary at all beats
    paying one); WITH structure a python pass is unavoidable (the
    segmenter), so the ``mapInArrow`` kernel that does extraction AND
    structure in that same pass wins decisively (1.22 s vs 1.63 s at
    sf1.0; 4.97 s vs 8.53 s on an 800k-doc corpus). The kernel is pinned
    row-for-row equal to the catalyst engine plus
    ``structure.with_structure`` (tests/test_integration.py,
    tests/test_pipeline_vs_oracle.py).

    ``fanout_threshold`` routes the catalyst engine only. The arrow
    engine sends every document, whatever its length, through the kernel:
    the fan-out gives a document no parallelism (its ``groupBy(doc_id)``
    gathers all of one document's spans into one reduce task, just as the
    kernel holds one document in one task) and would add a shuffle, a
    second python boundary and a union. The kernel is also faster per
    giant doc (local[4] on a 4-core host, median of 5 warm passes): 1.09 s
    vs 1.51 s routed for a 200k-word doc, 2.96 s vs 4.82 s for an
    800k-word one (119k spans), with equal rows.

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
