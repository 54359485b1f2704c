"""The document operators' one input contract: the fixed columns ``doc_id``,
``text`` (and ``source``, ``lang``, ``html``, ``n_tokens`` where an operator
reads them), with ``doc_id`` keyed as a string by ``schemas.keyed``.

Every operator runs on the same small corpus twice, once with bigint ids
and once with the ids already strings, and must return equal rows: a path
that skipped the projection would emit bigint ids, or fail inside its Arrow
kernel (``extract_from_spans`` did).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from text_extraction_system_spark import lineage, pipeline
from text_extraction_system_spark.operators import (
    boilerplate, curation, dedup, readorder_op, splits, textstats,
)
from text_extraction_system_spark.operators import spans as spans_op


@pytest.fixture(scope="module")
def corpora(spark):
    """80 sf0.001 docs plus exact copies of three of them under new ids."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 80")
    docs = base.unionByName(
        base.where("doc_id < 3").withColumn("doc_id", F.col("doc_id") + 1000)
    ).select(
        "doc_id", "text", "lang", "source", F.col("text").alias("html"),
        F.length("text").cast("bigint").alias("n_tokens"),
    )
    return {"bigint": docs, "string": docs.withColumn("doc_id", F.col("doc_id").cast("string"))}


def _spans(docs):
    """The documents' spans table, its ``doc_id`` of the input's type."""
    return spans_op.derive_spans(docs).withColumn(
        "doc_id", F.col("doc_id").cast(docs.schema["doc_id"].dataType))


def _committed(table):
    """The results ``lineage.run_extraction`` commits for ``table``."""
    out = tempfile.mkdtemp()
    lineage.run_extraction(table.sparkSession, table, out, run_id="r")
    return table.sparkSession.read.parquet(f"{out}/results").select(
        *pipeline.RESULT.fieldNames())


OPERATORS = {
    "extract_from_documents": lambda d: pipeline.extract_from_documents(d, with_structure=False),
    "extract_from_spans": lambda d: pipeline.extract_from_spans(_spans(d), with_structure=False),
    "run_extraction_documents": _committed,
    "run_extraction_spans": lambda d: _committed(_spans(d)),
    "derive_spans": spans_op.derive_spans,
    "signature_rows": dedup.signature_rows,
    "near_dup_pairs": dedup.near_dup_pairs,
    "incremental_near_dup": lambda d: dedup.incremental_near_dup(d, dedup.signature_rows(d)),
    "contamination_report": lambda d: dedup.contamination_report(d, d),
    "dup_window_coverage": dedup.dup_window_coverage,
    "simhash_rows": textstats.simhash_rows,
    "tfidf_keywords": textstats.tfidf_keywords,
    "source_stats": textstats.source_stats,
    "reading_order_rows": readorder_op.reading_order_rows,
    "assign_splits": splits.assign_splits,
    "pack_bins": lambda d: splits.pack_bins(d, budget=500),
    "mixture_plan": lambda d: splits.mixture_plan(d, None, 5000),
    "strip_boilerplate": boilerplate.strip_boilerplate,
    "doc_signals": curation.doc_signals,
    "funnel": curation.funnel,
}


@pytest.mark.parametrize("name", OPERATORS)
def test_bigint_ids_equal_string_ids(corpora, name):
    op = OPERATORS[name]
    got, want = (sorted(op(corpora[k]).collect(), key=repr) for k in ("bigint", "string"))
    assert want
    assert got == want
