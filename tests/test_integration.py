"""End-to-end integration (reference integration_tests analog): spans
parquet in -> checkpointed job -> stored results table out, verified
byte-for-byte against the oracle (the north-rule acceptance check, run
through the same code path as job.py)."""

from __future__ import annotations

from text_extraction_system_spark import lineage, synth
from text_extraction_system_spark.core import oracle


def test_job_output_matches_oracle(spark, tmp_path):
    in_dir = str(tmp_path / "spans")
    out_dir = str(tmp_path / "out")
    synth.corpus_df(spark).write.parquet(in_dir)

    spans_df = spark.read.parquet(in_dir)
    summary = lineage.run_extraction(spark, spans_df, out_dir, run_id="it1")
    assert summary["docs_processed"] == spans_df.count()
    # snapshot id must be derived from the real input files now
    assert summary["snapshot_id"] != "d41d8cd98f00b204"

    results = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in spark.read.parquet(f"{out_dir}/results").collect()
    }
    for doc_id, spans in synth.corpus():
        in_spans = [
            oracle.Span(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans
        ]
        exp = oracle.extract_spans(doc_id, in_spans)
        got = results[doc_id]
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["out_spans"]
        ]
        assert got_spans == [
            (s.kind, s.text, s.media_ref, s.offset) for s in exp.out_spans
        ], doc_id
        assert got["plain_text"] == exp.plain_text, doc_id
        assert got["parse_failures"] == exp.parse_failures, doc_id
        assert got["needs_ocr"] == exp.needs_ocr, doc_id
