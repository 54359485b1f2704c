"""spark-text-extract: PySpark-native document text/structure extraction engine.

A from-scratch, idiomatic-Spark rebuild of the capabilities of
LexPredict/text-extraction-system (reference at /root/reference, v1.3.2.1):
interleaved text+media span documents -> routed extraction (OCR-decision
classifier, deterministic OCR stub) -> span re-stitch in original order ->
plain-text assembly with page/paragraph separators -> structure segmentation
(pages, paragraphs, sentences, sections, language) -> lineage + idempotent
checkpointed sink.

Design stance (SURVEY.md section 7.0): DataFrame + built-in functions on the
hot path; where semantics require Python, one boundary: per-row Python
kernels (among them the extraction kernel) and whole-column numpy kernels
run over Arrow batches through ``arrowmap`` (``mapInArrow``). No pandas
UDFs and no pandas state functions: the event streams are the batch session
and hourly aggregates under a watermark.
"""

__version__ = "0.1.0"
