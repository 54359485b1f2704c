"""Names the benchmark's traced cuts (perfbench/workloads.py) still call.

Span processing and re-stitch run inside the extraction kernel
(``pipeline._extract``); each name here runs that kernel on a spans table
and ignores its routing arguments. Nothing else calls them. Deleted with
ROADMAP item 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import pipeline

#: read by the benchmark's traced cuts; routes nothing. Deleted with ROADMAP item 0.
DEFAULT_FANOUT_THRESHOLD = 256


def process_spans(spans_df: DataFrame, fanout_threshold: int | None = None) -> DataFrame:
    """``pipeline.extract_from_spans(spans_df, with_structure=False)``; kept
    only for the benchmark's commit cut, deleted with ROADMAP item 0."""
    return pipeline.extract_from_spans(spans_df, with_structure=False)


def process_spans_fanout(spans_df: DataFrame, may_have_empty: bool = True) -> DataFrame:
    """``pipeline.extract_from_spans(spans_df, with_structure=False)``; kept
    only for the benchmark's long-doc cuts, deleted with ROADMAP item 0."""
    return pipeline.extract_from_spans(spans_df, with_structure=False)
