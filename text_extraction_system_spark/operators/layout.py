"""Names the benchmark's traced cuts (perfbench/workloads.py) still call.

Plain-text and page assembly run inside the extraction kernel
(``pipeline._extract``, ``core.oracle.assemble``), so a table that
``restitch.process_spans`` returned is already assembled. Nothing else
calls this module. Deleted with ROADMAP item 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import pipeline


def assemble(stitched: DataFrame, dense: bool | None = None) -> DataFrame:
    """The kernel's result columns of ``stitched``, which the kernel already
    assembled; kept only for the benchmark's cuts, deleted with ROADMAP
    item 0."""
    return stitched.select(*pipeline.RESULT.names)
