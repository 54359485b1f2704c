"""``derive_spans(docs)`` under the module name the benchmark's traced cuts
import; the span pass is ``operators.spans``. Deleted with ROADMAP item 0."""

from __future__ import annotations

from .spans import derive_spans  # noqa: F401
