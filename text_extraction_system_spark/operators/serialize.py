"""Output wire formats (SURVEY.md S9/C9): json / msgpack / protobuf.

The reference encodes the structure DTOs per request into one of three wire
formats (``tasks.py:458-541``; ``OutputFormat`` dto.py:16-19). Columnar twin:
the struct column stays native in the table; serialization is an OPTIONAL
projection —

* json      — ``F.to_json`` (JVM-side, codegen; the default)
* msgpack   — ``arrowmap.append_column`` calling ``msgpack.packb`` when
  the wheel is installed, else the vendored spec-subset packer
  (``core.minipack`` — byte-identical for the DTO types), so the binary
  path always runs in CI
* protobuf  — vendored proto2 wire encoder (``core.miniproto``) matching the
  reference's ``contract_pages.proto`` message shapes byte-for-byte
  (golden-tested). Kept OFF the default path: the reference's own perf
  tests measured protobuf >2x slower to encode than msgpack at >1.5x the
  size (``test_data_extract.py:198-244``) — but the wire twin exists for
  consumers that require the contract format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import arrowmap

try:  # optional dependency; the vendored packer is the fallback
    import msgpack  # type: ignore

    HAS_MSGPACK = True
    _packb = msgpack.packb
except ImportError:
    from ..core import minipack

    msgpack = None
    HAS_MSGPACK = False
    _packb = minipack.packb


def to_json_column(results: DataFrame) -> DataFrame:
    """Append ``structure_json`` — stays entirely JVM-side."""
    return results.withColumn("structure_json", F.to_json(F.col("structure")))


def to_msgpack_column(results: DataFrame) -> DataFrame:
    """Append ``structure_msgpack`` (binary) via Arrow batches."""
    return arrowmap.append_column(
        results, "structure_msgpack", T.BinaryType(),
        lambda structs: [_packb(v, use_single_float=True) for v in structs],
        "structure",
    )


def to_protobuf_column(results: DataFrame) -> DataFrame:
    """Append ``structure_proto`` (binary): the reference's ``Pages``
    contract message (contract_pages.proto) via Arrow batches and the
    vendored proto2 encoder, with the ``pages`` column when ``results`` has
    one. Same ``arrowmap.append_column`` shape as the msgpack sink. When a
    ``table_of_contents`` array column is present (e.g. the toc operator's
    rows collected per doc), its items are emitted as field 7 alongside the
    structure's own segments."""
    from ..core import miniproto

    has_pages = "pages" in results.columns
    has_toc = "table_of_contents" in results.columns

    def encode(structs, *extra):
        extra = list(extra)
        pages = extra.pop(0) if has_pages else [()] * len(structs)
        tocs = extra.pop(0) if has_toc else [None] * len(structs)
        blobs = []
        for s, p, t in zip(structs, pages, tocs):
            if t:
                s = {**s, "table_of_contents": t}
            blobs.append(miniproto.encode_pages(s, p if p is not None else ()))
        return blobs

    return arrowmap.append_column(
        results, "structure_proto", T.BinaryType(), encode, "structure",
        *["pages"] * has_pages, *["table_of_contents"] * has_toc,
    )


def to_char_bboxes_proto_column(results: DataFrame) -> DataFrame:
    """Append ``char_bboxes_proto`` (binary): the reference's pdf-coordinates
    leg (``contract_char_bboxes.proto`` CharBboxes, encoded at
    ``tasks.py:490-508``) from the ``coords.with_char_boxes`` array column.
    The reference DTO always serializes with ``__initialised__=True``."""
    from ..core import miniproto

    return arrowmap.append_column(
        results, "char_bboxes_proto", T.BinaryType(),
        lambda boxes: [miniproto.encode_char_bboxes(b, initialised=True) for b in boxes],
        "char_bboxes",
    )
