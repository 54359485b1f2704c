from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from text_extraction_system_spark import pipeline, synth
from text_extraction_system_spark.operators import partitioning, serialize


def test_cost_salted_balance(spark):
    """Hash-salted repartition spreads doc cost; different salts produce
    different placements (decorrelated runs)."""
    df = synth.corpus_df(spark, n_per_archetype=8)
    parts = partitioning.cost_salted_repartition(df, 8, salt=1)
    stats = partitioning.partition_cost_stats(parts)
    assert stats["n_partitions"] == 8
    assert stats["balance"] < 8.0  # the giant doc dominates; still spread
    other = partitioning.cost_salted_repartition(df, 8, salt=2)
    a = parts.withColumn("pid", F.spark_partition_id()).select("doc_id", "pid").collect()
    b = other.withColumn("pid", F.spark_partition_id()).select("doc_id", "pid").collect()
    assert {r["doc_id"]: r["pid"] for r in a} != {r["doc_id"]: r["pid"] for r in b}


@pytest.mark.parametrize("rows, row_groups, split_bytes, spread", [
    pytest.param(800, 1, None, True, id="1-True"),
    pytest.param(800, 8, None, True, id="8-True"),
    pytest.param(400_000, 8, None, True, id="8-400k-True"),
    pytest.param(400_000, 8, 1 << 16, False, id="8-split-False"),
])
def test_spread_follows_the_input_row_groups(spark, tmp_path, rows, row_groups,
                                             split_bytes, spread):
    """``spread_unsplittable`` repartitions a scan that splits fewer ways
    than the session's parallelism (4 on the test session's local[4]) and
    leaves one that splits as many ways alone. A file of 8 row groups
    still scans as one partition under the default split size, so it is
    spread too; with ``split_bytes`` as the split size the 400,000-row
    file splits into its row groups and is not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "docs.parquet")
    table = pa.table({"doc_id": list(range(rows)), "text": [f"words {i}" for i in range(rows)]})
    pq.write_table(table, path, row_group_size=rows // row_groups)
    assert pq.ParquetFile(path).metadata.num_row_groups == row_groups
    key = "spark.sql.files.maxPartitionBytes"
    if split_bytes:
        spark.conf.set(key, str(split_bytes))
    try:
        scan = spark.read.parquet(path)
        assert (scan.rdd.getNumPartitions() >= 4) == (not spread)
        df = partitioning.spread_unsplittable(scan, "doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset(key)
    assert ("Exchange" in plan) == spread, plan
    assert df.count() == rows


def test_doc_cost_charges_media(spark):
    df = synth.corpus_df(spark)
    costs = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", partitioning.doc_cost_col(F.col("spans")).alias("c")).collect()
    }
    assert costs["mediaheavy_0"] > 4 * 256  # 4 media spans charged
    assert costs["giant_0"] > costs["structured_0"]


def test_to_json_roundtrip(spark, tmp_path):
    df = synth.corpus_df(spark).limit(5)
    # serialize from the materialized results table (the realistic sink-side
    # usage; to_json cannot wrap a pandas-UDF output expression directly)
    pipeline.extract_from_spans(df).write.parquet(str(tmp_path / "res"))
    res = spark.read.parquet(str(tmp_path / "res"))
    out = serialize.to_json_column(res, "structure").select("doc_id", "structure_json")
    for r in out.collect():
        parsed = json.loads(r["structure_json"])
        assert set(parsed) <= {"title", "language", "paragraphs", "sentences", "sections"}
        assert isinstance(parsed["language"], str)


def test_minipack_spec_goldens():
    """Vendored packer emits spec-exact bytes (== msgpack.packb for these)."""
    from text_extraction_system_spark.core import minipack as mp

    assert mp.packb(None) == b"\xc0"
    assert mp.packb(True) == b"\xc3"
    assert mp.packb(False) == b"\xc2"
    assert mp.packb(5) == b"\x05"
    assert mp.packb(200) == b"\xcc\xc8"
    assert mp.packb(70000) == b"\xce\x00\x01\x11\x70"
    assert mp.packb(-3) == b"\xfd"
    assert mp.packb(-100) == b"\xd0\x9c"
    assert mp.packb("abc") == b"\xa3abc"
    assert mp.packb("x" * 40) == b"\xd9\x28" + b"x" * 40
    assert mp.packb(1.5, use_single_float=True) == b"\xca\x3f\xc0\x00\x00"
    assert mp.packb(1.5) == b"\xcb\x3f\xf8\x00\x00\x00\x00\x00\x00"
    assert mp.packb([1, "a"]) == b"\x92\x01\xa1a"
    assert mp.packb({"k": 1}) == b"\x81\xa1k\x01"
    assert mp.packb(b"\x00\x01") == b"\xc4\x02\x00\x01"
    if serialize.HAS_MSGPACK:  # cross-check when the real wheel exists
        import msgpack

        for v in [None, 5, -100, "abc", [1, "a"], {"k": [1.5, None]}]:
            assert mp.packb(v, use_single_float=True) == msgpack.packb(
                v, use_single_float=True
            )


def test_msgpack_sink_runs(spark, tmp_path):
    """The binary wire-format path executes end-to-end (vendored packer when
    the msgpack wheel is absent) and its output is non-empty valid bytes."""
    df = synth.corpus_df(spark).limit(4)
    pipeline.extract_from_spans(df).write.parquet(str(tmp_path / "res2"))
    res = spark.read.parquet(str(tmp_path / "res2"))
    out = serialize.to_msgpack_column(res, "structure").select(
        "doc_id", "structure_msgpack"
    )
    rows = out.collect()
    assert len(rows) == 4
    for r in rows:
        blob = r["structure_msgpack"]
        assert isinstance(blob, (bytes, bytearray)) and len(blob) > 0
        assert blob[0] & 0xF0 == 0x80  # fixmap: the DTO is a small dict


def test_curation_funnel_monotone(spark):
    """Funnel counts are monotone per source, and the dedup stage never
    exceeds the token gate; dedup keeps exactly one doc per content hash."""
    from text_extraction_system_spark.operators import curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # inject an exact duplicate so the dedup stage actually cuts
    from pyspark.sql import functions as F

    dup = docs.limit(1).select((F.col("doc_id") + 100000).alias("doc_id"),
                               "text", "lang", "source", "n_chars")
    rows = curation.funnel(docs.unionByName(dup.select(docs.columns))).collect()
    assert rows
    total_kept = 0
    for r in rows:
        assert r["n_input"] >= r["n_lang"] >= r["n_quality"] >= r["n_tokens_ok"] >= r["n_deduped"]
        total_kept += r["n_deduped"]
    full = curation.funnel(docs).agg({"n_deduped": "sum"}).collect()[0][0]
    # the duplicate (if its original survives the gates) must not add a doc
    assert total_kept == full


def test_miniproto_wire_goldens():
    """Hand-assembled proto2 wire bytes for the contract_pages.proto shapes
    (StringValue wrapper, varint int32s, little-endian packed floats)."""
    import struct

    from text_extraction_system_spark.core import miniproto

    # StringValue("en") nested at field 2 of Pages
    assert miniproto.encode_pages({"language": "en"}) == b"\x12\x04\x0a\x02en"
    # Page {number=1, start=0, end=7, bbox=[0.0, 1.5] packed}
    page = miniproto.encode_page({"number": 1, "start": 0, "end": 7, "bbox": [0.0, 1.5]})
    assert page == (
        b"\x08\x01\x10\x00\x18\x07"  # three varint int32 fields
        + b"\x2a\x08" + struct.pack("<2f", 0.0, 1.5)  # field 5, packed
    )
    # Sentence {start=3, end=9, language="de"}
    assert miniproto.encode_text_span({"start": 3, "end": 9, "language": "de"}) == (
        b"\x08\x03\x10\x09\x1a\x04\x0a\x02de"
    )
    # Section with title wrapper at field 3 and level fields
    sec = miniproto.encode_section(
        {"start": 0, "end": 5, "title": "A", "title_start": 0,
         "title_end": 1, "level": 2, "abs_level": 2}
    )
    assert sec == b"\x08\x00\x10\x05\x1a\x03\x0a\x01A\x20\x00\x28\x01\x30\x02\x38\x02"
    # varint multi-byte boundary: 300 = 0xAC 0x02
    out = bytearray(); miniproto._varint(300, out)
    assert bytes(out) == b"\xac\x02"
    # Section positional fields: left=8/top=9 are FLOATS (I32 wire, tags
    # 0x45/0x4d), page=10 varint (tag 0x50) — contract_pages.proto:32-35
    sec2 = miniproto.encode_section({"left": 1.5, "top": 2.0, "page": 3})
    assert sec2 == (
        b"\x45" + struct.pack("<f", 1.5)
        + b"\x4d" + struct.pack("<f", 2.0)
        + b"\x50\x03"
    )
    # TableOfContent: title StringValue=1, then four varint int32s (left/top
    # are int32 here, unlike Section's floats)
    toc = miniproto.encode_toc_item(
        {"title": "T", "level": 1, "left": 10, "top": 20, "page": 2}
    )
    assert toc == b"\x0a\x03\x0a\x01T\x10\x01\x18\x0a\x20\x14\x28\x02"
    # Pages.table_of_contents = field 7 (tag 0x3a)
    pages_msg = miniproto.encode_pages({"table_of_contents": [{"title": "T"}]})
    assert pages_msg == b"\x3a\x05\x0a\x03\x0a\x01T"


def test_miniproto_char_bboxes_goldens():
    """contract_char_bboxes.proto: each char box wrapped in a Coordinates
    submessage (packed floats at field 1), __initialised__ bool at field 2 —
    the wrapping the reference does at tasks.py:500-502."""
    import struct

    from text_extraction_system_spark.core import miniproto

    # one box [1.0, 2.0, 3.0, 4.0]: Coordinates{coords packed} nested at f1
    inner = b"\x0a\x10" + struct.pack("<4f", 1.0, 2.0, 3.0, 4.0)
    one = miniproto.encode_char_bboxes([[1.0, 2.0, 3.0, 4.0]])
    assert one == b"\x0a" + bytes([len(inner)]) + inner
    # empty box list + __initialised__=True -> just the bool field
    assert miniproto.encode_char_bboxes([], initialised=True) == b"\x10\x01"
    # empty Coordinates row still emits an (empty) submessage, like protoc
    assert miniproto.encode_char_bboxes([[]]) == b"\x0a\x00"


def test_char_bboxes_proto_sink(spark):
    """The pdf-coordinates proto sink emits one CharBboxes message per doc
    with exactly len(plain_text) Coordinates rows (the reference invariant:
    one bbox per char)."""
    from text_extraction_system_spark import pipeline, synth
    from text_extraction_system_spark.operators import coords, serialize

    res = coords.with_char_boxes(
        pipeline.extract_from_spans(synth.corpus_df(spark).limit(4))
    )
    rows = serialize.to_char_bboxes_proto_column(res).select(
        "doc_id", "plain_text", "char_bboxes", "char_bboxes_proto"
    ).collect()
    assert rows
    for r in rows:
        blob = bytes(r["char_bboxes_proto"])
        assert blob.endswith(b"\x10\x01")  # __initialised__=True, field 2
        # count Coordinates submessages at field 1 by walking the wire
        n, i = 0, 0
        while i < len(blob) - 2:  # stop before the trailing bool field
            assert blob[i] == 0x0A
            ln, shift, i = 0, 0, i + 1
            while True:
                b = blob[i]; i += 1
                ln |= (b & 0x7F) << shift; shift += 7
                if not (b & 0x80):
                    break
            i += ln; n += 1
        assert n == len(r["plain_text"]) == len(r["char_bboxes"])


def test_protobuf_sink_roundtrip_shape(spark):
    """The proto sink produces a parseable, non-empty wire message per doc
    whose embedded language StringValue matches the structure column."""
    from text_extraction_system_spark import pipeline, synth
    from text_extraction_system_spark.operators import serialize

    res = pipeline.extract_from_spans(synth.corpus_df(spark).limit(6))
    out = serialize.to_protobuf_column(res).select("doc_id", "structure", "structure_proto").collect()
    assert out
    for r in out:
        blob = bytes(r["structure_proto"])
        lang = r["structure"]["language"]
        # field 2 StringValue: tag 0x12, len, inner tag 0x0a, len, utf8
        marker = b"\x12" + bytes([len(lang) + 2, 0x0A, len(lang)]) + lang.encode()
        assert marker in blob


def test_protobuf_sink_emits_toc(spark):
    """A table_of_contents array column (the toc operator's rows gathered
    per doc) reaches the wire as Pages field 7."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark import pipeline, synth
    from text_extraction_system_spark.operators import serialize, toc

    res = pipeline.extract_from_spans(synth.corpus_df(spark))
    toc_rows = toc.toc_section_rows(res).groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("title"), F.col("level"))).alias("table_of_contents")
    )
    withtoc = res.join(toc_rows, "doc_id")  # inner: only docs WITH a toc
    rows = serialize.to_protobuf_column(withtoc).select(
        "table_of_contents", "structure_proto"
    ).collect()
    assert rows
    for r in rows:
        blob = bytes(r["structure_proto"])
        title = r["table_of_contents"][0]["title"]
        # field 7 (tag 0x3a) submessage starting with the title StringValue
        inner = b"\x0a" + bytes([len(title) + 2, 0x0A, len(title)]) + title.encode()
        assert (b"\x3a" + bytes([len(inner) + 2]) + inner in blob  # + level field
                or b"\x3a" + bytes([len(inner)]) + inner in blob)  # level absent
