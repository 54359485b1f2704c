"""Durable dedup/ANN state tables (operators/state.py): partition layout,
pruning, cross-process durability — the cluster-scale properties in-memory
state cannot provide (reference analog: the persisted
task registry + recovery, task_health/task_health.py:15-139)."""

from __future__ import annotations

import re
import subprocess
import sys

from pyspark.sql import functions as F

from text_extraction_system_spark.operators import dedup, similarity, state

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_signature_table_partition_pruning(spark, tmp_path):
    """Filters on (band, sig_prefix) must reach the scan as PartitionFilters
    — single-bucket probes touch one directory, not the corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    state.write_signature_table(docs.where(F.col("doc_id") % 3 == 0), str(tmp_path))
    t = state.read_signature_table(spark, str(tmp_path))
    plan = _plan(t.where((F.col("band") == 3) & (F.col("sig_prefix") == "a")))
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m, plan
    assert "band" in m.group(0) and "sig_prefix" in m.group(0)
    # the pruned keys must NOT appear as post-scan data filters
    assert "band_sig" in t.columns and "sig" in t.columns


def test_incremental_dedup_from_persisted_table(spark, tmp_path):
    """The persisted path returns pairs identical to the in-memory path, and
    its join plan carries a dynamic-partition-pruning expression — a small
    batch prunes committed partitions before reading any signature file."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    committed_docs = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)

    state.write_signature_table(committed_docs, str(tmp_path))
    persisted = dedup.incremental_near_dup(
        new, state.read_signature_table(spark, str(tmp_path))
    )
    assert "dynamicpruning" in _plan(persisted).lower()

    mem = dedup.incremental_near_dup(new, dedup.signature_rows(committed_docs))
    got = {(r["doc_id"], r["dup_of"], f"{r['est_jaccard']:.9g}")
           for r in persisted.collect()}
    want = {(r["doc_id"], r["dup_of"], f"{r['est_jaccard']:.9g}")
            for r in mem.collect()}
    assert got == want and got


_WRITE_SCRIPT = """
import sys
from pyspark.sql import functions as F
from text_extraction_system_spark.session import get_spark
from text_extraction_system_spark.operators import state
spark = get_spark(master="local[4]", shuffle_partitions=4)
docs = spark.read.parquet("{sf}/documents.parquet")
state.write_signature_table(docs.where(F.col("doc_id") % 3 == 0), sys.argv[1])
spark.stop()
"""

_JOIN_SCRIPT = """
import sys
from pyspark.sql import functions as F
from text_extraction_system_spark.session import get_spark
from text_extraction_system_spark.operators import state, dedup
spark = get_spark(master="local[4]", shuffle_partitions=4)
docs = spark.read.parquet("{sf}/documents.parquet")
new = docs.where(F.col("doc_id") % 3 != 0)
committed = state.read_signature_table(spark, sys.argv[1])
dedup.incremental_near_dup(new, committed).write.mode("overwrite").parquet(sys.argv[2])
spark.stop()
"""


def test_durable_across_process_kill_restart(spark, tmp_path):
    """The table written by one process (then killed) is joined by a FRESH
    process — no shared JVM, no checkpoint blocks, no lineage — and yields
    pairs identical to the in-process computation."""
    base = str(tmp_path / "state")
    out = str(tmp_path / "pairs")
    for script, args in ((_WRITE_SCRIPT, [base]), (_JOIN_SCRIPT, [base, out])):
        r = subprocess.run(
            [sys.executable, "-c", script.format(sf=SF), *args],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    got = {(r["doc_id"], r["dup_of"], f"{r['est_jaccard']:.9g}")
           for r in spark.read.parquet(out).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mem = dedup.incremental_near_dup(
        docs.where(F.col("doc_id") % 3 != 0),
        dedup.signature_rows(docs.where(F.col("doc_id") % 3 == 0)),
    )
    want = {(r["doc_id"], r["dup_of"], f"{r['est_jaccard']:.9g}")
            for r in mem.collect()}
    assert got == want and got


def test_srp_buckets_persisted_match_and_prune(spark, tmp_path):
    """write_srp_buckets round-trips the exact (vid, band, bucket) rows and
    prunes on (band, bucket_prefix)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    state.write_srp_buckets(emb, str(tmp_path))
    t = state.read_srp_buckets(spark, str(tmp_path))

    mem = similarity.srp_banded_buckets(emb)
    got = {(r["vid"], r["band"], r["bucket"]) for r in t.collect()}
    want = {(r["vid"], r["band"], r["bucket"]) for r in mem.collect()}
    assert got == want and got

    plan = _plan(t.where((F.col("band") == 1) & (F.col("bucket_prefix") == "0101")))
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "band" in m.group(0) and "bucket_prefix" in m.group(0)


def test_incremental_ann_from_persisted_buckets(spark, tmp_path):
    """incremental_ann_topk served from the persisted SRP bucket table: the
    join plan carries a dynamic-partition-pruning expression (the broadcast
    batch's (band, bucket_prefix) keys prune committed partitions before any
    bucket file is read), and results are identical to the in-memory twin
    that joins on (band, bucket) without partition columns."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    committed = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 80))

    state.write_srp_buckets(committed, str(tmp_path))
    persisted = similarity.incremental_ann_topk(
        batch, state.read_srp_buckets(spark, str(tmp_path)), committed
    )
    assert "dynamicpruning" in _plan(persisted).lower()

    mem = similarity.incremental_ann_topk(
        batch, similarity.srp_banded_buckets(committed), committed
    )
    got = {(r["query_id"], r["cand_id"], r["rank"], f"{r['cosine']:.9g}")
           for r in persisted.collect()}
    want = {(r["query_id"], r["cand_id"], r["rank"], f"{r['cosine']:.9g}")
            for r in mem.collect()}
    assert got == want and got
