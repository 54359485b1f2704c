"""Structured Streaming twins: hermetic file-source runs with
Trigger.AvailableNow; streaming output must equal the batch output."""

from __future__ import annotations

import pytest

from text_extraction_system_spark import pipeline, synth
from text_extraction_system_spark.streaming import jobs


def test_extraction_stream_matches_batch(spark, tmp_path):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    corpus = synth.corpus_df(spark)
    corpus.write.parquet(in_dir)

    jobs.run_extraction_stream(spark, in_dir, out_dir, ckpt)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in pipeline.extract_from_spans(corpus, with_structure=False).collect()
    }
    assert set(got) == set(exp)
    for doc_id in exp:
        assert got[doc_id]["out_spans"] == exp[doc_id]["out_spans"], doc_id
        assert got[doc_id]["plain_text"] == exp[doc_id]["plain_text"], doc_id

    # exactly-once on restart: draining again adds nothing
    jobs.run_extraction_stream(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == len(exp)


def test_windowed_counts_stream(spark, tmp_path):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(in_dir)

    jobs.run_windowed_counts_stream(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    from text_extraction_system_spark.operators import events as ev_ops

    exp = ev_ops.tumbling_counts(spark.read.parquet(in_dir))
    got_rows = {
        (r["window_start_us"], r["event_type"]): (r["n"], r["sum_value_micros"])
        for r in got.collect()
    }
    exp_rows = {
        (r["window_start_us"], r["event_type"]): (r["n"], r["sum_value_micros"])
        for r in exp.collect()
    }
    # append-mode semantics: windows still inside the watermark horizon at
    # stream end stay in state (emitted only when later data advances the
    # watermark) — everything older must match the batch result exactly
    max_us = max(k[0] for k in exp_rows)
    horizon = max_us - 2 * 3600 * 1_000_000
    closed = {k: v for k, v in exp_rows.items() if k[0] < horizon}
    assert set(got_rows).issuperset(closed)
    for k, v in closed.items():
        assert got_rows[k] == v, k
    # nothing emitted that batch doesn't have
    assert set(got_rows) <= set(exp_rows)
    for k, v in got_rows.items():
        assert exp_rows[k] == v, k


def test_stateful_sessionize_stream(spark, tmp_path):
    """The watermarked session stream emits exactly the batch sessions the
    final watermark closed (last event + gap at or before max(ts) -
    watermark) and keeps the rest in state. One event far in the future
    moves the watermark past them, and the next drain emits every one: the
    state is released, not kept per user forever."""
    import datetime

    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import events as ev_ops

    in_dir, ckpt, out_dir = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(in_dir)

    def drain():
        (
            jobs.sessionize_stream(
                spark.readStream.schema(jobs.EVENTS_SCHEMA).parquet(in_dir)
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return {
            (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in spark.read.parquet(out_dir).collect()
        }

    events = spark.read.parquet(in_dir)
    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in ev_ops.sessionize(events).collect()
    }
    max_ts, max_us = (
        events.select(F.max(F.col("ts").cast("timestamp")).alias("m"))
        .select("m", F.unix_micros("m")).first()
    )
    gap_us = ev_ops.SESSION_GAP_SEC * 1_000_000
    watermark_us = max_us - 2 * 3600 * 1_000_000  # jobs.EVENT_WATERMARK
    closed = {s for s in batch if s[2] + gap_us <= watermark_us}
    assert drain() == closed
    assert closed < batch

    spark.createDataFrame(
        [(10**9, max_ts + datetime.timedelta(days=30), -1, "view", 0.0, "{}")],
        jobs.EVENTS_SCHEMA,
    ).write.mode("append").parquet(in_dir)
    assert drain() == batch


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates of the same content hash within the
    watermark horizon are dropped; exactly one row per distinct text
    survives."""
    import pandas as pd

    in_dir, ckpt, out_dir = (
        str(tmp_path / "din"), str(tmp_path / "dckpt"), str(tmp_path / "dout")
    )
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = pd.DataFrame(
        {
            "doc_id": [str(i) for i in range(8)],
            "text": ["alpha", "beta", "alpha", "gamma", "beta", "alpha", "delta", "gamma"],
            "ingest_ts": [base + pd.Timedelta(minutes=m) for m in range(8)],
        }
    )
    spark.createDataFrame(rows).write.parquet(in_dir)
    stream = spark.readStream.schema(
        "doc_id string, text string, ingest_ts timestamp"
    ).parquet(in_dir)
    (
        jobs.dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir).collect()
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha", "beta", "delta", "gamma"]


def test_extraction_stream_incremental_exactly_once(spark, tmp_path):
    """Two AvailableNow drains over a growing input directory with a shared
    checkpoint: the second run processes ONLY the new file, and the union of
    both outputs covers every doc exactly once (exactly-once file sink)."""
    in_dir, ckpt, out_dir = (
        str(tmp_path / "inc_in"), str(tmp_path / "inc_ckpt"), str(tmp_path / "inc_out")
    )
    full = synth.corpus_df(spark)
    n = full.count()
    full.limit(n // 2).write.mode("append").parquet(in_dir)
    jobs.run_extraction_stream(spark, in_dir, out_dir, ckpt)
    first = spark.read.parquet(out_dir).count()
    assert first == n // 2

    # drop the remaining docs and drain again from the same checkpoint
    first_ids = {r["doc_id"] for r in full.limit(n // 2).select("doc_id").collect()}
    rest = full.where(~full.doc_id.isin(first_ids))
    rest.write.mode("append").parquet(in_dir)
    jobs.run_extraction_stream(spark, in_dir, out_dir, ckpt)

    out = spark.read.parquet(out_dir)
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n


def test_curation_stream_matches_batch_survivors(spark, tmp_path):
    """The streaming curation twin keeps exactly the batch funnel's
    post-dedup survivor count (first-seen winners may differ by arrival
    order; the content-hash set must not)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = pd.Timestamp("2026-01-01")
    in_dir, ckpt, out_dir = (
        str(tmp_path / "cin"), str(tmp_path / "cckpt"), str(tmp_path / "cout")
    )
    docs.withColumn(
        "ingest_ts", F.lit(base).cast("timestamp")
    ).write.parquet(in_dir)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long, "
        "ingest_ts timestamp"
    ).parquet(in_dir)
    (
        jobs.curation_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    batch_kept = curation.funnel(docs).agg(F.sum("n_deduped")).collect()[0][0]
    assert got.count() == batch_kept
    assert got.select("content_hash").distinct().count() == batch_kept


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Stream-static incremental dedup against the PERSISTED signature
    table (the production shape: the committed corpus's durable state on
    disk, every micro-batch stream-static joins it): must flag exactly the
    pairs the batch operator flags."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import dedup, state

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    committed_docs = docs.where(F.col("doc_id") % 3 == 0)
    new_docs = docs.where(F.col("doc_id") % 3 != 0).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
    )
    new_docs.write.parquet(in_dir)

    state.write_signature_table(committed_docs, str(tmp_path / "state"))
    sigs = state.read_signature_table(spark, str(tmp_path / "state"))
    stream = spark.readStream.schema(new_docs.schema).parquet(in_dir)
    q = (
        jobs.incremental_dedup_stream(stream, sigs)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["dup_of"], r["est_jaccard"])
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        (r["doc_id"], r["dup_of"], r["est_jaccard"])
        for r in dedup.incremental_near_dup(new_docs, sigs).collect()
    }
    assert got == exp


def test_incremental_dedup_wave_matches_in_batch_and_stream(spark, tmp_path):
    """A wave of MAX_BUCKET + 1 identical arrivals, each a near-copy of one
    committed doc, fills one bucket per band on the batch side. Only the
    committed side is skew-guarded, so the batch operator and the stream
    both flag every arrival, with equal estimates."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import dedup, state

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to hide from every hunter nearby today"
    )
    n = dedup.MAX_BUCKET + 1
    wave = spark.createDataFrame(
        [(f"new{i:03d}", base + " extra tail", 1700000000 + i) for i in range(n)],
        "doc_id string, text string, ts bigint",
    ).select("doc_id", "text", F.timestamp_seconds("ts").alias("ingest_ts"))
    wave.write.parquet(in_dir)
    committed = spark.createDataFrame([("old", base)], "doc_id string, text string")
    state.write_signature_table(committed, str(tmp_path / "state"))
    sigs = state.read_signature_table(spark, str(tmp_path / "state"))

    batch = {tuple(r) for r in dedup.incremental_near_dup(wave, sigs).collect()}
    assert len(batch) == n and {r[1] for r in batch} == {"old"}

    stream = spark.readStream.schema(wave.schema).parquet(in_dir)
    q = (
        jobs.incremental_dedup_stream(stream, sigs)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["dup_of"], r["est_jaccard"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_incremental_ann_stream_matches_batch(spark, tmp_path):
    """Stream-static incremental ANN against the PERSISTED SRP bucket table:
    arriving vectors must match exactly the (query, cand, cosine) pairs the
    batch operator surfaces above the threshold."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import similarity, state

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    committed = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(
        (F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 80)
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("vec_id"))
    )
    batch.write.parquet(in_dir)

    state.write_srp_buckets(committed, str(tmp_path / "state"))
    buckets = state.read_srp_buckets(spark, str(tmp_path / "state"))
    stream = spark.readStream.schema(batch.schema).parquet(in_dir)
    q = (
        jobs.incremental_ann_stream(stream, buckets, committed, threshold=0.3)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["query_id"], r["cand_id"], r["cosine"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch reference: same candidates without the top-k cut, thresholded
    exp = {
        (r["query_id"], r["cand_id"], r["cosine"])
        for r in similarity.incremental_ann_topk(
            batch.drop("ingest_ts"), buckets, committed, k=10**9
        ).where(F.col("cosine") >= 0.3).collect()
    }
    assert got == exp and got
