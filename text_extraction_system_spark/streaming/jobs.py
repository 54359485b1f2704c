"""Structured Streaming twins of the batch pipeline and event operators.

The reference is an async task queue, not a stream processor (SURVEY.md
section 2.10) — batch is the canonical mode. These jobs exist for the
continuous-ingest deployment shape: the same extraction transforms bound to
``readStream``/``writeStream``, with watermarked windowed aggregates for the
event operators. Tested with file sources + ``Trigger.AvailableNow`` so runs
are hermetic and deterministic.

Scale notes: the extraction stream is stateless (one row in, one row out), so
it scales exactly like the batch job. The windowed aggregates keep state
bounded by the watermark; checkpointing gives exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline, schemas


def read_spans_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of spans-table parquet drops."""
    return spark.readStream.schema(schemas.SPANS_INPUT).parquet(input_dir)


def extraction_stream(spans_stream: DataFrame) -> DataFrame:
    """The batch extraction kernel bound to a stream (no structure): one
    stateless ``mapInArrow`` map, safe for streams."""
    return pipeline.extract_from_spans(spans_stream, with_structure=False)


def run_extraction_stream(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """Drain whatever is available, exactly-once, then stop."""
    out = extraction_stream(read_spans_stream(spark, input_dir))
    (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming twin
    of ``operators.events.tumbling_counts``. Late rows beyond the watermark
    are dropped; state is bounded."""
    ts = F.col("ts").cast("timestamp")
    return (
        events_stream.withColumn("ts_tz", ts)
        .withWatermark("ts_tz", watermark)
        .groupBy(F.window("ts_tz", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint")
            ).alias("sum_value_micros"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value_micros",
        )
    )


SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"
SESSION_OUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, n_events long"
)


def sessionize_stream(
    events_stream: DataFrame, gap_sec: int = 1800, idle_timeout: bool = False
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` (per-user GroupState). A session closes when
    the gap since its last event exceeds ``gap_sec``; with
    ``idle_timeout=True`` a processing-time timeout additionally flushes
    sessions for users that stop sending (continuous deployments ONLY —
    a pending timeout keeps scheduling micro-batches, so an
    ``availableNow`` drain would never terminate).

    State is one (start, last, n) triple per user — bounded, no event buffer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_sec * 1_000_000

    def fn(key: tuple, pdfs, state: GroupState):
        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                s, last, n = state.get
                rows.append((user_id, s, last, n))
                state.remove()
        else:
            us = []
            for pdf in pdfs:
                us.extend(int(v) for v in (pdf["ts"].astype("int64") // 1000))
            us.sort()
            if state.exists:
                cur = list(state.get)
            else:
                cur = None
            for t in us:
                if cur is None:
                    cur = [t, t, 0]
                if t - cur[1] > gap_us:
                    rows.append((user_id, cur[0], cur[1], cur[2]))
                    cur = [t, t, 1]
                else:
                    cur[1] = max(cur[1], t)
                    cur[2] += 1
            if cur is not None:
                state.update(tuple(cur))
                if idle_timeout:
                    state.setTimeoutDuration(gap_sec * 1000)
        yield pd.DataFrame(
            rows, columns=["user_id", "session_start_us", "session_end_us", "n_events"]
        )

    return (
        events_stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def run_windowed_counts_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
) -> None:
    stream = spark.readStream.schema(schema).parquet(input_dir)
    out = windowed_event_counts(stream)
    (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def dedup_stream(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup — the continuous-ingest twin of the batch
    hash-groupBy dedup: first occurrence of each content hash within the
    watermark horizon passes, later duplicates are dropped.

    ``dropDuplicatesWithinWatermark`` keys state on the md5 content hash and
    expires it past the watermark, so state is bounded by (ingest rate x
    horizon), not corpus size — the only formulation that survives an
    unbounded stream. Exact-once global dedup across all history is the
    batch job's task (or a MERGE against the committed table)."""
    hashed = docs_stream.withColumn("content_hash", F.md5(F.col(text_col))).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def curation_stream(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the curation funnel's KEEP path: the stateless
    gates (language agreement, quality, token budget) run per row exactly as
    in batch (shared curation.keep_predicate), then watermark-bounded exact
    dedup keeps the first occurrence of each surviving content hash. The
    survivor stream is what feeds the training table; the per-source funnel
    REPORT stays a batch job over the committed table."""
    from ..operators import curation

    s = curation.doc_signals(docs_stream, extra_cols=(ts_col,)).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    kept = s.where(curation.keep_predicate())
    return kept.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    committed_sigs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    est_threshold: float = 0.5,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuous-ingest twin of ``dedup.incremental_near_dup``: each
    arriving doc is MinHash-signed by the batch signature kernel (a
    stateless Arrow map — stream-safe, carrying the event time through)
    and STREAM-STATIC joined against the committed corpus's persisted
    signature table; matches verified by the sketch estimate. Pass
    ``state.read_signature_table(...)`` as ``committed_sigs`` for the
    production shape (durable partitioned table on disk — pytest runs the
    stream against exactly that).

    No aggregation is needed on the stream: the estimate is identical for
    every band a pair collides in, so multi-band duplicates are dropped by
    watermark-bounded key dedup on (doc_id, dup_of) — state stays bounded
    by (ingest rate x horizon). The static side is MAX_BUCKET-guarded
    (``dedup.signature_rows``), so a micro-batch can never join into a degenerate
    bucket. Emits (doc_id, dup_of, est_jaccard, ingest_ts)."""
    from ..operators import dedup

    sigs = dedup._signature_band_rows(
        docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        doc_id_col, text_col, carry=(ts_col,),
    ).withColumnRenamed("sig", "sig_new")
    old = committed_sigs.select(
        F.col("doc_id").alias("dup_of"),
        F.col("sig").alias("sig_old"),
        "band",
        "band_sig",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_new"), F.col("sig_old"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size(F.col("sig_new"))
    ).cast("double")
    matched = (
        sigs.join(old, ["band", "band_sig"])
        .select("doc_id", "dup_of", est.alias("est_jaccard"), ts_col)
        .where(F.col("est_jaccard") >= est_threshold)
    )
    return matched.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["doc_id", "dup_of"]
    )


def incremental_ann_stream(
    vecs_stream: DataFrame,
    committed_buckets: DataFrame,
    committed_vecs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    threshold: float = 0.3,
    multiprobe: int | None = None,
    probe_budget: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Continuous-ingest twin of ``similarity.incremental_ann_topk``: each
    arriving vector is SRP-bucketed by the batch bucket kernel (a stateless
    Arrow map — stream-safe, carrying the event time through) with
    multi-probe key expansion, STREAM-STATIC joined against the
    committed corpus's persisted bucket table (pass
    ``state.read_srp_buckets(...)``; when the table carries the
    ``bucket_prefix`` partition column the probe keys include it, keeping
    the partition-pruned scan shape), then exact-cosine verified against
    the committed vectors and thresholded — ANN *matching* on arrival
    rather than ranked top-k, since per-query ranking is an aggregation a
    continuous emitter should not hold open.

    A pair colliding in several bands/probes scores identically each time,
    so duplicates are dropped by watermark-bounded key dedup on
    (query_id, cand_id) — state stays bounded by (ingest rate x horizon).
    The static side is the MAX_BUCKET-guarded committed table, so a
    micro-batch can never join into a degenerate bucket. Emits
    (query_id, cand_id, cosine, ingest_ts)."""
    from ..operators import similarity, state

    n_bands = similarity.N_BANDS
    ppb = similarity.PLANES_PER_BAND
    radius = similarity.MULTIPROBE_RADIUS if multiprobe is None else multiprobe

    base = similarity._srp_band_rows(
        vecs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        n_bands, ppb, dim, id_col, vec_col, keep_vec=True, carry=(ts_col,),
    )
    masks = similarity._probe_masks(ppb, radius, probe_budget)
    probes = base.select(
        F.col("vid").cast("bigint").alias("query_id"), ts_col,
        F.col("vec").alias("qv"), "band",
        F.explode(
            F.array(
                *[similarity._flip_bits_col(F.col("bucket"), m, ppb) for m in masks]
            )
        ).alias("bucket"),
    )
    keys = ["band", "bucket"]
    if "bucket_prefix" in committed_buckets.columns:
        probes = probes.withColumn(
            "bucket_prefix", state.bucket_prefix_col(F.col("bucket"))
        )
        keys = ["band", "bucket_prefix", "bucket"]
    old = committed_buckets.select(F.col("vid").alias("cand_id"), *keys)
    cand = probes.join(old, keys).where(F.col("cand_id") != F.col("query_id"))
    vecs = committed_vecs.select(
        F.col(id_col).cast("bigint").alias("cand_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        cand.join(vecs, "cand_id")
        .select(
            "query_id", "cand_id",
            similarity.cosine_col(F.col("qv"), F.col("cv")).alias("cosine"),
            ts_col,
        )
        .where(F.col("cosine") >= threshold)
    )
    return scored.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["query_id", "cand_id"]
    )
