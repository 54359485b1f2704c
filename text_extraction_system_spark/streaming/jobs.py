"""Structured Streaming jobs over the batch pipeline and event operators.

The reference is an async task queue, not a stream processor (SURVEY.md
section 2.10) — batch is the canonical mode. These jobs exist for the
continuous-ingest deployment shape: the same extraction transforms bound to
``readStream``/``writeStream``, with watermarked windowed aggregates for the
event operators. Tested with file sources + ``Trigger.AvailableNow`` so runs
are hermetic and deterministic.

The incremental dedup and ANN streams are not copies of their batch
operators: they call the same kernels and candidate cores
(``dedup._band_matches``; ``similarity._probe_keys``,
``_committed_candidates`` and ``_cosine_scored``) and add only the
watermark-bounded key dedup a continuous emitter needs.

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


def sessionize_stream(events_stream: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` (per-user GroupState). A session closes when
    the gap since its last event exceeds ``gap_sec``.

    State is one (start, last, n) triple per user — bounded, no event buffer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_sec * 1_000_000

    def fn(key: tuple, pdfs, state: GroupState):
        (user_id,) = key
        rows = []
        us = []
        for pdf in pdfs:
            us.extend(int(v) for v in (pdf["ts"].astype("int64") // 1000))
        us.sort()
        cur = list(state.get) if state.exists else None
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
            timeoutConf=GroupStateTimeout.NoTimeout,
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


def _first_within(stream: DataFrame, ts_col: str, watermark: str,
                  keys: list[str]) -> DataFrame:
    """The first row of each ``keys`` value within the watermark horizon on
    ``ts_col`` (cast to timestamp): ``dropDuplicatesWithinWatermark`` keeps
    state for (ingest rate x horizon), not for the corpus."""
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def dedup_stream(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup — the continuous-ingest form of the batch
    hash-groupBy dedup: first occurrence of each md5 content hash within
    the watermark horizon passes, later duplicates are dropped
    (``_first_within``) — the only formulation that survives an unbounded
    stream. Exact-once global dedup across all history is the batch job's
    task (or a MERGE against the committed table)."""
    hashed = docs_stream.withColumn("content_hash", F.md5(F.col(text_col)))
    return _first_within(hashed, ts_col, watermark, ["content_hash"])


def curation_stream(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """The curation funnel's KEEP path as a stream: the stateless gates
    (language agreement, quality, token budget) run per row exactly as in
    batch (shared curation.keep_predicate), then ``dedup_stream``'s
    content-hash step keeps the first occurrence of each surviving content
    hash. The survivor stream is what feeds the training table; the
    per-source funnel REPORT stays a batch job over the committed table."""
    from ..operators import curation

    s = curation.doc_signals(docs_stream, extra_cols=(ts_col,))
    return _first_within(
        s.where(curation.keep_predicate()), ts_col, watermark, ["content_hash"]
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
    """``dedup.incremental_near_dup`` on a stream: each arriving doc is
    MinHash-signed by the batch signature kernel (a stateless Arrow map,
    carrying the event time through) and STREAM-STATIC matched against the
    committed corpus's signatures by the batch candidate core
    (``dedup._band_matches``: same join, same sketch estimate). Pass
    ``state.read_signature_table(...)`` as ``committed_sigs`` for the
    production shape (durable partitioned table on disk — pytest runs the
    stream against exactly that).

    A pair has the same estimate on every band it collides in, so
    multi-band matches are dropped by watermark-bounded key dedup on
    (doc_id, dup_of). Emits (doc_id, dup_of, est_jaccard, ingest_ts)."""
    from ..operators import dedup

    rows = dedup._signature_band_rows(
        docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        doc_id_col, text_col, carry=(ts_col,),
    )
    matched = dedup._band_matches(rows, committed_sigs, est_threshold, carry=(ts_col,))
    return _first_within(matched, ts_col, watermark, ["doc_id", "dup_of"])


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
    """``similarity.incremental_ann_topk`` on a stream: each arriving vector
    is SRP-bucketed by the batch bucket kernel (a stateless Arrow map,
    carrying the event time through), expanded to its multi-probe keys
    (``similarity._probe_keys``) and STREAM-STATIC joined against the
    committed corpus's persisted bucket table by the batch candidate join
    (``similarity._committed_candidates``; pass ``state.read_srp_buckets(...)``),
    then scored by the batch cosine step (``similarity._cosine_scored``)
    and thresholded — ANN *matching* on arrival rather than ranked top-k,
    since per-query ranking is an aggregation a continuous emitter should
    not hold open.

    A pair colliding in several bands/probes scores identically each time,
    so the matches that pass the threshold are deduped on (query_id,
    cand_id) within the watermark: the dedup state holds matches, not
    candidates. Emits (query_id, cand_id, cosine, ingest_ts)."""
    from ..operators import similarity

    ppb = similarity.PLANES_PER_BAND
    radius = similarity.MULTIPROBE_RADIUS if multiprobe is None else multiprobe
    rows = similarity._srp_band_rows(
        vecs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        similarity.N_BANDS, ppb, dim, id_col, vec_col, carry=(vec_col, ts_col),
    )
    qs = similarity._probe_keys(rows, ppb, radius, probe_budget, carry=(ts_col,))
    cands = similarity._committed_candidates(qs, committed_buckets, carry=(ts_col,))
    scored = similarity._cosine_scored(
        cands, committed_vecs, id_col, vec_col, carry=(ts_col,)
    )
    return _first_within(
        scored.where(F.col("cosine") >= threshold), ts_col, watermark,
        ["query_id", "cand_id"],
    )
