"""Structured Streaming jobs over the batch pipeline and event operators.

The reference is an async task queue, not a stream processor (SURVEY.md
section 2.10) — batch is the canonical mode. These jobs exist for the
continuous-ingest deployment shape: the same extraction transforms bound to
``readStream``/``writeStream``. Tested with file sources +
``Trigger.AvailableNow`` so runs are hermetic and deterministic.

The event streams are the batch event operators' expressions
(``events.sessions``; ``events.hour_keys`` then ``events.hour_counts``)
over a watermarked input: one ``EVENT_WATERMARK`` for both, no state
function of their own.

The incremental dedup and ANN streams are not copies of their batch
operators: they call the same kernels and candidate cores
(``dedup._band_matches``; ``similarity._probe_keys``,
``_committed_candidates`` and ``_cosine_scored``) and add only the
watermark-bounded key dedup a continuous emitter needs.

The document and vector streams read the batch contracts (``doc_id`` +
``text``; ``vec_id`` + ``embedding``) plus an ``ingest_ts`` arrival time,
and remember an emitted key for one ``INGEST_WATERMARK``.

Scale notes: the extraction stream is stateless (one row in, one row out), so
it scales exactly like the batch job. The session and hourly aggregates keep
state bounded by the watermark; checkpointing gives exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline, schemas
from ..operators import events, similarity

#: how late an event may arrive, for both event streams
EVENT_WATERMARK = "2 hours"
#: how long the document and vector streams remember an emitted key, on
#: their ``ingest_ts``
INGEST_WATERMARK = "1 hour"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


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


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """``events.tumbling_counts`` on a stream: the watermark is on the
    hour key, so each hour is emitted once the watermark passes it and its
    state is dropped; rows later than the watermark are dropped."""
    keyed = events.hour_keys(events_stream).withWatermark("hour", EVENT_WATERMARK)
    return events.hour_counts(keyed)


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """``events.sessions`` on a stream watermarked on ``ts``: a session is
    emitted, and its state dropped, once the watermark passes its last event
    plus the gap."""
    return events.sessions(events_stream.withWatermark("ts", EVENT_WATERMARK))


def run_windowed_counts_stream(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
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


def _ingest_time(stream: DataFrame) -> DataFrame:
    return stream.withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))


def _first_within(stream: DataFrame, keys: list[str]) -> DataFrame:
    """The first row of each ``keys`` value within INGEST_WATERMARK on
    ``ingest_ts`` (cast to timestamp): ``dropDuplicatesWithinWatermark``
    keeps state for (ingest rate x horizon), not for the corpus."""
    return (
        _ingest_time(stream)
        .withWatermark("ingest_ts", INGEST_WATERMARK)
        .dropDuplicatesWithinWatermark(keys)
    )


def dedup_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup — the continuous-ingest form of the batch
    hash-groupBy dedup: first occurrence of each md5 content hash within
    the watermark horizon passes, later duplicates are dropped
    (``_first_within``) — the only formulation that survives an unbounded
    stream. Exact-once global dedup across all history is the batch job's
    task (or a MERGE against the committed table)."""
    hashed = docs_stream.withColumn("content_hash", F.md5(F.col("text")))
    return _first_within(hashed, ["content_hash"])


def curation_stream(docs_stream: DataFrame) -> DataFrame:
    """The curation funnel's KEEP path as a stream: the stateless gates
    (language agreement, quality, token budget) run per row exactly as in
    batch (shared curation.keep_predicate), then ``dedup_stream``'s
    content-hash step keeps the first occurrence of each surviving content
    hash. The survivor stream is what feeds the training table; the
    per-source funnel REPORT stays a batch job over the committed table."""
    from ..operators import curation

    s = curation.doc_signals(docs_stream, extra_cols=("ingest_ts",))
    return _first_within(s.where(curation.keep_predicate()), ["content_hash"])


def incremental_dedup_stream(
    docs_stream: DataFrame, committed_sigs: DataFrame
) -> DataFrame:
    """``dedup.incremental_near_dup`` on a stream: each arriving doc is
    MinHash-signed by the batch signature kernel (a stateless Arrow map,
    carrying the event time through) and STREAM-STATIC matched against the
    committed corpus's signatures by the batch candidate core
    (``dedup._band_matches``: same join, same sketch estimate and
    ``dedup.EST_THRESHOLD``). Pass
    ``state.read_signature_table(...)`` as ``committed_sigs`` for the
    production shape (durable partitioned table on disk — pytest runs the
    stream against exactly that).

    A pair has the same estimate on every band it collides in, so
    multi-band matches are dropped by watermark-bounded key dedup on
    (doc_id, dup_of). Emits (doc_id, dup_of, est_jaccard, ingest_ts)."""
    from ..operators import dedup

    rows = dedup._signature_band_rows(_ingest_time(docs_stream), carry=("ingest_ts",))
    matched = dedup._band_matches(rows, committed_sigs, carry=("ingest_ts",))
    return _first_within(matched, ["doc_id", "dup_of"])


def incremental_ann_stream(
    vecs_stream: DataFrame,
    committed_buckets: DataFrame,
    committed_vecs: DataFrame,
    threshold: float = 0.3,
    multiprobe: int = similarity.MULTIPROBE_RADIUS,
    probe_budget: int | None = None,
) -> DataFrame:
    """``similarity.incremental_ann_topk`` on a stream: each arriving
    (``vec_id``, ``embedding``) row — the similarity contract, width from
    the data — is SRP-bucketed by the batch bucket kernel (a stateless
    Arrow map, carrying the event time through), expanded to its
    multi-probe keys (``similarity._probe_keys``) and STREAM-STATIC joined
    against the committed corpus's persisted bucket table by the batch
    candidate join (``similarity._committed_candidates``; pass
    ``state.read_srp_buckets(...)``),
    then scored by the batch cosine step (``similarity._cosine_scored``)
    and thresholded — ANN *matching* on arrival rather than ranked top-k,
    since per-query ranking is an aggregation a continuous emitter should
    not hold open.

    A pair colliding in several bands/probes scores identically each time,
    so the matches that pass the threshold are deduped on (query_id,
    cand_id) within the watermark: the dedup state holds matches, not
    candidates. Emits (query_id, cand_id, cosine, ingest_ts)."""
    ts = ("ingest_ts",)
    rows = similarity._srp_band_rows(_ingest_time(vecs_stream), carry=("embedding", *ts))
    qs = similarity._probe_keys(rows, multiprobe, probe_budget, carry=ts)
    cands = similarity._committed_candidates(qs, committed_buckets, carry=ts)
    scored = similarity._cosine_scored(cands, committed_vecs, carry=ts)
    return _first_within(
        scored.where(F.col("cosine") >= threshold), ["query_id", "cand_id"]
    )
