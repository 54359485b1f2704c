"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship extraction pipeline on sf0.001.
``queries``    — one entry per implemented operator (SURVEY.md section 2 ids
                 in each docstring) plus the training-data-pipeline operators
                 (dedup / quality / lang-id / fingerprint / simhash).
``oracle_sql`` — DuckDB twins. The ENGINE SPEC (core/spec.py) makes every
                 transformation deterministic and expressible in both engines:
                 md5-based hashing, closed-vocabulary language scoring,
                 arithmetic-only token hashes.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from itertools import groupby

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_extraction_system_spark import pipeline
from text_extraction_system_spark.core import charboxes, oracle, spec
from text_extraction_system_spark.operators import (
    boilerplate,
    coords,
    corpus_synth,
    curation,
    dedup,
    events,
    multimodal,
    tables_op,
    rotation,
    similarity,
    splits,
    textstats,
)
from text_extraction_system_spark.operators import deskew_op, readorder_op, toc
from text_extraction_system_spark.operators import spans as spans_op
from text_extraction_system_spark.operators import structure as structure_op

_HEX = "0123456789abcdef"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver corpora are single row-group parquet files: spread the scan
    # or every narrow stage above it runs in ONE task (see
    # partitioning.spread_unsplittable for the full story + measurements)
    from text_extraction_system_spark.operators.partitioning import spread_unsplittable

    return spread_unsplittable(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread (measured, both SFs): every ANN path's per-row work is a
    # vectorized numpy kernel over small fixed-dim vectors — microseconds
    # per row — so the spread exchange costs more than the single-task scan
    # it parallelizes at every measured size (e.g. ann_pq_topk 1.19→0.68 s
    # at sf0.1, 1.16→0.71 s at 50k-vector scale; ann_topk 0.72→0.35 /
    # 0.73→0.40; family-wide ~2.5 s at sf0.1, ~1.5 s at 10x). A production
    # 10^9-vector table is multi-row-group and splits in the scan anyway.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: every events query aggregates by its own key (user_id /
    # window) right away, so Spark inserts that exchange anyway and a spread
    # would just add a second full shuffle — measured sessionize 0.9→1.3 s,
    # tumbling 0.4→1.1 s WITH a spread here; the cheap pre-shuffle
    # projection doesn't pay for it
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _utc(spark: SparkSession) -> None:
    """Timestamp queries compare epoch micros against DuckDB's naive-as-UTC
    epoch_us; pin the session tz in case the driver's session differs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction (derive -> OCR route -> re-stitch ->
    assemble -> structure) on sf0.001; one summary row per document."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return pipeline.summary(pipeline.extract_from_documents(docs))


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def _q_spans_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S3: documents -> interleaved spans, one row per span."""
    return spans_op.span_rows(
        _docs(spark, sf_dir),
        lambda doc_id, spans: ((doc_id, s.offset, s.kind, s.text, s.media_ref) for s in spans),
        "doc_id string, span_offset int, kind string, text string, media_ref string",
    )


def _route_rows(doc_id: str, spans: list[oracle.Span], *key) -> tuple:
    """``(doc_id, *key, text_cover, media_cover, needs_ocr)`` of ``spans``."""
    text_cover, media_cover = oracle.covers(spans, oracle.media_spans(spans))
    return doc_id, *key, text_cover, media_cover, oracle.requires_ocr(text_cover, media_cover)


def _q_ocr_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/A1: per-doc text/media covers + OCR-decision classifier."""
    return spans_op.span_rows(
        _docs(spark, sf_dir),
        lambda doc_id, spans: [_route_rows(doc_id, spans)],
        "doc_id string, text_cover bigint, media_cover bigint, needs_ocr boolean",
    )


def _q_extract_restitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4/J3: OCR stub applied + span sequence re-stitched in original order
    (the north-rule invariant), exploded to rows."""
    res = pipeline.extract_from_documents(
        _docs(spark, sf_dir), with_structure=False
    )
    return res.select("doc_id", F.explode("out_spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").alias("span_offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def _q_plain_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6: assembled plain text with paragraph/page separators."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return res.select(
        "doc_id",
        "plain_text",
        F.length("plain_text").cast("bigint").alias("n_chars"),
        F.size("pages").cast("bigint").alias("n_pages"),
    )


def _q_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: per-page char-offset windows (dto.py:87-98 semantics)."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return res.select("doc_id", F.explode("pages").alias("p")).select(
        "doc_id",
        F.col("p.number").cast("bigint").alias("page_number"),
        F.col("p.start").cast("bigint").alias("page_start"),
        F.col("p.end").cast("bigint").alias("page_end"),
    )


def _structure_rows(res: DataFrame, field: str, prefix: str) -> DataFrame:
    """One row per element of the kernel's ``structure.<field>`` array:
    (doc_id, <prefix>_start, <prefix>_end, language)."""
    return res.select("doc_id", F.explode(f"structure.{field}").alias("s")).select(
        "doc_id",
        F.col("s.start").cast("bigint").alias(f"{prefix}_start"),
        F.col("s.end").cast("bigint").alias(f"{prefix}_end"),
        F.col("s.language").alias("language"),
    )


def _q_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/A8: paragraph segmentation offsets + per-paragraph language, the
    extraction kernel's structure column exploded (shares rule code with
    the oracle)."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir))
    return _structure_rows(res, "paragraphs", "par")


def _q_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-window scoring (exact-substring-dedup
    signal at window granularity): per doc, the fraction of its 8-token
    windows that occur in at least one other document — shared boilerplate
    runs inside otherwise-distinct documents, the class doc-level MinHash
    misses."""
    return dedup.dup_window_coverage(_docs(spark, sf_dir))


def _q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF keyword extraction: one token explode feeds both
    term frequencies and document frequencies; fixed-point integer IDF
    ((1e6 * n_docs) div df — monotone in log-IDF) keeps the scoring
    oracle-hashable; per-doc top-3 window with (score desc, token) order."""
    return textstats.tfidf_keywords(_docs(spark, sf_dir), k=3)


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
    )


def _q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count (letter/digit runs + punct marks)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: deterministic stopword language ID on raw document text."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.detect_language_col(F.col("text")).alias("language"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    cols = textstats.quality_cols(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        *[c.alias(n) for n, c in cols.items()],
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.fingerprint_col(F.col("text")).alias("fingerprint"),
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.simhash_rows(_docs(spark, sf_dir))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: canonical doc + duplicate count.

    Unspread read: the only pre-shuffle work is one md5 per doc, and the
    groupBy's own content_hash exchange redistributes anyway — a spread
    here just added a second full shuffle (measured 0.37->0.62 s at
    sf1.0, reverted)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.md5("text").alias("content_hash")
    )
    return docs.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def _q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 analog: request-status summary -> event_type counts."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def _q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 analog: rank/sort + page-slice of requests -> top orders."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row-per-sentence segmentation over assembled plain text, the
    extraction kernel's structure column exploded."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir))
    return _structure_rows(res, "sentences", "sent")


def _q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs verified with exact shingle Jaccard."""
    return dedup.near_dup_pairs(_docs(spark, sf_dir))


#: minimum verified Jaccard for an edge to join the duplicate-cluster graph
DUP_CLUSTER_MIN_JACCARD = 0.5


def _q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus distribution report with EXACT rank-based
    quantiles (percentile-disc by rank — engine-portable, unlike
    interpolated percentiles; see textstats.source_stats)."""
    return textstats.source_stats(_docs(spark, sf_dir))


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the verified
    near-dup pair graph (min-label propagation, one join round per
    iteration with convergence detection — dedup.connected_components);
    every clustered doc labeled with its component's minimum doc id. The
    step after pair generation in a real release pipeline: A~B and B~C
    collapse to one canonical even when A~C was never emitted."""
    pairs = dedup.near_dup_pairs(_docs(spark, sf_dir)).where(
        F.col("jaccard") >= DUP_CLUSTER_MIN_JACCARD
    )
    return dedup.connected_components(pairs, id_a="doc_a", id_b="doc_b")


#: deterministic eval-set selector for the decontamination query: every
#: 97th doc plays the held-out benchmark, the rest are the training corpus
DECONTAM_EVAL_MOD = 97


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing word 3-shingles with
    the (broadcast-small) eval split — the n-gram collision audit an LLM
    pipeline runs before a data release (operators/dedup.contamination_report)."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    return dedup.contamination_report(tr, ev)


#: fixed token budget for the packing query (a training-sequence length)
PACK_BUDGET = 2048

#: committed-corpus selector + estimate threshold for incremental dedup
INCR_COMMITTED_MOD = 3
INCR_THRESHOLD = 0.5


def _state_dir(sf_dir: str) -> str:
    """Durable-state directory for a corpus (write-once, like the production
    committed tables). Keyed by a content-derived id — the sorted data-file
    list with per-file size+mtime (lineage.snapshot_id's recipe) — so a
    changed corpus never reuses stale signatures. A single stat of the path
    is NOT enough: a Spark-written corpus is a DIRECTORY, and an in-place
    regeneration that preserves the directory entry keeps its inode
    mtime/size while every data file changes."""
    import hashlib

    doc = os.path.join(sf_dir, "documents.parquet")
    entries = []
    for root, _dirs, files in os.walk(doc):
        for fn in files:
            st = os.stat(os.path.join(root, fn))
            entries.append(f"{os.path.relpath(os.path.join(root, fn), doc)}"
                           f":{st.st_size}:{st.st_mtime_ns}")
    if not entries:  # single-file parquet
        st = os.stat(doc)
        entries = [f".:{st.st_size}:{st.st_mtime_ns}"]
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + "|" + "|".join(sorted(entries))).encode()
    ).hexdigest()[:10]
    name = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark-warehouse")
    try:
        os.makedirs(base, exist_ok=True)
    except OSError:  # read-only checkout: fall back to the temp dir
        import tempfile

        base = os.path.join(tempfile.gettempdir(), "spark_graft_state")
        os.makedirs(base, exist_ok=True)
    return os.path.join(base, f"state_{name}_{key}")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch dedup (the production shape at 10^12 docs): the NEW batch
    is signed and joined against the committed corpus's PERSISTED signature
    table (parquet partitioned by (band, sig_prefix), written once and read
    back with partition pruning — state.write_signature_table); duplicates
    verified by the MinHash sketch estimate — the committed corpus is never
    re-shingled or re-signed."""
    from text_extraction_system_spark.operators import state

    docs = _docs(spark, sf_dir)
    base = _state_dir(sf_dir)
    # committed = 2/3 of the corpus, batch = 1/3: the batch is genuinely the
    # small side that incremental_near_dup broadcasts (the committed table
    # is never shuffled)
    if not state.signature_table_exists(base):
        state.write_signature_table(
            docs.where(F.col("doc_id") % INCR_COMMITTED_MOD != 0), base
        )
    committed = state.read_signature_table(spark, base)
    new = docs.where(F.col("doc_id") % INCR_COMMITTED_MOD == 0)
    return dedup.incremental_near_dup(new, committed, est_threshold=INCR_THRESHOLD)


def _q_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full data-release composition in one plan: curation gates ->
    exact dedup -> deterministic split assignment -> training-sequence
    packing of the train split. One narrow signal pass, the dedup hash
    shuffle, then the split hash (no shuffle) and the two-level packing
    prefix sum — the manifest a 10^12-doc release job would write out."""
    from pyspark.sql.window import Window

    s = curation.doc_signals(_docs(spark, sf_dir))
    kept = s.where(curation.keep_predicate())
    # one-pass exact dedup: keep the min-doc_id row per content_hash with a
    # row_number window — the previous groupBy + self-join formulation
    # evaluated the whole curation signal pass twice (once per join branch)
    # and reshuffled both sides on the composite join key
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    surv = (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "source", "n_tokens")
    )
    sp = surv.withColumn("split", splits.split_col(F.col("doc_id")))
    train = sp.where(F.col("split") == "train").select("doc_id", "n_tokens")
    packed = splits.pack_bins(train, budget=PACK_BUDGET).select("doc_id", "bin")
    return sp.join(packed, "doc_id", "left").select(
        "doc_id", "source", "split", "n_tokens", "bin"
    )


#: token budget for the mixture-sampling query (about a third of the
#: sf0.01 corpus — a realistic mix of capped and fractional source rates)
MIXTURE_BUDGET = 10_000


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling plan: per-source target tokens from
    hash-derived weights and a budget, integer keep rates in [0, 2^32],
    and the deterministic doc sample they induce (splits.mixture_plan) —
    the release step that turns mixture weights into a stable sample."""
    return splits.mixture_plan(_docs(spark, sf_dir), None, MIXTURE_BUDGET)


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by seeded md5 threshold —
    stable under resharding and corpus growth (operators/splits.py).
    Unspread read: one md5 per doc_id and no downstream shuffle at all —
    a spread was pure overhead here (measured 0.10->0.15 s, reverted)."""
    return splits.assign_splits(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )


def _q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: docs -> fixed token-budget bins under a
    deterministic seeded order. The engine runs the two-level distributed
    prefix sum (n_shards independent sorts); the oracle is the single
    global-window formulation — identical assignment by construction."""
    from text_extraction_system_spark.operators import textstats

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
    )
    return splits.pack_bins(docs, budget=PACK_BUDGET)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals over the extracted text:
    duplicate-line fractions (count + char-weighted) and the char share of
    the most frequent word 2-gram."""
    from text_extraction_system_spark.operators import textstats

    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return textstats.repetition_rows_arrow(res)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (broadcast queries)."""
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(emb)


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-k (the 10^12-vector plan shape)."""
    emb = _emb(spark, sf_dir)
    return similarity.srp_lsh_topk(emb)


#: incremental-ANN batch selector: vec_id % MOD == 0 below MAX arrive as
#: the new batch (20 query vectors at every sf); the other 3/4 of the
#: corpus is the committed side whose buckets are persisted
INCR_ANN_MOD = 4
INCR_ANN_MAX = 80


def _q_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch ANN serving (the ANN analog of incremental_dedup): the
    committed corpus's SRP buckets are PERSISTED once (parquet partitioned
    by (band, bucket_prefix) — state.write_srp_buckets) and the new batch
    probes them multi-probe, with the broadcast batch's key set pruning
    committed partitions via DPP; exact cosine re-rank fetches committed
    vectors for the deduped candidate set only. The committed corpus is
    never re-hashed."""
    from text_extraction_system_spark.operators import state

    emb = _emb(spark, sf_dir)
    committed = emb.where(F.col("vec_id") % INCR_ANN_MOD != 0)
    base = _state_dir(sf_dir)
    if not state.srp_buckets_exist(base):
        state.write_srp_buckets(committed, base)
    buckets = state.read_srp_buckets(spark, base)
    batch = emb.where(
        (F.col("vec_id") % INCR_ANN_MOD == 0) & (F.col("vec_id") < INCR_ANN_MAX)
    )
    return similarity.incremental_ann_topk(batch, buckets, committed)


def _q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served from a k-means-trained quantizer (Forgy seed + 5
    distributed Lloyd steps), persisted per corpus (train once / serve
    many — across sessions; state.write_ivf_centroids). Training is
    bit-deterministic (left-fold Lloyd means in ascending-id order, see
    similarity._lloyd), so the DuckDB oracle replays the ENTIRE
    training — seed + 5 unrolled Lloyd iterations — plus serving, and the
    driver hash-checks the result like any other query. Neighbor QUALITY
    is additionally pinned by tests/test_recall.py (occupancy spread + the
    recall-vs-probes curve — the hash-centroid oracle variant degenerates
    to one cell on this corpus and prunes nothing)."""
    from text_extraction_system_spark.operators import state

    emb = _emb(spark, sf_dir)
    base = _state_dir(sf_dir)
    cents = state.read_ivf_centroids(base)
    if cents is None:
        cents = similarity.ivf_train(emb, iters=5)
        state.write_ivf_centroids(cents, base)
    return similarity.ivf_topk(emb, centroids=cents)


def _q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k by asymmetric distance: trained per-block codebooks
    (deterministic Lloyd — the oracle replays all PQ_BLOCKS trainings),
    vectors collapse to m 4-bit codes (the 64x-compressed serving tier),
    queries score candidates with m table lookups each. Codebooks persist
    per corpus (train once / serve many — state.write_pq_codebooks)."""
    from text_extraction_system_spark.operators import state

    emb = _emb(spark, sf_dir)
    base = _state_dir(sf_dir)
    books = state.read_pq_codebooks(base)
    if books is None:
        books = similarity.pq_train(emb)
        state.write_pq_codebooks(books, base)
    return similarity.pq_topk(emb, books)


#: ADC shortlist size for the reranked PQ query (exact-top5 coverage 0.76
#: at 50 of 500 on the weak-neighbor sf corpus — tests/test_recall.py)
PQ_RERANK = 50


def _q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ DEPLOYMENT shape: ADC shortlists PQ_RERANK candidates per
    query from codes alone, one float fetch computes exact cosine for the
    shortlist, final top-5 by cosine — quantization error stays out of the
    final ordering while the float scan touches R vectors, not the corpus."""
    from text_extraction_system_spark.operators import state

    emb = _emb(spark, sf_dir)
    base = _state_dir(sf_dir)
    books = state.read_pq_codebooks(base)
    if books is None:
        books = similarity.pq_train(emb)
        state.write_pq_codebooks(books, base)
    return similarity.pq_topk(emb, books, rerank=PQ_RERANK)


def _q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (the industry serving architecture): the trained
    IVF quantizer routes queries to n_probe cells, the trained PQ codes
    score the cell members by ADC — both artifacts persisted per corpus,
    both trainings replayed bit-exactly by the oracle."""
    from text_extraction_system_spark.operators import state

    emb = _emb(spark, sf_dir)
    base = _state_dir(sf_dir)
    cents = state.read_ivf_centroids(base)
    if cents is None:
        cents = similarity.ivf_train(emb, iters=5)
        state.write_ivf_centroids(cents, base)
    books = state.read_pq_codebooks(base)
    if books is None:
        books = similarity.pq_train(emb)
        state.write_pq_codebooks(books, base)
    return similarity.ivf_pq_topk(emb, cents, books)


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (T/streaming analog, batch formulation)."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    return events.sessionize(ev).withColumn(
        "session_seq", F.col("session_seq").cast("bigint")
    )


def _micros(c) -> F.Column:
    """Fixed-point micro-units: floor(x*1e6) is exact on the binary double in
    every engine; double->decimal casts are NOT portable (Spark rounds the
    shortest decimal repr, DuckDB the true binary value)."""
    return F.floor(c * F.lit(1000000.0)).cast("bigint")


def _q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window aggregate; fixed-point-exact value sums."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    return events.tumbling_counts(ev)


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (fixed-point micros, order-insensitive)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_micros(F.col("l_quantity"))).alias("sum_qty_micros"),
        F.sum(_micros(F.col("l_extendedprice"))).alias("sum_base_price_micros"),
        F.sum(
            _micros(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("sum_disc_price_micros"),
    )


def _q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join with explicit broadcast of the dimension tables."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_micros(F.col("o_totalprice"))).alias("revenue_micros"),
        )
    )


def _q_supplier_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> nation -> region star join, broadcast dims."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(_micros(F.col("s_acctbal"))).alias("sum_acctbal_micros"),
        )
    )


def _q_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/F4/C1: per-media-span rotation detect (stubbed raw angle) ->
    normalize -> snap-to-right-angle -> text-dominance correction guard."""
    return rotation.rotation_rows(_docs(spark, sf_dir))


def _q_media_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: rotation CORRECTION applied to media payloads — the detect ->
    should_correct -> rotate composition (reference rotates the page image
    by the detected angle before OCR, rotation_detection.py:50-53). Angles
    are rotation_rows' guarded decisions, selected in the media pass; the
    pixel kernel is PIL-fenced with the deterministic quarter-turn byte
    rotation as fallback. Output fingerprints the rotated payload
    (lowercase hex md5) so the oracle can replay the byte transform without
    blob-md5 support."""
    rot = multimodal.rotate_media_inline(_docs(spark, sf_dir))
    return rot.select(
        "doc_id",
        "media_ref",
        "applied_angle",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.md5(F.lower(F.hex(F.col("payload")))).alias("payload_md5"),
    )


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1-I5 analog: binary media payloads -> typed metadata via Arrow
    arrowmap.map_rows (deterministic fake decode; real binary plumbing)."""
    return multimodal.decode_media(_docs(spark, sf_dir))


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 analog: HTML boilerplate strip by text/link-density scoring over a
    deterministically derived HTML corpus."""
    return boilerplate.strip_boilerplate(corpus_synth.html_docs(_docs(spark, sf_dir)))


def _q_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J8: heading-heuristic section detection with next-heading end
    assignment, over a derived heading-bearing corpus."""
    return structure_op.section_rows(corpus_synth.heading_docs(_docs(spark, sf_dir)))


def _q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within SRP buckets (scale path:
    the bucket join replaces all-pairs)."""
    emb = _emb(spark, sf_dir)
    return similarity.srp_near_dup_pairs(emb)


def _q_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: title detection — first paragraph if <= 80 chars, else ''."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    # the first paragraph of the (NUL-scrubbed) plain text, not the first
    # span's raw text: a span may hold a NUL or a '\n' of its own
    cand = F.regexp_extract(F.col("plain_text"), "[^\\n\\f]+", 0)
    return res.select(
        "doc_id",
        F.when((F.length(cand) > 0) & (F.length(cand) <= 80), cand)
        .otherwise("")
        .alias("title"),
    )


def _q_ocr_route_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 at the reference's true granularity: per-PAGE OCR decision
    (page_requires_ocr is per page in pdf/pdf.py:31-33). Page p holds the
    spans with offset in [PAGE_SPANS*p, PAGE_SPANS*(p+1))."""

    def rows(doc_id, spans):
        for page, on_page in groupby(spans, lambda s: s.offset // spec.PAGE_SPANS):
            yield _route_rows(doc_id, list(on_page), page)

    return spans_op.span_rows(
        _docs(spark, sf_dir), rows,
        "doc_id string, page_number bigint, text_cover bigint, media_cover bigint, "
        "page_needs_ocr boolean",
    )


def _q_text_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 text->coords lookup join: paragraph char spans -> merged line
    rectangles over the char-box map (reference text_coord_map.py:41-150)."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return coords.text_to_coords(res)


def _q_coords_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 coords->text lookup join: longest char run under a selection area
    (reference coord_text_map.py:96-128 find_longest_location)."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return coords.coords_to_text(res)


def _q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column + reading-order reconstruction (north_star layout parse):
    md5-scrambled word boxes on 1-3-column synthetic pages; the x-projection
    cut must recover the columns and the exact original token sequence."""
    return readorder_op.reading_order_query(spark, sf_dir)


def _q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data composition end-to-end: language gate -> quality
    gate -> token budget -> exact dedup -> per-source funnel report, all
    signals in one narrow pass (operators/curation.py)."""
    return curation.funnel(_docs(spark, sf_dir))


#: feature-cosine threshold for media near-duplicates (byte-histogram
#: features concentrate near the uniform direction, so the bar sits high)
MEDIA_NEAR_DUP_THRESHOLD = 0.85


def _q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-operator composition: multimodal feature extraction feeds the
    banded SRP-LSH near-dup machinery (dim=16) — near-duplicate media
    payloads by feature cosine. Features are exact dyadics, plane dots are
    exact, so bucketing and scoring are bit-deterministic in both engines."""
    feats = multimodal.extract_features(_docs(spark, sf_dir))
    return similarity.srp_near_dup_pairs(
        feats,
        threshold=MEDIA_NEAR_DUP_THRESHOLD,
        dim=multimodal.FEATURE_DIM,
        id_col="media_ref",
        vec_col="feature",
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (library-free, no stub): normalized
    high-nibble byte histogram per media payload through Arrow binary
    batches — the fixed-function stand-in for a CNN embedding.

    Output is exploded to scalar (doc_id, media_ref, bin, feat_value) rows:
    the driver's canonicalizer sorts by column values and cannot order raw
    array cells (round-2 red row), and the long shape is also what a feature
    store would partition on at scale."""
    feats = multimodal.extract_features(_docs(spark, sf_dir))
    return feats.select(
        "doc_id",
        "media_ref",
        F.posexplode("feature").alias("bin", "feat_value"),
    )


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: per-row nearest-centroid assignment (the
    materialize-and-partition-by column at 10^12 rows), queries scan their
    n_probe nearest cells only."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb)


def _q_sections_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J7/J8: TOC-preferred sections — docs with a TOC anchor one entry
    per page through the char-coordinate map (geometry.anchor_toc_sections);
    the rest fall back to the heading heuristic over the extracted text
    (reference data_extract.py:165-181, 220-263 choose-TOC branch)."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return toc.toc_section_rows(res)


def _q_deskew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A4/W7: full deskew composition (glyph-angle histogram -> cluster ->
    weighted 10%-trimmed mean -> half-up snap, with reading-direction trend
    fallback) over deterministic synthetic per-doc glyph arrays; one
    mapInArrow pass runs core.deskew.detect_page_rotation per doc.
    Reference: PDFToTextWithCoordinates.java:372-451, rotation_detection.py:165-230."""
    return deskew_op.deskew_query(spark, sf_dir)


def _q_char_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-coordinate map (PDFCoordinates analog, dto.py:168-173): per-doc
    box counts + coordinate sums over the monospace layout. n_chars==n_boxes
    IS the reference's len(text)==len(charBBoxes) invariant, oracle-checked."""
    res = pipeline.extract_from_documents(_docs(spark, sf_dir), with_structure=False)
    return coords.char_coord_stats(res)


def _q_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8-I10: table-region detection (pivot-aligned cell clustering with
    multi-cell-column / min-cell / area-share thresholds) over media spans.
    The clustering is iterative numpy, but over the deterministic stub cells
    its accepted output (one grid per ref: bbox, dims, cell texts) is
    md5-arithmetic — the oracle recomputes it analytically, checking both the
    geometry and that noise boxes were rejected. pytest goldens additionally
    pin the clustering on adversarial layouts (tests/test_tables.py)."""
    t = tables_op.detect_tables(_docs(spark, sf_dir))
    return t.select(
        "doc_id", "media_ref", "table_idx", "left", "top", "width", "height",
        "n_rows", "n_cols", "n_cells",
        F.concat_ws(
            "|", F.transform(F.col("data"), lambda row: F.array_join(row, ","))
        ).alias("data_fp"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "spans_derive": _q_spans_derive,
        "ocr_route": _q_ocr_route,
        "extract_restitch": _q_extract_restitch,
        "plain_text": _q_plain_text,
        "pages": _q_pages,
        "paragraphs": _q_paragraphs,
        "token_count": _q_token_count,
        "tfidf_keywords": _q_tfidf_keywords,
        "dup_windows": _q_dup_windows,
        "source_stats": _q_source_stats,
        "mixture_plan": _q_mixture_plan,
        "token_count_bpe": _q_token_count_bpe,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "repetition": _q_repetition,
        "fingerprint": _q_fingerprint,
        "simhash": _q_simhash,
        "exact_dedup": _q_exact_dedup,
        "status_counts": _q_status_counts,
        "top_orders": _q_top_orders,
        "sentences": _q_sentences,
        "near_dup_pairs": _q_near_dup_pairs,
        "dup_clusters": _q_dup_clusters,
        "decontaminate": _q_decontaminate,
        "split_assign": _q_split_assign,
        "pack_bins": _q_pack_bins,
        "incremental_dedup": _q_incremental_dedup,
        "release_manifest": _q_release_manifest,
        "ann_topk": _q_ann_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "sessionize": _q_sessionize,
        "tumbling": _q_tumbling,
        "pricing_summary": _q_pricing_summary,
        "nation_revenue": _q_nation_revenue,
        "supplier_region": _q_supplier_region,
        "rotation": _q_rotation,
        "media_rotate": _q_media_rotate,
        "media_decode": _q_media_decode,
        "boilerplate": _q_boilerplate,
        "sections": _q_sections,
        "tables": _q_tables,
        "emb_near_dup": _q_emb_near_dup,
        "titles": _q_titles,
        "char_coords": _q_char_coords,
        "ocr_route_pages": _q_ocr_route_pages,
        "deskew": _q_deskew,
        "sections_toc": _q_sections_toc,
        "text_coords": _q_text_coords,
        "coords_text": _q_coords_text,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "incremental_ann": _q_incremental_ann,
        "ann_pq_topk": _q_ann_pq_topk,
        "ann_ivf_pq": _q_ann_ivf_pq,
        "ann_pq_rerank": _q_ann_pq_rerank,
        "media_features": _q_media_features,
        "media_near_dup": _q_media_near_dup,
        "curation_funnel": _q_curation_funnel,
        "reading_order": _q_reading_order,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — generated fragments mirror core/spec.py exactly
# ---------------------------------------------------------------------------

def _sql_tokens(text: str) -> str:
    return (
        f"list_filter(string_split(trim(regexp_replace(lower({text}), '\\s+', ' ', 'g')), ' '), "
        "w -> w != '')"
    )


def _sql_sw_hits(toks: str, lang: str) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in spec.LANG_STOPWORDS[lang]) + "]"
    return f"len(list_filter({toks}, t -> list_contains({lit}, t)))"


def _sql_lang(text: str) -> str:
    toks = _sql_tokens(text)
    h = {lang: _sql_sw_hits(toks, lang) for lang in spec.LANG_PRIORITY}
    return f"""CASE
      WHEN regexp_matches({text}, '{spec.CJK_REGEX}') THEN 'zh'
      WHEN {h['de']} > {h['en']} AND {h['de']} >= {h['es']} AND {h['de']} >= {h['fr']} THEN 'de'
      WHEN {h['es']} > {h['en']} AND {h['es']} > {h['de']} AND {h['es']} >= {h['fr']} THEN 'es'
      WHEN {h['fr']} > {h['en']} AND {h['fr']} > {h['de']} AND {h['fr']} > {h['es']} THEN 'fr'
      ELSE 'en' END"""


def _sql_tokhash(tok: str, hex_chars: int = spec.FP_HEX_CHARS) -> str:
    terms = [
        f"(strpos('{_HEX}', substr(md5({tok}), {j + 1}, 1)) - 1) * {16 ** (hex_chars - 1 - j)}"
        for j in range(hex_chars)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_ocr_text(ref: str) -> str:
    vocab = "[" + ", ".join(f"'{w}'" for w in spec.OCR_VOCAB) + "]"
    return (
        f"array_to_string(list_transform(range({spec.OCR_WORDS}), "
        f"j -> ({vocab})[strpos('{_HEX}', substr(md5({ref}), j + 1, 1))]), ' ')"
    )


#: derived span rows — shared CTE prefix, the SQL twin of
#: core/oracle.derive_spans (which the span pass, operators/spans.py, runs)
_SQL_SPANS_CTE = f"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
n AS (
  SELECT doc_id, ws, CAST(ceil(len(ws) / {spec.SPAN_WORDS}.0) AS INT) AS n_text FROM src
),
tspans AS (
  SELECT doc_id, i,
         array_to_string(ws[i * {spec.SPAN_WORDS} + 1 : i * {spec.SPAN_WORDS} + {spec.SPAN_WORDS}], ' ') AS chunk,
         substr(md5(doc_id || ':' || CAST(i AS VARCHAR)), 1, 1) IN {spec.MEDIA_HEX!r} AS has_media
  FROM n, unnest(range(n_text)) AS t(i)
),
spans0 AS (
  SELECT doc_id, i, 0 AS part, 'text' AS kind, chunk AS text, '' AS media_ref FROM tspans
  UNION ALL
  SELECT doc_id, i, 1 AS part, 'media' AS kind, '' AS text,
         'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref
  FROM tspans WHERE has_media
),
spans AS (
  SELECT doc_id, kind, text, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, part) - 1 AS INT) AS span_offset
  FROM spans0
)
"""

_SQL_COVERS_CTE = f"""
covers AS (
  -- LEFT JOIN from documents: a zero-span doc (empty/whitespace text) still
  -- gets a (0, 0, false) row, matching the engine's per-doc array aggregate
  SELECT d.doc_id,
         coalesce(sp.text_cover, 0) AS text_cover,
         coalesce(sp.media_cover, 0) AS media_cover
  FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
  LEFT JOIN (
    SELECT doc_id,
           sum(CASE WHEN kind = 'text' THEN length(text) ELSE 0 END) AS text_cover,
           sum(CASE WHEN kind = 'media'
               THEN strpos('{_HEX}', substr(md5(media_ref), 1, 1)) * {spec.MEDIA_AREA_UNIT}
               ELSE 0 END) AS media_cover
    FROM spans GROUP BY doc_id
  ) sp ON d.doc_id = sp.doc_id
),
needs AS (
  SELECT doc_id, text_cover, media_cover,
         text_cover < {spec.OCR_RATIO} * media_cover AS needs_ocr
  FROM covers
)
"""

_SQL_OUTSPANS_CTE = (
    _SQL_SPANS_CTE
    + ","
    + _SQL_COVERS_CTE
    + f""",
outspans AS (
  SELECT s.doc_id, s.span_offset, s.kind,
         CASE WHEN s.kind = 'media' AND nd.needs_ocr
              THEN {_sql_ocr_text('s.media_ref')}
              ELSE s.text END AS text,
         s.media_ref
  FROM spans s JOIN needs nd ON s.doc_id = nd.doc_id
)
"""
)

#: page assembly over output spans (mirrors core/oracle.assemble, which the
#: extraction kernel runs)
_SQL_PAGES_CTE = (
    _SQL_OUTSPANS_CTE
    + f""",
pagetext AS (
  SELECT doc_id, span_offset // {spec.PAGE_SPANS} AS page_number,
         replace(coalesce(array_to_string(list_filter(list(text ORDER BY span_offset), t -> t != ''), chr(10)), ''), chr(0), '')
           || chr(10) || chr(12) AS ptext
  FROM outspans GROUP BY doc_id, span_offset // {spec.PAGE_SPANS}
),
pagebounds AS (
  SELECT doc_id, page_number, ptext,
         CAST(coalesce(sum(length(ptext)) OVER (
           PARTITION BY doc_id ORDER BY page_number
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS page_start,
         CAST(sum(length(ptext)) OVER (
           PARTITION BY doc_id ORDER BY page_number
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS page_end
  FROM pagetext
)
"""
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["spans_derive"] = (
        _SQL_SPANS_CTE
        + "SELECT doc_id, span_offset, kind, text, media_ref FROM spans"
    )

    sql["ocr_route"] = (
        _SQL_SPANS_CTE
        + ","
        + _SQL_COVERS_CTE
        + "SELECT doc_id, CAST(text_cover AS BIGINT) AS text_cover, "
        "CAST(media_cover AS BIGINT) AS media_cover, needs_ocr FROM needs"
    )

    sql["extract_restitch"] = (
        _SQL_OUTSPANS_CTE
        + "SELECT doc_id, span_offset, kind, text, media_ref FROM outspans"
    )

    sql["plain_text"] = (
        _SQL_PAGES_CTE
        + """
SELECT d.doc_id,
       coalesce(a.plain_text, '') AS plain_text,
       coalesce(a.n_chars, 0) AS n_chars,
       coalesce(a.n_pages, 0) AS n_pages
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN (
  SELECT doc_id, string_agg(ptext, '' ORDER BY page_number) AS plain_text,
         CAST(sum(length(ptext)) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_pages
  FROM pagebounds GROUP BY doc_id
) a ON d.doc_id = a.doc_id
"""
    )

    sql["pages"] = (
        _SQL_PAGES_CTE
        + "SELECT doc_id, page_number, page_start, page_end FROM pagebounds"
    )

    sql["paragraphs"] = (
        _SQL_PAGES_CTE
        + f""",
contrib AS (
  -- raw-non-empty spans own the separator slots (the engine filters before
  -- the F5 NUL scrub), but lengths/offsets/language use the SCRUBBED text,
  -- matching the assembled plain text; a NUL-only span keeps its slot (k)
  -- yet contributes no paragraph (filtered below)
  SELECT o.doc_id, o.span_offset,
         replace(o.text, chr(0), '') AS text,
         o.span_offset // {spec.PAGE_SPANS} AS page_number,
         CAST(row_number() OVER (
           PARTITION BY o.doc_id, o.span_offset // {spec.PAGE_SPANS}
           ORDER BY o.span_offset) - 1 AS BIGINT) AS k,
         CAST(coalesce(sum(length(replace(o.text, chr(0), ''))) OVER (
           PARTITION BY o.doc_id, o.span_offset // {spec.PAGE_SPANS}
           ORDER BY o.span_offset
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_len
  FROM outspans o WHERE o.text != ''
)
SELECT c.doc_id,
       pb.page_start + c.prev_len + c.k AS par_start,
       pb.page_start + c.prev_len + c.k + length(c.text) AS par_end,
       {_sql_lang('c.text')} AS language
FROM contrib c
JOIN pagebounds pb ON c.doc_id = pb.doc_id AND c.page_number = pb.page_number
WHERE c.text != ''
"""
    )

    toks = _sql_tokens("text")
    sql["token_count"] = (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens "
        "FROM documents"
    )

    sql["token_count_bpe"] = (
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        f"CAST(len(regexp_extract_all(text, '{textstats.BPE_TOKEN_REGEX}')) AS BIGINT) "
        "AS n_bpe_tokens FROM documents"
    )

    # TF-IDF keyword twin: integer-exact scoring ((1e6 * n_docs) // df is
    # BIGINT floor division in both engines — Spark's `div`, DuckDB's `//`;
    # every operand positive), (score desc, token) tie order.
    sql["tfidf_keywords"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, x AS token
  FROM documents, unnest({toks}) AS t(x)
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY token
),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
weighted AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * ((1000000 * nd.n_docs) // dfreq.df) AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rank
  FROM weighted
)
SELECT doc_id, rank, token, tf, df, score FROM ranked WHERE rank <= 3
"""

    # per-source distribution twin: exact rank-based quantiles (value at
    # rank ceil(q*n) within the source's (n_tokens, doc_id) order); the
    # ceil operand is the same IEEE double product in both engines.
    sql["source_stats"] = f"""
WITH c AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  SELECT source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM c
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(max(CASE WHEN rk = ceil(n * 0.5) THEN n_tokens END) AS BIGINT) AS p50_tokens,
       CAST(max(CASE WHEN rk = ceil(n * 0.9) THEN n_tokens END) AS BIGINT) AS p90_tokens
FROM r GROUP BY source
"""

    # mixture-plan twin: integer weights from the source-name hash, target
    # tokens by BIGINT floor division, rates by HUGEINT floor division
    # (target * 2^32 overflows BIGINT from target = 2^31 on; capped
    # sources never divide), membership by the same 2^32 hash compare as
    # split assignment.
    sql["mixture_plan"] = f"""
WITH c AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
),
tot AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_avail,
         CAST(count(*) AS BIGINT) AS docs_avail
  FROM c GROUP BY source
),
wt AS (
  SELECT *, CAST(strpos('{_HEX}', substr(md5('mixw:' || source), 1, 1)) - 1 + 1 AS BIGINT) AS weight
  FROM tot
),
ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM wt),
planned AS (
  SELECT wt.source, wt.tokens_avail, wt.docs_avail, wt.weight,
         (CAST({MIXTURE_BUDGET} AS BIGINT) * wt.weight) // ws.wsum AS target_tokens
  FROM wt CROSS JOIN ws
),
rated AS (
  SELECT *, CASE WHEN target_tokens >= tokens_avail THEN CAST(4294967296 AS BIGINT)
                 ELSE CAST((CAST(target_tokens AS HUGEINT) * 4294967296) // tokens_avail AS BIGINT)
            END AS rate_32
  FROM planned
),
samp AS (
  SELECT c.source,
         CAST(count(*) AS BIGINT) AS docs_sampled,
         CAST(sum(c.n_tokens) AS BIGINT) AS tokens_sampled
  FROM c JOIN rated r ON r.source = c.source
  WHERE ({_sql_tokhash("'mix0:' || c.doc_id", 8)}) < r.rate_32
  GROUP BY c.source
)
SELECT r.source, r.weight, r.tokens_avail, r.docs_avail, r.target_tokens, r.rate_32,
       coalesce(s.docs_sampled, 0) AS docs_sampled,
       coalesce(s.tokens_sampled, 0) AS tokens_sampled
FROM rated r LEFT JOIN samp s ON s.source = r.source
"""

    # cross-doc duplicated-window twin: 8-token windows, per-(doc, window)
    # occurrence counts, per-window distinct-doc counts over the distinct
    # pairs, per-doc rollup; fraction is a single int/int division.
    _w = dedup.DUP_WINDOW_TOKENS
    sql["dup_windows"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {toks} AS ws FROM documents
),
wins AS (
  SELECT doc_id,
         {_sql_tokhash("array_to_string(ws[i + 1 : i + " + str(_w) + "], ' ')", 15)} AS win
  FROM toks, unnest(range(len(ws) - {_w - 1})) AS t(i) WHERE len(ws) >= {_w}
),
pdw AS (
  SELECT doc_id, win, CAST(count(*) AS BIGINT) AS occ
  FROM wins GROUP BY doc_id, win
),
wd AS (SELECT win, CAST(count(*) AS BIGINT) AS n_docs_with FROM pdw GROUP BY win),
roll AS (
  SELECT doc_id,
         CAST(sum(occ) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN n_docs_with > 1 THEN occ ELSE 0 END) AS BIGINT) AS dup_windows,
         CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS distinct_shared_windows
  FROM pdw JOIN wd USING (win) GROUP BY doc_id
)
SELECT doc_id, n_windows, dup_windows, distinct_shared_windows,
       CAST(dup_windows AS DOUBLE) / n_windows AS dup_window_frac
FROM roll
"""

    sql["lang_id"] = (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_sql_lang('text')} AS language "
        "FROM documents"
    )

    # Gopher-style repetition signals over the assembled plain text — the
    # oracle rebuilds the same lines/2-grams and the same deterministic
    # (cnt DESC, gram ASC) top-1; integer-exact counts, one IEEE division
    # per fraction (no round() — parity rule)
    sql["repetition"] = (
        _SQL_PAGES_CTE
        + f""",
plain AS (
  SELECT doc_id, string_agg(ptext, '' ORDER BY page_number) AS plain_text
  FROM pagebounds GROUP BY doc_id
),
ln AS (
  SELECT doc_id, x AS line
  FROM plain, unnest(list_filter(
    string_split(replace(plain_text, chr(12), ''), chr(10)), x -> x != '')) AS t(x)
),
per_line AS (SELECT doc_id, line, count(*) AS cnt FROM ln GROUP BY doc_id, line),
line_stats AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_lines,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(cnt * length(line)) AS BIGINT) AS line_chars,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END) AS BIGINT) AS dup_chars
  FROM per_line GROUP BY doc_id
),
tok AS (SELECT doc_id, {_sql_tokens('plain_text')} AS ws FROM plain),
"""
        + ",\n".join(
            f"""gr{n} AS (
  SELECT doc_id, array_to_string(ws[i + 1 : i + {n}], ' ') AS gram
  FROM tok, unnest(range(len(ws) - {n - 1})) AS t(i) WHERE len(ws) >= {n}
),
pg{n} AS (SELECT doc_id, gram, count(*) AS cnt FROM gr{n} GROUP BY doc_id, gram)"""
            for n in sorted(set(textstats.TOP_NS) | set(textstats.DUP_NS))
        )
        + ","
        + ",\n".join(
            f"""top{n} AS (
  SELECT doc_id, gram AS top_gram, cnt AS top_cnt FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
    FROM pg{n}) WHERE rn = 1
),
tot{n} AS (
  SELECT doc_id, CAST(sum(cnt * length(gram)) AS BIGINT) AS gram_chars
  FROM pg{n} GROUP BY doc_id
)"""
            for n in textstats.TOP_NS
        )
        + ","
        + ",\n".join(
            f"""dup{n} AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
           / CAST(sum(cnt * length(gram)) AS BIGINT) AS frac
  FROM pg{n} GROUP BY doc_id
)"""
            for n in textstats.DUP_NS
        )
        + f"""
SELECT l.doc_id, l.n_lines,
       CAST(l.n_lines - l.n_distinct AS DOUBLE) / l.n_lines AS dup_line_frac,
       CAST(l.dup_chars AS DOUBLE) / l.line_chars AS dup_line_char_frac,
       t.top_gram,
       CAST(t.top_cnt * length(t.top_gram) AS DOUBLE) / g.gram_chars AS top_gram_char_frac,
"""
        + ",\n".join(
            f"       CAST(t{n}.top_cnt * length(t{n}.top_gram) AS DOUBLE)"
            f" / g{n}.gram_chars AS top_{n}gram_char_frac"
            for n in textstats.TOP_NS[1:]
        )
        + ",\n"
        + ",\n".join(
            f"       d{n}.frac AS dup_{n}gram_char_frac" for n in textstats.DUP_NS
        )
        + """
FROM line_stats l
JOIN top2 t USING (doc_id)
JOIN tot2 g USING (doc_id)
"""
        + "\n".join(
            f"LEFT JOIN top{n} t{n} USING (doc_id)\nLEFT JOIN tot{n} g{n} USING (doc_id)"
            for n in textstats.TOP_NS[1:]
        )
        + "\n"
        + "\n".join(f"LEFT JOIN dup{n} d{n} USING (doc_id)" for n in textstats.DUP_NS)
        + "\n"
    )

    all_sw = sorted({w for ws in spec.LANG_STOPWORDS.values() for w in ws})
    sw_lit = "[" + ", ".join(f"'{w}'" for w in all_sw) + "]"
    punct_re = r"[.,;:!?'\"()\[\]]".replace("'", "''")
    sql["quality"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, {toks} AS toks FROM documents
),
q AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         length(text) AS n_chars,
         len(list_filter(toks, x -> list_contains({sw_lit}, x))) AS sw_hits,
         length(text) - length(regexp_replace(text, '{punct_re}', '', 'g')) AS n_punct,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len
  FROM t
)
SELECT doc_id, n_words,
       sum_len / greatest(n_words, 1) AS mean_word_len,
       sw_hits / greatest(n_words, 1) AS stopword_ratio,
       n_punct / greatest(n_chars, 1) AS punct_ratio,
       CASE WHEN n_words < {spec.QUALITY_MIN_WORDS} THEN 0.0 ELSE
         least(1.0, n_words / 100.0) * 0.5
         + least(1.0, (sw_hits / greatest(n_words, 1)) * 5) * 0.3
         + (1.0 - least(1.0, (n_punct / greatest(n_chars, 1)) * 10)) * 0.2
       END AS quality_score
FROM q
"""

    # reading order: the oracle is token-order equality — the engine gets the
    # word boxes SCRAMBLED, so only a correct column reconstruction can
    # reproduce array_to_string(toks). Detected column count equals the
    # rendered count: ceil(total_lines / ceil(total_lines / n_cols_hash)).
    sql["reading_order"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {toks} AS toks FROM documents
),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
    1 + (strpos('{_HEX}', substr(md5('cols:' || doc_id), 1, 1)) - 1) % 3 AS n_cols
  FROM t
)
SELECT doc_id,
  array_to_string(toks, ' ') AS reconstructed,
  CAST(ceil(ceil(n / {readorder_op.WORDS_PER_LINE}.0)
       / ceil(ceil(n / {readorder_op.WORDS_PER_LINE}.0) / n_cols)) AS INT)
    AS n_columns
FROM m
WHERE n > 0  -- zero-token docs emit no word boxes, hence no engine row
"""

    # curation funnel: same language/quality/token expressions as their
    # standalone twins, composed; the quality threshold compares bit-equal
    # doubles so the gate is deterministic across engines
    # shared curation CTE prefix (t -> m -> f -> kept -> canon): used by the
    # funnel report twin and the release_manifest twin
    _cur_cte = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, lang, text, {toks} AS toks
  FROM documents
),
m AS (
  SELECT doc_id, source, lang AS declared_lang,
    {_sql_lang('text')} AS language,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) < {spec.QUALITY_MIN_WORDS} THEN 0.0e0 ELSE
      least(1.0e0, len(toks) / 100.0e0) * 0.5e0
      + least(1.0e0, (len(list_filter(toks, x -> list_contains({sw_lit}, x)))
                      / greatest(len(toks), 1)) * 5) * 0.3e0
      + (1.0e0 - least(1.0e0,
          ((length(text) - length(regexp_replace(text, '{punct_re}', '', 'g')))
           / greatest(length(text), 1)) * 10)) * 0.2e0
    END AS quality_score,
    md5(text) AS content_hash
  FROM t
),
f AS (
  SELECT *,
    (declared_lang = '{curation.KEEP_LANG}' AND language = '{curation.KEEP_LANG}')
      AS lang_ok,
    (quality_score >= {curation.MIN_QUALITY}e0) AS q_ok,
    (n_tokens BETWEEN {curation.MIN_TOKENS} AND {curation.MAX_TOKENS}) AS tok_ok
  FROM m
),
kept AS (SELECT * FROM f WHERE lang_ok AND q_ok AND tok_ok),
canon AS (SELECT content_hash, min(doc_id) AS doc_id FROM kept GROUP BY content_hash)"""

    sql["curation_funnel"] = f"""{_cur_cte},
surv AS (
  SELECT k.source, k.n_tokens FROM kept k JOIN canon c
  ON k.content_hash = c.content_hash AND k.doc_id = c.doc_id
),
stages AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_input,
    CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
    CAST(sum(CASE WHEN lang_ok AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
    CAST(sum(CASE WHEN lang_ok AND q_ok AND tok_ok THEN 1 ELSE 0 END) AS BIGINT)
      AS n_tokens_ok
  FROM f GROUP BY source
),
sv AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_deduped,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
  FROM surv GROUP BY source
)
SELECT s.source, s.n_input, s.n_lang, s.n_quality, s.n_tokens_ok,
       coalesce(v.n_deduped, 0) AS n_deduped,
       coalesce(v.tokens_kept, 0) AS tokens_kept
FROM stages s LEFT JOIN sv v ON s.source IS NOT DISTINCT FROM v.source
"""

    sql["fingerprint"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({toks}, t -> CAST({_sql_tokhash('t')} % {spec.FP_MOD} AS BIGINT))),
         (a, b) -> (a * {spec.FP_BASE} + b) % {spec.FP_MOD}) AS BIGINT) AS fingerprint
FROM documents
"""

    bit_terms = []
    for b in range(32):
        bit_terms.append(
            f"CASE WHEN coalesce(list_sum(list_transform(hs, "
            f"h -> CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0 "
            f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        )
    sql["simhash"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_transform({toks}, t -> CAST({_sql_tokhash('t', 8)} AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id, ({' + '.join(bit_terms)}) AS simhash FROM t
"""

    sql["exact_dedup"] = """
SELECT md5(text) AS content_hash,
       min(CAST(doc_id AS VARCHAR)) AS canonical_doc,
       count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""

    # sentences: paragraph segments split at '[.!?] ' boundaries. RE2 has no
    # lookbehind, so the split keeps a marker char: replace '([.!?]) ' with
    # '\\1 <marker>' then split on the marker — segment k keeps its trailing
    # space, exactly like the python lookbehind split in core/textseg.py.
    sql["sentences"] = (
        _SQL_PAGES_CTE
        + f""",
contrib AS (
  -- same slot/scrub convention as the paragraphs oracle: raw-non-empty
  -- spans own the separator slots, offsets/lengths use the F5-scrubbed text
  SELECT o.doc_id, o.span_offset,
         replace(o.text, chr(0), '') AS text,
         o.span_offset // {spec.PAGE_SPANS} AS page_number,
         CAST(row_number() OVER (
           PARTITION BY o.doc_id, o.span_offset // {spec.PAGE_SPANS}
           ORDER BY o.span_offset) - 1 AS BIGINT) AS k,
         CAST(coalesce(sum(length(replace(o.text, chr(0), ''))) OVER (
           PARTITION BY o.doc_id, o.span_offset // {spec.PAGE_SPANS}
           ORDER BY o.span_offset
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_len
  FROM outspans o WHERE o.text != ''
),
paras AS (
  SELECT c.doc_id,
         pb.page_start + c.prev_len + c.k AS par_start,
         string_split(regexp_replace(c.text, '([.!?]) ', '\\1 ' || chr(1), 'g'), chr(1)) AS segs
  FROM contrib c
  JOIN pagebounds pb ON c.doc_id = pb.doc_id AND c.page_number = pb.page_number
),
sents AS (
  SELECT doc_id,
         unnest(list_transform(range(len(segs)), k -> struct_pack(
           sent_start := par_start + coalesce(length(array_to_string(segs[1:k], '')), 0),
           sent_text := segs[k+1]
         ))) AS s
  FROM paras
)
SELECT doc_id,
       CAST(s.sent_start AS BIGINT) AS sent_start,
       CAST(s.sent_start + length(s.sent_text) AS BIGINT) AS sent_end,
       {_sql_lang('s.sent_text')} AS language
FROM sents WHERE length(s.sent_text) > 0
"""
    )

    # near-dup pairs: shingle -> salted-md5 minhash -> banded LSH bucket join
    # -> exact Jaccard verify (mirrors operators/dedup.py incl. MAX_BUCKET)
    _shingle_concat = " || ' ' || ".join(
        f"ws[i+{j + 1}]" for j in range(spec.SHINGLE_K)
    )
    sql["near_dup_pairs"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(ws) - {spec.SHINGLE_K - 1}),
           i -> {_shingle_concat})) AS shingles
  FROM t WHERE len(ws) >= {spec.SHINGLE_K}
),
mh AS (
  SELECT doc_id, shingles,
         list_transform(range({spec.MINHASH_PERMS}),
           p -> list_min(list_transform(shingles,
             s -> (({_sql_tokhash('s')} % {spec.MINHASH_MOD})
                   * ((2*p + 1) * {spec.MINHASH_MULT} % {spec.MINHASH_MOD})
                   + p) % {spec.MINHASH_MOD}))) AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(sig[b*{spec.MINHASH_PERMS // spec.LSH_BANDS}+1 :
                                 b*{spec.MINHASH_PERMS // spec.LSH_BANDS}+{spec.MINHASH_PERMS // spec.LSH_BANDS}], ',')) AS band_sig
  FROM mh, unnest(range({spec.LSH_BANDS})) AS tt(b)
),
counted AS (
  SELECT *, count(*) OVER (PARTITION BY b, band_sig) AS bucket_n FROM bands
),
kept AS (SELECT * FROM counted WHERE bucket_n <= {dedup.MAX_BUCKET}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM kept a JOIN kept b2 ON a.b = b2.b AND a.band_sig = b2.band_sig
  WHERE a.doc_id < b2.doc_id
)
SELECT p.doc_a, p.doc_b,
       len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
FROM pairs p
JOIN sh sa ON p.doc_a = sa.doc_id
JOIN sh sb ON p.doc_b = sb.doc_id
"""

    # duplicate-cluster twin: the whole near_dup_pairs query becomes a CTE,
    # thresholded edges go bidirectional, and a recursive CTE computes the
    # transitive closure of labels; min reachable id per vertex IS the
    # connected component's canonical id (string min — both engines compare
    # VARCHAR doc ids lexicographically).
    sql["dup_clusters"] = f"""WITH RECURSIVE np AS (
{sql['near_dup_pairs']}
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM np WHERE jaccard >= {DUP_CLUSTER_MIN_JACCARD}
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM np WHERE jaccard >= {DUP_CLUSTER_MIN_JACCARD}
),
reach(id, label) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""

    # decontamination twin: same shingle construction + md5-prefix hash as
    # the dedup family; eval split = doc_id % DECONTAM_EVAL_MOD == 0
    sql["decontaminate"] = f"""
WITH t AS (
  SELECT doc_id AS raw_id, CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
sh AS (
  SELECT raw_id, doc_id,
         list_distinct(list_transform(range(len(ws) - {spec.SHINGLE_K - 1}),
           i -> {_shingle_concat})) AS shingles
  FROM t WHERE len(ws) >= {spec.SHINGLE_K}
),
ev AS (
  SELECT DISTINCT {_sql_tokhash('s')} AS h
  FROM (SELECT unnest(shingles) AS s FROM sh WHERE raw_id % {DECONTAM_EVAL_MOD} = 0)
),
tr AS (
  SELECT doc_id, n_shingles, {_sql_tokhash('s')} AS h
  FROM (SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s
        FROM sh WHERE raw_id % {DECONTAM_EVAL_MOD} != 0)
),
hits AS (
  SELECT tr.doc_id,
         CAST(max(tr.n_shingles) AS BIGINT) AS n_shingles,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM tr JOIN ev ON tr.h = ev.h
  GROUP BY tr.doc_id
)
SELECT doc_id, n_hits, n_shingles,
       CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination
FROM hits WHERE n_hits >= 1
"""

    # incremental-dedup twin: the near_dup minhash machinery, split into a
    # committed side (doc_id % INCR_COMMITTED_MOD != 0) and a batch side
    # (= 0). Only the committed side is MAX_BUCKET-guarded, as
    # state.write_signature_table guards it at write time; the batch side
    # is unguarded, as in incremental_near_dup, so a wave of copies in one
    # batch still matches; verify = sketch estimate
    _perms = spec.MINHASH_PERMS
    _rpb = spec.MINHASH_PERMS // spec.LSH_BANDS
    sql["incremental_dedup"] = f"""
WITH t AS (
  SELECT doc_id AS raw_id, CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
sh AS (
  SELECT raw_id, doc_id,
         list_distinct(list_transform(range(len(ws) - {spec.SHINGLE_K - 1}),
           i -> {_shingle_concat})) AS shingles
  FROM t WHERE len(ws) >= {spec.SHINGLE_K}
),
mh AS (
  SELECT raw_id, doc_id,
         list_transform(range({_perms}),
           p -> list_min(list_transform(shingles,
             s -> (({_sql_tokhash('s')} % {spec.MINHASH_MOD})
                   * ((2*p + 1) * {spec.MINHASH_MULT} % {spec.MINHASH_MOD})
                   + p) % {spec.MINHASH_MOD}))) AS sig
  FROM sh
),
bands AS (
  SELECT raw_id, doc_id, sig, tt.b AS b,
         md5(array_to_string(sig[b*{_rpb}+1 : b*{_rpb}+{_rpb}], ',')) AS band_sig
  FROM mh, unnest(range({spec.LSH_BANDS})) AS tt(b)
),
old_k AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY b, band_sig) AS bn
    FROM bands WHERE raw_id % {INCR_COMMITTED_MOD} != 0) WHERE bn <= {dedup.MAX_BUCKET}
),
new_k AS (SELECT * FROM bands WHERE raw_id % {INCR_COMMITTED_MOD} = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of,
         n.sig AS sig_new, o.sig AS sig_old
  FROM new_k n JOIN old_k o ON n.b = o.b AND n.band_sig = o.band_sig
),
est AS (
  SELECT doc_id, dup_of,
    CAST(len(list_filter(range({_perms}),
      i -> sig_new[CAST(i + 1 AS INT)] = sig_old[CAST(i + 1 AS INT)])) AS DOUBLE)
      / {_perms} AS est_jaccard
  FROM cand
)
SELECT doc_id, dup_of, est_jaccard FROM est
WHERE est_jaccard >= {INCR_THRESHOLD}e0
"""

    # split-assignment twin: same md5-prefix integer, same exact integer
    # thresholds computed from splits.DEFAULT_WEIGHTS
    def _hex8_int(hexpr: str) -> str:
        """First 8 hex chars of an ALREADY-hex string expression as an
        integer (positional arithmetic — no extra md5, unlike _sql_tokhash)."""
        terms = [
            f"(strpos('{_HEX}', substr({hexpr}, {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
            for j in range(8)
        ]
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    _sw = splits.DEFAULT_WEIGHTS
    _sw_total = sum(_sw.values())
    _sw_items = list(_sw.items())
    _split_h = _hex8_int("md5('split0:' || CAST(doc_id AS VARCHAR))")
    _acc = 0.0
    _cases = []
    for _name, _w in _sw_items[:-1]:
        _acc += _w
        _thr = int(_acc / _sw_total * (1 << 32))
        _cases.append(f"WHEN {_split_h} < {_thr} THEN '{_name}'")
    sql["split_assign"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  CASE {' '.join(_cases)} ELSE '{_sw_items[-1][0]}' END AS split
FROM documents
"""

    # packing twin: the single global-window formulation of the two-level
    # prefix sum (identical assignment — the engine's shard offsets
    # reconstruct exactly this cumsum under the same (shard, ok) order)
    _pk_ok = "md5('pack0:' || CAST(doc_id AS VARCHAR))"
    _pk_shard = f"{_hex8_int(_pk_ok)} % {splits.PACK_SHARDS}"
    sql["pack_bins"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tokens,
         {_pk_ok} AS ok,
         {_pk_shard} AS shard
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY shard, ok, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {PACK_BUDGET}) AS BIGINT) AS bin
FROM c
"""

    # release-manifest twin: curation CTE prefix -> survivor set -> split
    # CASE -> pack window over the train split only (global formulation of
    # the engine's two-level prefix sum)
    sql["release_manifest"] = f"""{_cur_cte},
surv2 AS (
  SELECT k.doc_id, k.source, k.n_tokens FROM kept k JOIN canon c
  ON k.content_hash = c.content_hash AND k.doc_id = c.doc_id
),
sp AS (
  SELECT *, CASE {' '.join(_cases)} ELSE '{_sw_items[-1][0]}' END AS split
  FROM surv2
),
tr AS (
  SELECT doc_id, n_tokens, {_pk_ok} AS ok, {_pk_shard} AS shard
  FROM sp WHERE split = 'train'
),
c2 AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY shard, ok, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tr
),
b AS (
  SELECT doc_id,
         CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM c2
)
SELECT sp.doc_id, sp.source, sp.split, sp.n_tokens, b.bin
FROM sp LEFT JOIN b ON sp.doc_id = b.doc_id
"""

    def _dotp(a: str, b: str, dim: int = 64) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range({dim}), "
            f"j -> {a}[j+1]::DOUBLE * {b}[j+1]::DOUBLE)), (x, y) -> x + y)"
        )

    sql["ann_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, cand_id,
         {_dotp('qv', 'cv')} / (sqrt({_dotp('qv', 'qv')}) * sqrt({_dotp('cv', 'cv')})) AS cosine
  FROM c, q WHERE cand_id != query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""

    # SRP plane component p,j = hexval(md5(p':'j)[0]) - 7.5  (deterministic);
    # banded LSH: band b's bucket = sign bits of planes b*PPB .. b*PPB+PPB-1
    _ppb = similarity.PLANES_PER_BAND
    _nbands = similarity.N_BANDS
    _band_plane_dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(64), "
        "k -> {v}[k+1]::DOUBLE * "
        f"(strpos('0123456789abcdef', substr(md5((b * {_ppb} + j) || ':' || k), 1, 1))"
        " - 1 - 7.5))), "
        "(x, y) -> x + y)"
    )
    _band_bucket = (
        f"array_to_string(list_transform(range({_ppb}), j -> CASE WHEN "
        + _band_plane_dot
        + " >= 0 THEN '1' ELSE '0' END), '')"
    )
    _kept_cte = f"""
WITH bb AS (
  SELECT vec_id AS vid, embedding AS vec, tt.b AS band,
         {_band_bucket.format(v='embedding')} AS bucket
  FROM embeddings, unnest(range({_nbands})) AS tt(b)
),
counted AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bucket_n FROM bb
),
kept AS (SELECT * FROM counted WHERE bucket_n <= {dedup.MAX_BUCKET})"""

    # multi-probe twin: each query also probes band buckets within Hamming
    # radius MULTIPROBE_RADIUS of its own — bucket strings flipped at the
    # mask's bit positions, identical to similarity._flip_bits_col (string
    # ops: bit-exact across engines by construction)
    _masks_sql = "[" + ",".join(
        "[" + ",".join(str(p) for p in m) + "]"
        for m in similarity._probe_masks(
            similarity.PLANES_PER_BAND, similarity.MULTIPROBE_RADIUS
        )
    ) + "]"
    _probe_bucket = (
        f"array_to_string(list_transform(range({_ppb}), i -> "
        "CASE WHEN list_contains(mm.mask, i) THEN "
        "(CASE WHEN substr(bucket, CAST(i + 1 AS INT), 1) = '1' THEN '0' ELSE '1' END) "
        "ELSE substr(bucket, CAST(i + 1 AS INT), 1) END), '')"
    )
    sql["ann_lsh_topk"] = f"""{_kept_cte},
q AS (
  SELECT vid AS query_id, vec AS qv, band, {_probe_bucket} AS bucket
  FROM kept CROSS JOIN unnest({_masks_sql}::INT[][]) AS mm(mask)
  WHERE vid < 20
),
c AS (SELECT vid AS cand_id, vec AS cv, band, bucket FROM kept),
pairs AS (
  SELECT DISTINCT q.query_id, q.qv, c.cand_id, c.cv
  FROM c JOIN q ON c.band = q.band AND c.bucket = q.bucket
  WHERE c.cand_id != q.query_id
),
scored AS (
  SELECT query_id, cand_id,
         {_dotp('qv', 'cv')} / (sqrt({_dotp('qv', 'qv')}) * sqrt({_dotp('cv', 'cv')})) AS cosine
  FROM pairs
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""

    # incremental-ANN twin: committed side (vec_id % MOD != 0) builds its
    # bucket table WITH the MAX_BUCKET guard (matching what
    # state.write_srp_buckets persisted); the query batch (vec_id % MOD = 0,
    # < MAX) expands multi-probe keys with NO intra-batch guard, as
    # incremental_ann_topk probes from the kernel's unguarded band rows.
    sql["incremental_ann"] = f"""
WITH bbc AS (
  SELECT vec_id AS vid, embedding AS vec, tt.b AS band,
         {_band_bucket.format(v='embedding')} AS bucket
  FROM embeddings, unnest(range({_nbands})) AS tt(b)
  WHERE vec_id % {INCR_ANN_MOD} != 0
),
countedc AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bucket_n FROM bbc
),
keptc AS (SELECT * FROM countedc WHERE bucket_n <= {dedup.MAX_BUCKET}),
q AS (
  SELECT vid AS query_id, vec AS qv, band, {_probe_bucket} AS bucket
  FROM (
    SELECT vec_id AS vid, embedding AS vec, tt.b AS band,
           {_band_bucket.format(v='embedding')} AS bucket
    FROM embeddings, unnest(range({_nbands})) AS tt(b)
    WHERE vec_id % {INCR_ANN_MOD} = 0 AND vec_id < {INCR_ANN_MAX}
  ) CROSS JOIN unnest({_masks_sql}::INT[][]) AS mm(mask)
),
pairs AS (
  SELECT DISTINCT q.query_id, q.qv, c.vid AS cand_id, c.vec AS cv
  FROM keptc c JOIN q ON c.band = q.band AND c.bucket = q.bucket
  WHERE c.vid != q.query_id
),
scored AS (
  SELECT query_id, cand_id,
         {_dotp('qv', 'cv')} / (sqrt({_dotp('qv', 'qv')}) * sqrt({_dotp('cv', 'cv')})) AS cosine
  FROM pairs
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""

    # IVF ANN twin. Centroid components are half-integers (squared norms are
    # exact dyadics — order-independent), distances use the same
    # c2 - 2.0*dot(sequential fold) expression order as the engine, and the
    # nearest/probe selection orders by (dist, centroid) exactly like the
    # engine's lexicographic (d, i) struct sort.
    _ivf_dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(64), "
        "j -> {v}[j+1]::DOUBLE * cv[j+1])), (x, y) -> x + y)"
    )
    sql["ann_ivf_topk"] = f"""
WITH cents AS (
  SELECT t.c AS c,
         list_transform(range(64), j -> CAST(strpos('{_HEX}',
           substr(md5('ivf:' || t.c || ':' || j), 1, 1)) - 1 - 7.5 AS DOUBLE)) AS cv
  FROM unnest(range({similarity.IVF_CENTROIDS})) AS t(c)
),
cents2 AS (
  SELECT c, cv,
         list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)),
                     (a, b) -> a + b) AS c2
  FROM cents
),
dists AS (
  SELECT e.vec_id AS vid, e.embedding AS vec, c2.c AS c,
         c2.c2 - 2.0 * {_ivf_dot.format(v='e.embedding')} AS dist
  FROM embeddings e, cents2 c2
),
assigned AS (
  SELECT vid, vec, c AS cell,
         row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS rk
  FROM dists
),
base AS (SELECT vid, vec, cell FROM assigned WHERE rk = 1),
probes AS (
  SELECT vid AS query_id, vec AS qv, c AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS prk
        FROM dists WHERE vid < 20)
  WHERE prk <= {similarity.IVF_PROBE}
),
scored AS (
  SELECT p.query_id, b.vid AS cand_id,
         {_dotp('p.qv', 'b.vec')} / (sqrt({_dotp('p.qv', 'p.qv')}) * sqrt({_dotp('b.vec', 'b.vec')})) AS cosine
  FROM base b JOIN probes p ON b.cell = p.cell
  WHERE b.vid != p.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""

    # Trained-IVF twin: replays the TRAINING bit-for-bit — Forgy seed (first
    # IVF_CENTROIDS vectors by id) + ivf_train's 5 Lloyd iterations unrolled
    # as CTE layers. Every float op mirrors the engine's order exactly:
    # distances are c2 - 2.0*(left-fold dot, dim ascending) — the same
    # IEEE-double sequence as similarity._fold_dots' dim-major numpy
    # accumulation in the _nearest_cells kernel — and the per-(cell,dim)
    # mean is a left-fold sum in ascending-vid order divided by the member
    # count, matching similarity._lloyd's sort_array+aggregate fold. Serving reuses
    # the ann_ivf_topk machinery over the trained centroids.
    def _sqfold(v: str) -> str:
        return (f"list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
                "(a, b) -> a + b)")

    _train_ctes = [f"""seed AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {similarity.IVF_CENTROIDS})
),
tcents0 AS (SELECT c, cv, {_sqfold('cv')} AS c2 FROM seed)"""]
    for _i in range(5):
        _train_ctes.append(f"""tdists{_i} AS (
  SELECT e.vec_id AS vid, e.embedding AS vec, cc.c AS c,
         cc.c2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range(64),
             j -> e.embedding[j+1]::DOUBLE * cc.cv[j+1])), (x, y) -> x + y) AS dist
  FROM embeddings e, tcents{_i} cc
),
tasg{_i} AS (
  SELECT vid, vec, c AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS rk
    FROM tdists{_i}
  ) WHERE rk = 1
),
tmeans{_i} AS (
  SELECT cell, j AS dim,
         list_reduce(list_prepend(0.0, list(x ORDER BY vid)), (a, b) -> a + b)
           / count(*) AS m
  FROM (SELECT a.cell, a.vid, t.j, a.vec[t.j + 1]::DOUBLE AS x
        FROM tasg{_i} a CROSS JOIN unnest(range(64)) AS t(j)) mm
  GROUP BY cell, j
),
tnew{_i} AS (SELECT cell AS c, list(m ORDER BY dim) AS cv FROM tmeans{_i} GROUP BY cell),
tcents{_i + 1} AS (
  SELECT p.c, coalesce(n.cv, p.cv) AS cv, {_sqfold('coalesce(n.cv, p.cv)')} AS c2
  FROM tcents{_i} p LEFT JOIN tnew{_i} n ON n.c = p.c
)""")
    sql["ann_ivf_trained"] = f"""WITH {', '.join(_train_ctes)},
tdists AS (
  SELECT e.vec_id AS vid, e.embedding AS vec, c2.c AS c,
         c2.c2 - 2.0 * {_ivf_dot.format(v='e.embedding')} AS dist
  FROM embeddings e, tcents5 c2
),
tassigned AS (
  SELECT vid, vec, c AS cell,
         row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS rk
  FROM tdists
),
tbase AS (SELECT vid, vec, cell FROM tassigned WHERE rk = 1),
tprobes AS (
  SELECT vid AS query_id, vec AS qv, c AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS prk
        FROM tdists WHERE vid < 20)
  WHERE prk <= {similarity.IVF_PROBE}
),
tscored AS (
  SELECT p.query_id, b.vid AS cand_id,
         {_dotp('p.qv', 'b.vec')} / (sqrt({_dotp('p.qv', 'p.qv')}) * sqrt({_dotp('b.vec', 'b.vec')})) AS cosine
  FROM tbase b JOIN tprobes p ON b.cell = p.cell
  WHERE b.vid != p.query_id
),
tranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM tscored
)
SELECT query_id, cand_id, cosine, rank FROM tranked WHERE rank <= 5
"""

    # PQ twin: replays ALL m per-block trainings (each the same unrolled
    # deterministic-Lloyd chain as the trained-IVF twin, over the block's
    # dim/m-component slices), then encodes every vector per block
    # (argmin over the block's codebook with the engine's c2 - 2*fold
    # order), builds per-query per-block distance tables the same way, and
    # folds the m ADC entries in ascending block order from 0.0 — the
    # exact sum order of pq_topk's aggregate.
    _pq_m, _pq_k, _pq_sub, _pq_it = (
        similarity.PQ_BLOCKS, similarity.PQ_CENTROIDS, 64 // similarity.PQ_BLOCKS, 3
    )

    def _pq_sqfold(v):
        return (f"list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
                "(a, b) -> a + b)")

    def _pq_dot(vecexpr, b, cvexpr):
        # fold over the block's sub dims, ascending — matches the numpy
        # dim-major accumulation and the HOF zip_with fold
        return ("list_reduce(list_prepend(0.0, list_transform(range("
                f"{_pq_sub}), j -> {vecexpr}[{b * _pq_sub} + j + 1]::DOUBLE * "
                f"{cvexpr}[j + 1])), (x, y) -> x + y)")

    _pq_ctes = []
    for _b in range(_pq_m):
        _pq_ctes.append(f"""pb{_b}s AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
         list_transform(embedding[{_b * _pq_sub + 1} : {_b * _pq_sub + _pq_sub}],
                        x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_pq_k})
),
pb{_b}c0 AS (SELECT c, cv, {_pq_sqfold('cv')} AS c2 FROM pb{_b}s)""")
        for _i in range(_pq_it):
            _pq_ctes.append(f"""pb{_b}d{_i} AS (
  SELECT e.vec_id AS vid, e.embedding AS vec, cc.c AS c,
         cc.c2 - 2.0 * {_pq_dot('e.embedding', _b, 'cc.cv')} AS dist
  FROM embeddings e, pb{_b}c{_i} cc
),
pb{_b}a{_i} AS (
  SELECT vid, vec, c AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS rk
    FROM pb{_b}d{_i}
  ) WHERE rk = 1
),
pb{_b}m{_i} AS (
  SELECT cell, j AS dim,
         list_reduce(list_prepend(0.0, list(x ORDER BY vid)), (a, b) -> a + b)
           / count(*) AS m
  FROM (SELECT a.cell, a.vid, t.j,
               a.vec[{_b * _pq_sub} + t.j + 1]::DOUBLE AS x
        FROM pb{_b}a{_i} a CROSS JOIN unnest(range({_pq_sub})) AS t(j)) mm
  GROUP BY cell, j
),
pb{_b}n{_i} AS (SELECT cell AS c, list(m ORDER BY dim) AS cv FROM pb{_b}m{_i} GROUP BY cell),
pb{_b}c{_i + 1} AS (
  SELECT p.c, coalesce(n.cv, p.cv) AS cv, {_pq_sqfold('coalesce(n.cv, p.cv)')} AS c2
  FROM pb{_b}c{_i} p LEFT JOIN pb{_b}n{_i} n ON n.c = p.c
)""")
    _pq_cb = " UNION ALL ".join(
        f"SELECT {_b} AS b, c, cv, c2 FROM pb{_b}c{_pq_it}" for _b in range(_pq_m)
    )
    sql["ann_pq_topk"] = f"""WITH {', '.join(_pq_ctes)},
pcb AS ({_pq_cb}),
pdists AS (
  SELECT e.vec_id AS vid, cb.b AS b, cb.c AS c,
         cb.c2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range({_pq_sub}),
             j -> e.embedding[cb.b * {_pq_sub} + j + 1]::DOUBLE * cb.cv[j + 1])),
             (x, y) -> x + y) AS dist
  FROM embeddings e, pcb cb
),
pcodes AS (
  SELECT vid, b, c AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vid, b ORDER BY dist, c) AS rk
    FROM pdists
  ) WHERE rk = 1
),
qtab AS (SELECT vid AS query_id, b, c, dist AS qdist FROM pdists WHERE vid < 20),
adc AS (
  SELECT q.query_id, p.vid AS cand_id,
         list_reduce(list_prepend(0.0, list(q.qdist ORDER BY q.b)),
                     (a, b) -> a + b) AS adc_dist
  FROM pcodes p JOIN qtab q ON q.b = p.b AND q.c = p.code
  WHERE p.vid != q.query_id
  GROUP BY q.query_id, p.vid
),
pranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS INT) AS rank
  FROM adc
)
SELECT query_id, cand_id, adc_dist, rank FROM pranked WHERE rank <= 5
"""

    # IVF-PQ composition twin: the coarse training chain (tcents*) AND all
    # per-block PQ chains (pb*) in one query; serving = coarse assignment +
    # probe selection (as the trained-IVF twin) routing into the PQ ADC
    # fold (as the PQ twin) — the full composed architecture hash-checked.
    sql["ann_ivf_pq"] = f"""WITH {', '.join(_train_ctes)},
{', '.join(_pq_ctes)},
ivfd AS (
  SELECT e.vec_id AS vid, cc.c AS c,
         cc.c2 - 2.0 * {_ivf_dot.format(v='e.embedding')} AS dist
  FROM embeddings e, tcents5 cc
),
iasg AS (
  SELECT vid, c AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS rk
    FROM ivfd
  ) WHERE rk = 1
),
iprobes AS (
  SELECT vid AS query_id, c AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY dist, c) AS prk
        FROM ivfd WHERE vid < 20)
  WHERE prk <= {similarity.IVF_PROBE}
),
pcb AS ({_pq_cb}),
pdists AS (
  SELECT e.vec_id AS vid, cb.b AS b, cb.c AS c,
         cb.c2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range({_pq_sub}),
             j -> e.embedding[cb.b * {_pq_sub} + j + 1]::DOUBLE * cb.cv[j + 1])),
             (x, y) -> x + y) AS dist
  FROM embeddings e, pcb cb
),
pcodes AS (
  SELECT vid, b, c AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vid, b ORDER BY dist, c) AS rk
    FROM pdists
  ) WHERE rk = 1
),
qtab AS (SELECT vid AS query_id, b, c, dist AS qdist FROM pdists WHERE vid < 20),
icands AS (
  SELECT q.query_id, a.vid
  FROM iprobes q JOIN iasg a ON a.cell = q.cell
  WHERE a.vid != q.query_id
),
iadc AS (
  SELECT c.query_id, c.vid AS cand_id,
         list_reduce(list_prepend(0.0, list(t.qdist ORDER BY t.b)),
                     (a, b) -> a + b) AS adc_dist
  FROM icands c
  JOIN pcodes pc ON pc.vid = c.vid
  JOIN qtab t ON t.query_id = c.query_id AND t.b = pc.b AND t.c = pc.code
  GROUP BY c.query_id, c.vid
),
iranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS INT) AS rank
  FROM iadc
)
SELECT query_id, cand_id, adc_dist, rank FROM iranked WHERE rank <= 5
"""

    # reranked-PQ twin: the PQ chains + ADC shortlist (rank <= PQ_RERANK),
    # then exact cosine over the shortlist and the final top-5 — the
    # deployment shape, hash-checked including the float re-rank.
    sql["ann_pq_rerank"] = f"""WITH {', '.join(_pq_ctes)},
pcb AS ({_pq_cb}),
pdists AS (
  SELECT e.vec_id AS vid, cb.b AS b, cb.c AS c,
         cb.c2 - 2.0 * list_reduce(list_prepend(0.0, list_transform(range({_pq_sub}),
             j -> e.embedding[cb.b * {_pq_sub} + j + 1]::DOUBLE * cb.cv[j + 1])),
             (x, y) -> x + y) AS dist
  FROM embeddings e, pcb cb
),
pcodes AS (
  SELECT vid, b, c AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vid, b ORDER BY dist, c) AS rk
    FROM pdists
  ) WHERE rk = 1
),
qtab AS (SELECT vid AS query_id, b, c, dist AS qdist FROM pdists WHERE vid < 20),
adc AS (
  SELECT q.query_id, p.vid AS cand_id,
         list_reduce(list_prepend(0.0, list(q.qdist ORDER BY q.b)),
                     (a, b) -> a + b) AS adc_dist
  FROM pcodes p JOIN qtab q ON q.b = p.b AND q.c = p.code
  WHERE p.vid != q.query_id
  GROUP BY q.query_id, p.vid
),
short AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS rk
    FROM adc
  ) WHERE rk <= {PQ_RERANK}
),
rscored AS (
  SELECT s.query_id, s.cand_id,
         {_dotp('qe.embedding', 'ce.embedding')}
           / (sqrt({_dotp('qe.embedding', 'qe.embedding')})
              * sqrt({_dotp('ce.embedding', 'ce.embedding')})) AS cosine
  FROM short s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ce ON ce.vec_id = s.cand_id
),
rranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM rscored
)
SELECT query_id, cand_id, cosine, rank FROM rranked WHERE rank <= 5
"""

    sql["sessionize"] = f"""
WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
f AS (
  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > {events.SESSION_GAP_SEC} * 1000000 THEN 1 ELSE 0 END AS new_session
  FROM e
),
s AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       min(us) AS session_start_us, max(us) AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, session_seq
"""

    sql["tumbling"] = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_value_micros
FROM events GROUP BY 1, 2
"""

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       CAST(sum(CAST(floor(l_quantity * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_qty_micros,
       CAST(sum(CAST(floor(l_extendedprice * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_base_price_micros,
       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_disc_price_micros
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    sql["nation_revenue"] = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS revenue_micros
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["supplier_region"] = """
SELECT r_name, count(*) AS n_suppliers,
       CAST(sum(CAST(floor(s_acctbal * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_acctbal_micros
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    sql["rotation"] = (
        _SQL_SPANS_CTE
        + ","
        + _SQL_COVERS_CTE
        + f""",
media AS (
  SELECT s.doc_id, s.span_offset, s.media_ref,
         nd.text_cover / greatest(nd.text_cover + nd.media_cover, 1) AS text_share,
         (strpos('{_HEX}', substr(md5(s.media_ref), 3, 1)) - 1) * 24.0e0 - 180.0e0 AS raw_angle
  FROM spans s JOIN needs nd ON s.doc_id = nd.doc_id
  WHERE s.kind = 'media'
),
norm AS (
  SELECT *, CASE WHEN m < 180.0e0 THEN m ELSE m - 360.0e0 END AS n
  FROM (SELECT *, raw_angle - floor(raw_angle / 360.0e0) * 360.0e0 AS m FROM media)
),
snapped AS (
  SELECT *, CASE WHEN abs(n - round(n / 90.0, 0) * 90.0e0) > {rotation.SNAP_MAX_DIFF}
                 THEN 0.0e0 ELSE n END AS detected_angle
  FROM norm
)
SELECT doc_id, span_offset, media_ref, raw_angle, detected_angle,
       (CASE WHEN detected_angle < 0 THEN -1.0e0 ELSE 1.0e0 END)
       * (CASE WHEN abs(detected_angle) > 45.0e0 THEN abs(detected_angle) - 90.0
               ELSE abs(detected_angle) END) AS angle90,
       (abs(detected_angle) > 0.0e0 AND text_share < {rotation.TEXT_DOMINANCE_GUARD})
         AS should_correct
FROM snapped
"""
    )

    # rotate_media_inline twin: the payload is the md5-hex synthetic
    # (ocr_stub.media_payload), the fallback byte rotation shifts by
    # quarter-turns of the snapped angle, and the fingerprint is md5 over
    # the LOWERCASE HEX of the rotated bytes — a 2k-char rotation of the
    # hex string IS the k-byte rotation, so no blob md5 is needed.
    sql["media_rotate"] = (
        _SQL_SPANS_CTE
        + ","
        + _SQL_COVERS_CTE
        + f""",
media AS (
  SELECT s.doc_id, s.media_ref,
         nd.text_cover / greatest(nd.text_cover + nd.media_cover, 1) AS text_share,
         (strpos('{_HEX}', substr(md5(s.media_ref), 3, 1)) - 1) * 24.0e0 - 180.0e0 AS raw_angle,
         repeat(md5(s.media_ref), strpos('{_HEX}', substr(md5(s.media_ref), 1, 1))) AS ph
  FROM spans s JOIN needs nd ON s.doc_id = nd.doc_id
  WHERE s.kind = 'media'
),
norm AS (
  SELECT *, CASE WHEN m < 180.0e0 THEN m ELSE m - 360.0e0 END AS n
  FROM (SELECT *, raw_angle - floor(raw_angle / 360.0e0) * 360.0e0 AS m FROM media)
),
snapped AS (
  SELECT *, CASE WHEN abs(n - round(n / 90.0, 0) * 90.0e0) > {rotation.SNAP_MAX_DIFF}
                 THEN 0.0e0 ELSE n END AS detected_angle
  FROM norm
),
applied AS (
  SELECT doc_id, media_ref, ph,
         CASE WHEN abs(detected_angle) > 0.0e0
                   AND text_share < {rotation.TEXT_DOMINANCE_GUARD}
              THEN detected_angle ELSE 0.0e0 END AS applied_angle
  FROM snapped
),
turned AS (
  SELECT *, ((CAST(round(applied_angle / 90.0, 0) AS INT) % 4) + 4) % 4 AS turns,
         CAST(length(ph) / 2 AS BIGINT) AS n_bytes
  FROM applied
),
rotated AS (
  SELECT doc_id, media_ref, applied_angle, n_bytes,
         CASE WHEN turns = 0 THEN ph
              ELSE substr(ph, CAST(2 * ((n_bytes * turns) // 4 % n_bytes) + 1 AS INT))
                   || substr(ph, 1, CAST(2 * ((n_bytes * turns) // 4 % n_bytes) AS INT))
         END AS rh
  FROM turned
)
SELECT doc_id, media_ref, applied_angle, n_bytes, md5(rh) AS payload_md5
FROM rotated
"""
    )

    # Deskew composition twin. Float discipline (see operators/deskew_op.py):
    # integer angles + power-of-two member weight totals keep every
    # intermediate exact except the final sum of value*clipped-share products,
    # which both engines evaluate as a left fold (numpy sequential for n<8,
    # list_reduce here). All double literals use e0 notation so DuckDB does
    # not type them DECIMAL.
    _dk = deskew_op
    sql["deskew"] = f"""
WITH p AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), par AS (
  SELECT doc_id, h,
    (strpos('{_HEX}', substr(h, 1, 1)) <= 2) AS is_trend,
    ((strpos('{_HEX}', substr(h, 2, 1)) - 1) % 4) * 90 AS base,
    strpos('{_HEX}', substr(h, 3, 1)) - 8 AS skew,
    1 + (strpos('{_HEX}', substr(h, 4, 1)) - 1) % 8 AS cm2,
    1 + (strpos('{_HEX}', substr(h, 5, 1)) - 1) % 8 AS cm1,
    1 + (strpos('{_HEX}', substr(h, 6, 1)) - 1) % 8 AS c0,
    1 + (strpos('{_HEX}', substr(h, 7, 1)) - 1) % 8 AS c1,
    32 * (1 + (strpos('{_HEX}', substr(h, 9, 1)) - 1) % 2) AS tot,
    (strpos('{_HEX}', substr(h, 8, 1)) - 1) % 4 AS cdecoy,
    (strpos('{_HEX}', substr(h, 2, 1)) - 1) % 4 AS dmode
  FROM p
), bins AS (
  SELECT doc_id, a, c FROM (
    SELECT doc_id, base + skew + x.d AS a,
           CASE x.d WHEN -2 THEN cm2 WHEN -1 THEN cm1 WHEN 0 THEN c0
                    WHEN 1 THEN c1 ELSE tot - (cm2 + cm1 + c0 + c1) END AS c
    FROM par, (VALUES (-2), (-1), (0), (1), (2)) x(d) WHERE NOT is_trend
    UNION ALL
    SELECT doc_id, base + skew + 20, cdecoy FROM par WHERE NOT is_trend
  ) WHERE c > 0
), seq AS (
  SELECT doc_id, a, c,
    CASE WHEN a - lag(a) OVER (PARTITION BY doc_id ORDER BY a)
              < {_dk.deskew.MERGE_WITHIN_DEG}e0 THEN 0 ELSE 1 END AS brk
  FROM bins
), clu AS (
  SELECT doc_id, a, c, sum(brk) OVER (PARTITION BY doc_id ORDER BY a) AS cid
  FROM seq
), clusters AS (
  SELECT doc_id, cid,
         CAST(sum(a * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep,
         sum(c) AS cnt
  FROM clu GROUP BY doc_id, cid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, rep) AS rk,
         count(*) OVER (PARTITION BY doc_id) AS ncl
  FROM clusters
), dom AS (
  SELECT doc_id, rep AS dom_rep, cnt AS top_count, ncl FROM ranked WHERE rk = 1
), mem AS (
  SELECT b.doc_id, b.a,
    CAST(sum(b.c) OVER (PARTITION BY b.doc_id) AS DOUBLE) AS wtot,
    CAST(sum(b.c) OVER (PARTITION BY b.doc_id ORDER BY b.a) AS DOUBLE) AS cumw,
    CAST(coalesce(sum(b.c) OVER (PARTITION BY b.doc_id ORDER BY b.a
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS low
  FROM bins b JOIN dom d ON b.doc_id = d.doc_id
  WHERE abs(b.a - d.dom_rep) <= {2 * _dk.deskew.MERGE_WITHIN_DEG}e0
), est AS (
  SELECT doc_id,
    list_reduce(
      list(CAST(a AS DOUBLE)
           * greatest(least(cumw / wtot, 1.0e0 - {_dk.deskew.TRIM_QUANTILE}e0)
                      - greatest(low / wtot, {_dk.deskew.TRIM_QUANTILE}e0), 0.0e0)
           ORDER BY a),
      (x, y) -> x + y) / (1.0e0 - 2.0e0 * {_dk.deskew.TRIM_QUANTILE}e0) AS est
  FROM mem GROUP BY doc_id
), n2 AS (
  SELECT doc_id,
    CASE WHEN m >= 180.0e0 THEN m - 360.0e0 ELSE m END AS norm
  FROM (SELECT doc_id,
          CASE WHEN est < 0.0e0 THEN est + 360.0e0 ELSE est END AS m FROM est)
), n3 AS (
  SELECT doc_id, norm, 90.0e0 * floor(norm / 90.0e0 + 0.5e0) AS rot0 FROM n2
), gout AS (
  SELECT n3.doc_id,
    CAST(CASE WHEN rot0 = 180.0e0 THEN -180 ELSE CAST(rot0 AS INT) END AS INT)
      AS rotation,
    CAST(floor((norm - rot0) * 1000.0e0 + 0.5e0) AS BIGINT) AS skew_milli,
    CAST(d.ncl AS INT) AS n_clusters,
    CAST(d.top_count AS INT) AS top_count
  FROM n3 JOIN dom d ON n3.doc_id = d.doc_id
), sh AS (
  SELECT doc_id,
    CASE dmode WHEN 0 THEN hv WHEN 1 THEN -hv ELSE 0 END AS dx,
    CASE dmode WHEN 2 THEN hv WHEN 3 THEN -hv ELSE 0 END AS dy
  FROM (
    SELECT doc_id, dmode,
      strpos('{_HEX}', substr(h, (t.i * 7) % 32 + 1, 1)) - 8 AS hv
    FROM par, generate_series(1, {_dk.TREND_SHIFTS}) t(i) WHERE is_trend
  )
), tr AS (
  SELECT doc_id,
    sum(CASE WHEN dx > 0 THEN 1 ELSE 0 END) AS r,
    sum(CASE WHEN dx < 0 THEN 1 ELSE 0 END) AS l,
    sum(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS dn,
    sum(CASE WHEN dy < 0 THEN 1 ELSE 0 END) AS up
  FROM sh GROUP BY doc_id
), tout AS (
  SELECT doc_id,
    CAST(CASE WHEN r + l >= dn + up THEN (CASE WHEN r >= l THEN 0 ELSE -180 END)
              ELSE (CASE WHEN dn >= up THEN 90 ELSE -90 END) END AS INT)
      AS rotation,
    CAST(0 AS BIGINT) AS skew_milli,
    CAST(0 AS INT) AS n_clusters,
    CAST(0 AS INT) AS top_count
  FROM tr
)
SELECT * FROM gout UNION ALL SELECT * FROM tout
"""

    # media feature twin: payload = md5 digest bytes repeated k times, so the
    # normalized high-nibble histogram equals (count of odd-position md5 hex
    # chars == digit b) / 16 — exact dyadics, bit-identical across engines
    # ((c*k)/(16k) float-divides to the correctly-rounded c/16 both sides).
    # Exploded to one scalar row per (media_ref, bin): the driver's
    # canonicalizer sorts by value and cannot order raw array cells.
    sql["media_features"] = (
        _SQL_SPANS_CTE
        + f"""
SELECT doc_id, media_ref, CAST(b AS INT) AS bin,
  CAST(len(list_filter(range(16), j ->
    substr(md5(media_ref), CAST(2 * j + 1 AS INT), 1)
      = substr('{_HEX}', CAST(b + 1 AS INT), 1))) AS DOUBLE) / 16.0e0
    AS feat_value
FROM spans CROSS JOIN range({multimodal.FEATURE_DIM}) AS t(b)
WHERE kind = 'media'
"""
    )

    # media near-dup twin: the dim-16 rendition of the banded SRP machinery
    # over the feature CTE. Features (dyadic n/16) times half-integer plane
    # components are exact, so bucket signs and cosines are bit-identical.
    _mf = (
        f"list_transform(range({multimodal.FEATURE_DIM}), b -> "
        "CAST(len(list_filter(range(16), j -> "
        "substr(md5(media_ref), CAST(2 * j + 1 AS INT), 1) "
        f"= substr('{_HEX}', CAST(b + 1 AS INT), 1))) AS DOUBLE) / 16.0e0)"
    )
    _m_plane_dot = (
        f"list_reduce(list_prepend(0.0, list_transform(range({multimodal.FEATURE_DIM}), "
        "k -> {v}[k+1] * "
        f"(strpos('{_HEX}', substr(md5((b * {_ppb} + j) || ':' || k), 1, 1))"
        " - 1 - 7.5))), "
        "(x, y) -> x + y)"
    )
    _m_bucket = (
        f"array_to_string(list_transform(range({_ppb}), j -> CASE WHEN "
        + _m_plane_dot
        + " >= 0 THEN '1' ELSE '0' END), '')"
    )
    _m_dot = (
        f"list_reduce(list_prepend(0.0, list_transform(range({multimodal.FEATURE_DIM}), "
        "j -> {a}[j+1] * {b}[j+1])), (x, y) -> x + y)"
    )
    sql["media_near_dup"] = (
        _SQL_SPANS_CTE
        + f""",
feats AS (
  SELECT media_ref, {_mf} AS feature FROM spans WHERE kind = 'media'
),
bb AS (
  SELECT media_ref AS vid, feature AS vec, tt.b AS band,
         {_m_bucket.format(v='feature')} AS bucket
  FROM feats, unnest(range({_nbands})) AS tt(b)
),
counted AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bucket_n FROM bb
),
kept AS (SELECT * FROM counted WHERE bucket_n <= {dedup.MAX_BUCKET}),
pairs AS (
  SELECT DISTINCT a.vid AS id_a, a.vec AS va, c.vid AS id_b, c.vec AS vb
  FROM kept a JOIN kept c ON a.band = c.band AND a.bucket = c.bucket
  WHERE a.vid < c.vid
),
scored AS (
  SELECT id_a, id_b,
         {_m_dot.format(a='va', b='vb')}
           / (sqrt({_m_dot.format(a='va', b='va')}) * sqrt({_m_dot.format(a='vb', b='vb')})) AS cosine
  FROM pairs
)
SELECT id_a, id_b, cosine FROM scored
WHERE cosine >= {MEDIA_NEAR_DUP_THRESHOLD}e0
"""
    )

    sql["media_decode"] = (
        _SQL_SPANS_CTE
        + f"""
SELECT doc_id, media_ref,
       CAST(16 * strpos('{_HEX}', substr(md5(media_ref), 1, 1)) AS BIGINT) AS n_bytes,
       CAST(64 * strpos('{_HEX}', substr(md5(media_ref), 3, 1)) AS BIGINT) AS width,
       CAST(64 * strpos('{_HEX}', substr(md5(media_ref), 4, 1)) AS BIGINT) AS height,
       (['jpeg', 'png', 'tiff', 'webp'])[(strpos('{_HEX}', substr(md5(media_ref), 5, 1)) - 1) % 4 + 1] AS format
FROM spans WHERE kind = 'media'
"""
    )

    _strip = "trim(regexp_replace(b, '<[^>]*>', '', 'g'))"
    _linklen = (
        "coalesce(list_sum(list_transform(regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1), "
        "t -> length(t))), 0)"
    )
    _keep = (
        f"length({_strip}) >= {boilerplate.MIN_TEXT_LEN} "
        f"AND length({_strip}) / greatest(length(b), 1) >= {boilerplate.MIN_DENSITY} "
        f"AND {_linklen} / greatest(length({_strip}), 1) <= {boilerplate.MAX_LINK_DENSITY} "
        "AND NOT regexp_matches(b, '<(nav|footer|aside)[ >]')"
    )
    sql["boilerplate"] = f"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
n AS (SELECT doc_id, ws, CAST(ceil(len(ws) / {spec.SPAN_WORDS}.0) AS INT) AS n_text FROM src),
chunks AS (
  SELECT doc_id, i,
         array_to_string(ws[i * {spec.SPAN_WORDS} + 1 : i * {spec.SPAN_WORDS} + {spec.SPAN_WORDS}], ' ') AS chunk
  FROM n, unnest(range(n_text)) AS t(i)
),
html AS (
  SELECT doc_id,
         '{corpus_synth.NAV_LINE}' || chr(10)
         || string_agg('<p>' || chunk || '</p>', chr(10) ORDER BY i) || chr(10)
         || '{corpus_synth.AD_LINE}' || chr(10) || '{corpus_synth.FOOTER_LINE}' AS html
  FROM chunks GROUP BY doc_id
)
SELECT s.doc_id,
       coalesce(array_to_string(list_transform(
         list_filter(list_filter(string_split(
           coalesce(h.html,
             '{corpus_synth.NAV_LINE}' || chr(10)
             || '{corpus_synth.AD_LINE}' || chr(10) || '{corpus_synth.FOOTER_LINE}'
           ), chr(10)), b -> trim(b) != ''),
                     b -> {_keep}),
         b -> {_strip}), chr(10)), '') AS main_text
FROM src s LEFT JOIN html h ON s.doc_id = h.doc_id
"""

    _head_pat = r"'^(\d+(?:\.\d+)*)\.?\s+(\S.*)$'"
    sql["sections"] = f"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM documents
),
n AS (SELECT doc_id, ws, CAST(ceil(len(ws) / {spec.SPAN_WORDS}.0) AS INT) AS n_text FROM src),
chunks AS (
  SELECT doc_id, i,
         array_to_string(ws[i * {spec.SPAN_WORDS} + 1 : i * {spec.SPAN_WORDS} + {spec.SPAN_WORDS}], ' ') AS chunk
  FROM n, unnest(range(n_text)) AS t(i)
),
plist AS (SELECT doc_id, list(chunk ORDER BY i) AS cl FROM chunks GROUP BY doc_id),
paras AS (
  SELECT doc_id, flatten(list_transform(range(len(cl)), i -> CASE WHEN i % 3 = 0
    THEN [CAST(i // 3 + 1 AS VARCHAR) || (CASE WHEN i % 6 = 0 THEN '.' ELSE '.1' END) || ' ' || cl[i+1], cl[i+1]]
    ELSE [cl[i+1]] END)) AS pl
  FROM plist
),
withlen AS (SELECT doc_id, pl, length(array_to_string(pl, chr(10))) AS total_len FROM paras),
heads AS (
  SELECT doc_id, total_len,
         unnest(list_filter(list_transform(range(len(pl)), k -> struct_pack(
           hstart := CASE WHEN k = 0 THEN 0
                     ELSE length(array_to_string(pl[1:k], chr(10))) + 1 END,
           ptext := pl[k+1]
         )), s -> regexp_matches(s.ptext, {_head_pat}))) AS h
  FROM withlen
),
secs AS (
  SELECT doc_id, total_len,
         CAST(h.hstart AS BIGINT) AS start,
         regexp_extract(h.ptext, {_head_pat}, 2) AS title,
         CAST(h.hstart + length(h.ptext) - length(regexp_extract(h.ptext, {_head_pat}, 2)) AS BIGINT) AS title_start,
         CAST(h.hstart + length(h.ptext) AS BIGINT) AS title_end,
         CAST(length(regexp_extract(h.ptext, {_head_pat}, 1))
              - length(replace(regexp_extract(h.ptext, {_head_pat}, 1), '.', '')) + 1 AS BIGINT) AS level
  FROM heads
)
SELECT s.doc_id, s.start,
       CAST(coalesce(min(t.start), any_value(s.total_len)) AS BIGINT) AS "end",
       s.title, s.title_start, s.title_end, s.level
FROM secs s
LEFT JOIN secs t ON t.doc_id = s.doc_id AND t.start > s.start AND t.level <= s.level
GROUP BY s.doc_id, s.start, s.title, s.title_start, s.title_end, s.level
"""

    sql["emb_near_dup"] = f"""{_kept_cte},
pairs AS (
  SELECT DISTINCT a.vid AS id_a, a.vec AS va, c.vid AS id_b, c.vec AS vb
  FROM kept a JOIN kept c ON a.band = c.band AND a.bucket = c.bucket
  WHERE a.vid < c.vid
),
scored AS (
  SELECT id_a, id_b,
         {_dotp('va', 'vb')} / (sqrt({_dotp('va', 'va')}) * sqrt({_dotp('vb', 'vb')})) AS cosine
  FROM pairs
)
SELECT id_a, id_b, cosine FROM scored
WHERE cosine >= {similarity.NEAR_DUP_THRESHOLD}e0
"""

    # TOC-preferred sections. TOC docs anchor one entry per page at the
    # page's top-left: the nearest printable char to (0,0) in page-local
    # line numbering is the page's first char (page text starts with a span
    # text char; an all-empty page anchors at its first separator char) —
    # so the expected section starts are exactly the page starts. Non-TOC
    # docs fall back to heading detection over the extracted plain text,
    # which contains no heading-shaped paragraphs in this corpus (verified;
    # the heading path's general SQL twin is sql["sections"]), so the
    # fallback contributes no rows here.
    sql["sections_toc"] = (
        _SQL_PAGES_CTE
        + f""",
doclen AS (
  SELECT doc_id, max(page_end) AS text_len FROM pagebounds GROUP BY doc_id
),
tocdocs AS (
  SELECT doc_id, text_len FROM doclen
  WHERE strpos('{_HEX}', substr(md5('toc:' || doc_id), 1, 1)) >= 9
)
SELECT p.doc_id,
  CAST(p.page_start AS BIGINT) AS start,
  CAST(coalesce(lead(p.page_start) OVER (PARTITION BY p.doc_id ORDER BY p.page_number),
                t.text_len) AS BIGINT) AS "end",
  'SECTION ' || CAST(p.page_number AS VARCHAR) AS title,
  CAST(1 AS BIGINT) AS level,
  'toc' AS source
FROM pagebounds p JOIN tocdocs t USING (doc_id)
"""
    )

    # J5/J6 coordinate<->text lookup joins. Shared 'lines' CTE: on the
    # monospace layout every paragraph is one page-local line; entry k of a
    # page's '\n'-split text starts at page_start + sum(prev lens) + k and
    # sits at y = CHAR_H*k. The final split fragment is the '\f' page
    # terminator, never a paragraph.
    _ch_w, _ch_h = int(charboxes.CHAR_W), int(charboxes.CHAR_H)
    _lines_cte = (
        _SQL_PAGES_CTE
        + """,
rawlines AS (
  SELECT doc_id, page_number, page_start, string_split(ptext, chr(10)) AS ls
  FROM pagebounds
),
lines AS (
  SELECT doc_id, page_number, k AS line_idx, ls[k+1] AS ltext,
         CAST(page_start
              + coalesce(list_sum(list_transform(ls[1:k], x -> length(x))), 0)
              + k AS BIGINT) AS lstart
  FROM rawlines, unnest(range(len(ls) - 1)) AS t(k)
  WHERE ls[k+1] != ''
)
"""
    )

    sql["text_coords"] = (
        _lines_cte
        + f"""
SELECT doc_id, lstart AS par_start,
       CAST(lstart + length(ltext) AS BIGINT) AS par_end,
       CAST(0 AS BIGINT) AS x,
       CAST({_ch_h} * line_idx AS BIGINT) AS y,
       CAST({_ch_w} * length(ltext) AS BIGINT) AS w,
       CAST({_ch_h} AS BIGINT) AS h
FROM lines
"""
    )

    # the selection area covers page-local lines 1-2 (y in [CH, 3*CH), any x);
    # separator chars have zero boxes, so candidate runs are exactly those
    # lines, and the longest one (earliest on ties = argmax-first) wins
    sql["coords_text"] = (
        _lines_cte
        + """,
cand AS (
  SELECT doc_id, lstart, length(ltext) AS n, ltext FROM lines
  WHERE line_idx IN (1, 2)
),
win AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lstart) AS rk
  FROM cand
)
SELECT doc_id, CAST(lstart AS BIGINT) AS sel_start,
       CAST(lstart + n AS BIGINT) AS sel_end, ltext AS sel_text
FROM win WHERE rk = 1
"""
    )

    # Tables: the accepted grid per media ref is pure md5 arithmetic (the
    # clustering only has to find it and reject the noise boxes — which the
    # Spark side actually does; the oracle computes the expected result
    # analytically, so a clustering regression or accepted-noise bug breaks
    # the row/hash match).
    _vocab_sql = "[" + ", ".join(f"'{w}'" for w in tables_op._CELL_VOCAB) + "]"
    sql["tables"] = (
        _SQL_SPANS_CTE
        + f""",
m AS (
  SELECT doc_id, media_ref, md5(media_ref) AS h FROM spans WHERE kind = 'media'
),
par AS (
  SELECT doc_id, media_ref,
    3 + (strpos('{_HEX}', substr(h, 1, 1)) - 1) % 4 AS n_rows,
    2 + (strpos('{_HEX}', substr(h, 2, 1)) - 1) % 3 AS n_cols,
    40 + strpos('{_HEX}', substr(h, 3, 1)) - 1 AS cw,
    16 + (strpos('{_HEX}', substr(h, 4, 1)) - 1) % 8 AS ch,
    20 + strpos('{_HEX}', substr(h, 5, 1)) - 1 AS ox,
    30 + strpos('{_HEX}', substr(h, 6, 1)) - 1 AS oy
  FROM m
)
SELECT doc_id, media_ref, CAST(0 AS INT) AS table_idx,
  CAST(ox AS DOUBLE) AS "left", CAST(oy AS DOUBLE) AS "top",
  CAST((n_cols - 1) * (cw + 4) + cw AS DOUBLE) AS width,
  CAST((n_rows - 1) * (ch + 4) + ch AS DOUBLE) AS height,
  CAST(n_rows AS INT) AS n_rows, CAST(n_cols AS INT) AS n_cols,
  CAST(n_rows * n_cols AS INT) AS n_cells,
  array_to_string(list_transform(range(n_rows), r ->
    array_to_string(list_transform(range(n_cols), c ->
      ({_vocab_sql})[(strpos('{_HEX}', substr(md5(media_ref || ':' || r || ':' || c), 1, 1)) - 1) % {len(tables_op._CELL_VOCAB)} + 1]), ',')), '|') AS data_fp
FROM par
"""
    )

    # title = first paragraph of the assembled plain text (first maximal
    # run without '\n'/'\f') when at most 80 chars: taken from the scrubbed
    # page texts, so a NUL or a '\n' inside the first span cannot leak in
    sql["titles"] = (
        _SQL_PAGES_CTE
        + """
, firsts AS (
  SELECT doc_id,
         regexp_extract(string_agg(ptext, '' ORDER BY page_number), '[^\\n\\f]+') AS text
  FROM pagebounds GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN length(coalesce(f.text, '')) BETWEEN 1 AND 80
            THEN f.text ELSE '' END AS title
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN firsts f ON d.doc_id = f.doc_id
"""
    )

    # char-box stats computed ANALYTICALLY from the page text (the Spark side
    # constructs the actual box arrays) — independent derivations must agree
    _clean = "length(replace(e, chr(12), ''))"
    sql["char_coords"] = (
        _SQL_PAGES_CTE
        + f""",
pagestats AS (
  SELECT doc_id,
         length(ptext) AS pchars,
         coalesce(list_sum(list_transform(string_split(ptext, chr(10)),
           e -> {_clean})), 0) AS printable,
         coalesce(list_sum(list_transform(string_split(ptext, chr(10)),
           e -> 4 * {_clean} * ({_clean} - 1))), 0) AS sx,
         coalesce(list_sum(list_transform(range(len(string_split(ptext, chr(10)))),
           i -> 16 * i * length(replace((string_split(ptext, chr(10)))[i+1], chr(12), '')))), 0) AS sy
  FROM pagetext
)
SELECT d.doc_id,
       CAST(coalesce(sum(ps.pchars), 0) AS BIGINT) AS n_chars,
       CAST(coalesce(sum(ps.pchars), 0) AS BIGINT) AS n_boxes,
       CAST(coalesce(sum(ps.pchars - ps.printable), 0) AS BIGINT) AS n_zero,
       CAST(coalesce(sum(ps.sx), 0) AS BIGINT) AS sum_x,
       CAST(coalesce(sum(ps.sy), 0) AS BIGINT) AS sum_y
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN pagestats ps ON d.doc_id = ps.doc_id
GROUP BY d.doc_id
"""
    )

    sql["ocr_route_pages"] = (
        _SQL_SPANS_CTE
        + f"""
SELECT doc_id,
       CAST(span_offset // {spec.PAGE_SPANS} AS BIGINT) AS page_number,
       CAST(sum(CASE WHEN kind = 'text' THEN length(text) ELSE 0 END) AS BIGINT) AS text_cover,
       CAST(sum(CASE WHEN kind = 'media'
           THEN strpos('{_HEX}', substr(md5(media_ref), 1, 1)) * {spec.MEDIA_AREA_UNIT}
           ELSE 0 END) AS BIGINT) AS media_cover,
       sum(CASE WHEN kind = 'text' THEN length(text) ELSE 0 END)
         < {spec.OCR_RATIO} * sum(CASE WHEN kind = 'media'
           THEN strpos('{_HEX}', substr(md5(media_ref), 1, 1)) * {spec.MEDIA_AREA_UNIT}
           ELSE 0 END) AS page_needs_ocr
FROM spans GROUP BY doc_id, span_offset // {spec.PAGE_SPANS}
"""
    )

    sql["status_counts"] = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"

    sql["top_orders"] = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""

    return sql
