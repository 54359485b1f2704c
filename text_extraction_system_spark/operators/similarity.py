"""Similarity search over a vector table.

One input contract for every operator here (and for
``state.write_srp_buckets`` / ``read_srp_buckets`` and
``streaming.jobs.incremental_ann_stream``): the table has a ``vec_id``
column and an ``embedding`` column (``array<float>``); a caller with other
names renames them once, at its call site. The vector width is taken from
the vectors themselves — the SRP kernel from its batch, ``_lloyd`` from its
seed rows, ``ivf_topk``'s hash centroids from its query rows — never from
an option, and never at the cost of an extra Spark job. A table with no
vectors has no width: training on one raises ``ValueError``.

* ``brute_force_topk`` — exact cosine top-k: the (small) query set rides
  inside the partial top-k kernel (``_topk_partials``), which scores each
  task's rows and emits its per-task partial top-k; the scan side stays
  partition-parallel with no shuffle until the final per-query top-k
  (tiny). The IVF, PQ and IVF-PQ paths run the same kernel with their own
  score.
* ``srp_lsh_topk`` — the scale path: sign-random-projection buckets from
  deterministic md5-derived hyperplanes; candidates restricted to the same
  bucket. At 10^12 vectors the bucket join replaces the broadcast scan.
* ``ivf_topk`` / ``pq_topk`` / ``ivf_pq_topk`` — quantized ANN: an IVF
  coarse quantizer routes queries to cells, PQ codebooks score candidates
  from per-block codes by table lookup (ADC).

One quantizer core serves IVF and PQ: an IVF quantizer is a PQ codebook
with one full-width block. ``_nearest_cells`` is the one numpy kernel that
assigns every vector its nearest centroid per block (IVF cell, PQ codes, or
both in one pass), and ``_lloyd`` is the one k-means trainer: one seed read
for every block, then per iteration one kernel pass, one
``groupBy(cell, dim)`` left-fold mean and one collect — the job count does
not grow with the block count.

Every dot product — cosine scores, SRP plane signs, L2 proxies — goes
through ``_fold_dots``: dim-major accumulation in double precision, the
same IEEE sequence as the ``dot_col`` fold and the DuckDB oracle's
``list_reduce``, so scores, buckets, cells, codes and trained centroids are
bit-reproducible in SQL.

Every numpy kernel here crosses the Python boundary through ``arrowmap``:
``map_batches`` when it returns new columns only, ``append_column`` when its
caller keeps every input column (``_vector_pass``).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import arrowmap
from . import dedup


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm (cosine undefined): try_divide
    mirrors DuckDB's x/0.0 -> NULL, instead of the ANSI DIVIDE_BY_ZERO error
    that would kill the job on the first degenerate embedding; both engines
    then sort NULL cosines last under DESC."""
    return F.try_divide(dot_col(a, b), norm_col(a) * norm_col(b))


def _fold_dots(X, M):
    """Dot products over the last axis of ``X`` and ``M`` (leading axes
    broadcast: ``_fold_dots(X[:, None, :], C)`` is the (n, k) matrix of
    row-centroid dots, ``_fold_dots(X, X)`` the squared row norms).

    The ONE accumulation order of this module: dim-major in float64, one
    vectorized multiply then add per component, j ascending from 0.0 —
    exactly the ``aggregate`` fold of ``dot_col`` and the DuckDB oracle's
    ``list_reduce`` (no FMA, no numpy pairwise summation), so every caller
    is bit-reproducible in SQL."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(X.shape[:-1], M.shape[:-1]))
    for j in range(X.shape[-1]):
        acc += X[..., j] * M[..., j]
    return acc


def _matrix(vectors):
    """(n, width) float64 matrix of a batch's vector column (float32 ->
    double is exact)."""
    import numpy as np

    return np.asarray(vectors, dtype=np.float64)


def _vector_pass(df: DataFrame, keep: list[str], name: str,
                 dtype: T.DataType, fn) -> DataFrame:
    """``keep`` columns of ``df`` plus ``name``, where ``fn`` maps a batch's
    ``embedding`` values to one ``dtype`` value per row. The vector crosses
    back only when the caller keeps it: then ``fn``'s column is appended to
    the batch (``arrowmap.append_column``), else the pass returns ``keep``
    and ``name`` alone (``arrowmap.map_batches``)."""
    if "embedding" in keep:
        return arrowmap.append_column(df.select(*keep), name, dtype, fn, "embedding")
    fields = {f.name: f for f in df.schema.fields}
    return arrowmap.map_batches(
        df.select(*keep, "embedding"),
        lambda batches: ((*cols[:-1], fn(cols[-1])) for cols in batches),
        T.StructType([fields[c] for c in keep] + [T.StructField(name, dtype)]),
    )


def _proxy_dists(X, C):
    """(n, k) L2 proxies |c|^2 - 2*(x . c) — argmin-equivalent to true L2
    (the |x|^2 term is constant per row); both terms are ``_fold_dots``
    folds, in the order the oracle replays."""
    return _fold_dots(C, C)[None, :] - 2.0 * _fold_dots(X[:, None, :], C)


def _query_rows(embeddings: DataFrame, n_queries: int) -> tuple[list, list]:
    """The (tiny) query side as driver lists (ids, vectors): n_queries x
    width floats — the same collect class as the IVF centroid/seed reads
    (``_lloyd``), never the corpus."""
    rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding").collect()
    )
    return [r[0] for r in rows], [[float(x) for x in r[1]] for r in rows]


def _topk_partials(
    cands: DataFrame,
    qids: list,
    k: int,
    score: tuple,
    probes: list | None = None,
) -> DataFrame:
    """Per-task partial top-k against a small query set — the
    guide-section-8 move: every task scores its own rows against the
    (in-Python) queries with one vectorized numpy pass per batch and emits
    only its k best rows per query, so no join ships vectors and the final
    ranking window sees n_tasks x n_queries x k rows instead of the full
    score matrix.

    ``score`` is ``(name, keys, value)`` (``_cosine_score``,
    ``_adc_score``): ``keys(xs)`` maps a batch's ``x`` values to the (n,
    n_queries) float64 rank keys, best lowest, and ``value(kept)`` turns one
    query's kept keys into the output column ``name``. Per query the kernel
    keeps the k best under (key ASC, cand_id ASC) — the final window's exact
    total order — so the union of partials is a superset of the global
    top-k and the window output is unchanged (pinned by the DuckDB oracle:
    ``ann_topk``, ``ann_ivf_topk``, ``ann_pq_*``, ``ann_ivf_pq``).

    ``cands`` is (cand_id, x) or (cand_id, x, cell), and query_id takes
    cand_id's type; ``probes`` holds, per query, the cell ids it probes
    (None = scan everything, the brute-force shape)."""
    import numpy as np

    name, keys, value = score
    id_type = cands.schema["cand_id"].dataType
    out_schema = T.StructType([
        T.StructField("query_id", id_type), T.StructField("cand_id", id_type),
        T.StructField(name, T.DoubleType()),
    ])

    def gen(batches):
        best = [(np.empty(0), np.empty(0, dtype=int))] * len(qids)  # (keys, ids)
        for ids, xs, *cells in batches:
            if not qids:
                continue
            ids = np.asarray(ids)
            cells = np.asarray(cells[0]) if cells else None
            batch_keys = keys(xs)
            for qi, qid in enumerate(qids):
                mask = ids != qid
                if probes is not None:
                    mask &= np.isin(cells, probes[qi])
                if not mask.any():
                    continue
                key = batch_keys[mask, qi]
                sid = ids[mask]
                # batch top-k under (key, cand_id), merged with the running
                # best and re-cut to k
                take = np.lexsort((sid, key))[:k]
                kk = np.concatenate((best[qi][0], key[take]))
                ii = np.concatenate((best[qi][1].astype(sid.dtype, copy=False), sid[take]))
                order = np.lexsort((ii, kk))[:k]
                best[qi] = kk[order], ii[order]
        yield (
            [qid for qid, (_, ii) in zip(qids, best) for _ in ii],
            [c for _, ii in best for c in ii.tolist()],
            [v for kk, _ in best for v in value(kk)],
        )

    return arrowmap.map_batches(cands, gen, out_schema)


def _cosine_score(qvecs: list) -> tuple:
    """The exact-cosine score of ``_topk_partials``: key -cosine (2.0 where
    a norm is zero), value cosine (NULL there) — cosine DESC NULLS LAST.
    BIT-IDENTICAL to ``cosine_col``: the dot/norm accumulations are
    ``_fold_dots`` folds, the ``aggregate`` fold's IEEE sequence per row,
    and negation is exact."""
    import numpy as np

    Q = _matrix(qvecs)
    qns = np.sqrt(_fold_dots(Q, Q))

    def keys(vectors):
        X = _matrix(vectors)
        denom = np.sqrt(_fold_dots(X, X))[:, None] * qns
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _fold_dots(X[:, None, :], Q) / denom
        return np.where(denom == 0.0, 2.0, -cos)

    return "cosine", keys, lambda kept: [None if v == 2.0 else -v for v in kept.tolist()]


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 20, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query vectors ride inside the numpy partial top-k kernel
    (n_queries x width floats — the centroid-collect class, never the
    corpus) that scores each task's rows in one vectorized pass per batch
    and emits per-task partial top-k, so only n_tasks x n_queries x k rows
    reach the ranking window — no per-pair interpreted cosine (N x
    n_queries evaluations, the measured 85% of this query's runtime at
    sf1.0 when it ran as a broadcast join). Scores are bit-identical to
    ``cosine_col`` (see ``_cosine_score``)."""
    cands = embeddings.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    qids, qvecs = _query_rows(embeddings, n_queries)
    return _rank_topk(_topk_partials(cands, qids, k, _cosine_score(qvecs)), k)


#: SRP LSH banding: N_BANDS x PLANES_PER_BAND hyperplanes total.
#: A single flat table of few planes (the round-1 shape: 4 planes -> 16
#: buckets) is O(n^2/16) at 10^9+ rows with 16-way key skew; banding keeps
#: each band's bucket space 2^PLANES_PER_BAND wide (raise PLANES_PER_BAND at
#: scale — 16 planes/band gives 65536 buckets/band) while the band union
#: preserves recall for genuinely similar pairs (a cosine-0.9 pair collides
#: in an 8-plane band w.p. ~0.29, in >=1 of 4 bands w.p. ~0.75 — better than
#: the flat 4-plane table's 0.54, with ~16x smaller buckets).
N_BANDS = 4
PLANES_PER_BAND = 8

#: exact-cosine acceptance threshold for embedding near-duplicate pairs —
#: shared with the DuckDB oracle (interpolated there, never hardcoded)
NEAR_DUP_THRESHOLD = 0.3


def srp_plane_values(width: int, n_planes: int) -> list[list[float]]:
    """Deterministic hyperplanes: plane p component j =
    hexval(md5(p || ':' || j)[0]) - 7.5 (zero-mean, reproducible anywhere —
    the DuckDB oracle recomputes the same md5 expression). Component j does
    not depend on ``width``, so the planes of a narrower width are a prefix
    of a wider one's."""
    import hashlib

    return [
        [
            float(int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0], 16)) - 7.5
            for j in range(width)
        ]
        for p in range(n_planes)
    ]


@functools.lru_cache(maxsize=None)
def _srp_planes(width: int):
    """The N_BANDS * PLANES_PER_BAND planes at ``width`` as a float64
    matrix, built once per Python worker (about 3.5 ms at width 64)."""
    import numpy as np

    return np.asarray(srp_plane_values(width, N_BANDS * PLANES_PER_BAND), dtype=np.float64)


def _srp_band_rows(embeddings: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(vid, *carry, band, bucket) via one numpy Arrow pass: per band, the
    sign bits of that band's planes (global plane index
    band*PLANES_PER_BAND + j), bit p = sign(vec . plane_p). The planes are
    ``srp_plane_values`` at the batch's own vector width. The plane dots
    are ``_fold_dots`` folds, which the DuckDB oracle replays, so every
    bucket string is bit-reproducible in SQL.
    ``carry`` columns pass through the kernel untouched, ``embedding``
    among them renamed ``vec`` (``_vector_pass``: a caller that drops the
    vector does not get it back)."""
    import numpy as np

    def buckets(vectors):
        X = _matrix(vectors)
        bits = np.where(_fold_dots(X[:, None, :], _srp_planes(X.shape[1])) >= 0, "1", "0")
        return [
            ["".join(row[b * PLANES_PER_BAND:(b + 1) * PLANES_PER_BAND])
             for b in range(N_BANDS)]
            for row in bits
        ]

    return _vector_pass(
        embeddings, ["vec_id", *carry], "buckets", T.ArrayType(T.StringType()), buckets
    ).select(
        F.col("vec_id").alias("vid"),
        *[F.col(c).alias("vec") if c == "embedding" else c for c in carry],
        F.posexplode("buckets").alias("band", "bucket"),
    )


def srp_banded_buckets(embeddings: DataFrame) -> DataFrame:
    """(vid, vec, band, bucket) rows behind the LSH skew guard
    (``dedup.guard_buckets`` on (band, bucket), ``dedup.MAX_BUCKET``), as a
    plan; ``_guarded_buckets`` is the same table without the vector.

    The bucket signature is one narrow numpy pass (``_srp_band_rows``); at
    10^12 rows this is the table you would materialize once and
    bucket-partition by (band, bucket) — that durable form is
    ``state.write_srp_buckets`` (parquet partitioned by (band,
    bucket_prefix))."""
    return _guarded_buckets(embeddings, ("embedding",))


def _guarded_buckets(embeddings: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """``_srp_band_rows`` behind ``dedup.guard_buckets``: (vid, *carry,
    band, bucket)."""
    return dedup.guard_buckets(_srp_band_rows(embeddings, carry), ["band", "bucket"])


def _bucket_table(bb: DataFrame) -> DataFrame:
    """``bb`` (``srp_banded_buckets`` rows) as a lazy ``localCheckpoint``
    for the consumers that read the bucket table twice (the self-join of
    ``srp_candidate_pairs``, ``srp_lsh_topk``'s query and candidate
    sides): the SRP kernel and the guard window run once, at the first
    action, and the small checkpointed table is broadcast into the join.
    Unlike a persist, checkpoint blocks are freed when the DataFrame is
    garbage-collected. They are unreplicated: an executor loss on a
    cluster is unrecoverable — there, serve ``state.write_srp_buckets``."""
    return bb.localCheckpoint(eager=False)


def srp_candidate_pairs(embeddings: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs colliding in at least one band —
    the union of per-band self-joins of the checkpointed bucket table."""
    bb = _bucket_table(_guarded_buckets(embeddings))
    a = bb.select("band", "bucket", F.col("vid").alias("id_a"))
    b = bb.select("band", "bucket", F.col("vid").alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def srp_near_dup_pairs(
    embeddings: DataFrame, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded SRP candidates (the
    10^12-vector shape — all-pairs never materializes, buckets are bounded),
    verified with the exact cosine and thresholded."""
    pairs = srp_candidate_pairs(embeddings)
    vecs = embeddings.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    return (
        pairs.join(vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .select("id_a", "id_b", cosine_col(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


#: multi-probe Hamming radius for LSH top-k queries (Lv et al., VLDB'07):
#: each query also probes band buckets within this bit distance of its own.
#: Radius 2 over 8-plane bands = 37 bucket keys per band per query — the
#: probe fan-out multiplies only the (tiny, broadcast) QUERY side; candidate
#: volume stays bounded by dedup.MAX_BUCKET per probed key. Measured on the
#: sf0.01 corpus (weak neighbors, top-5 cosine 0.25-0.49): recall@5 0.09 ->
#: 0.74.
MULTIPROBE_RADIUS = 2


def _probe_masks(n_bits: int, radius: int,
                 budget: int | None = None) -> list[tuple[int, ...]]:
    """Bit-position subsets of size <= radius (incl. the empty probe), in
    GUARANTEED probe order: increasing Hamming distance, lexicographic by
    bit positions within a distance. A ``budget`` keeps the first N probes —
    so a budget always spends its keys on the nearest buckets first, and
    budget=1 degenerates to the exact single-bucket lookup. This is what
    makes a probe budget meaningful at scale: 16-plane bands (the
    recommended width at 10^9+ vectors) have 137 radius-2 probes, and a
    budget trades recall for query fan-out along a known-good order."""
    from itertools import combinations

    masks = [
        m for r in range(radius + 1) for m in combinations(range(n_bits), r)
    ]
    return masks[:budget] if budget is not None else masks


def _flip_bits_col(bucket: Column, positions: tuple[int, ...], n_bits: int) -> Column:
    """Bucket string with the given STATIC bit positions flipped — a pure
    concat-of-substrings expression (positions are plan constants)."""
    if not positions:
        return bucket
    parts: list[Column] = []
    prev = 0
    for p in positions:
        if p > prev:
            parts.append(F.substring(bucket, prev + 1, p - prev))
        c = F.substring(bucket, p + 1, 1)
        parts.append(F.when(c == "1", F.lit("0")).otherwise(F.lit("1")))
        prev = p + 1
    if prev < n_bits:
        parts.append(F.substring(bucket, prev + 1, n_bits - prev))
    return F.concat(*parts)


def _probe_keys(bb: DataFrame, multiprobe: int, probe_budget: int | None,
                carry: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, band, bucket, qv, *carry): each row of a bucket table
    expanded to its multi-probe keys per band, nearest-first
    (``_probe_masks``)."""
    masks = _probe_masks(PLANES_PER_BAND, multiprobe, probe_budget)
    return bb.select(
        F.col("vid").alias("query_id"),
        "band",
        F.explode(
            F.array(
                *[_flip_bits_col(F.col("bucket"), m, PLANES_PER_BAND) for m in masks]
            )
        ).alias("bucket"),
        F.col("vec").alias("qv"),
        *carry,
    )


def srp_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    multiprobe: int = MULTIPROBE_RADIUS,
    probe_budget: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates are vectors sharing at least one band
    bucket with the query (queries broadcast; a pair colliding in several
    bands/probes is scored once via the max-aggregate — cosine is
    deterministic per pair, so max == the single score).

    ``multiprobe`` expands each query's bucket keys to Hamming distance <=
    radius within each band (classic multi-probe LSH): with few bands the
    single-key recall on weak-similarity corpora is poor, and adding bands
    multiplies the 10^12-row BUCKET TABLE — probing instead multiplies only
    the broadcast query keys, which is the scale-correct direction.

    ``probe_budget`` caps the probes per band per query, taken in increasing
    Hamming distance (nearest buckets first — see _probe_masks); None keeps
    every probe within the radius (the default 8-plane/radius-2 setup: 37).
    Recall degrades gracefully as the budget shrinks (pinned by
    tests/test_recall.py)."""
    bb = _bucket_table(srp_banded_buckets(embeddings))
    qs = _probe_keys(bb.where(F.col("vid") < n_queries), multiprobe, probe_budget)
    cands = bb.select(
        F.col("vid").alias("cand_id"), "band", "bucket", F.col("vec").alias("cv")
    )
    scored = (
        cands.join(F.broadcast(qs), ["band", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
        .groupBy("query_id", "cand_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _rank_topk(scored, k)


def _committed_candidates(qs: DataFrame, committed_buckets: DataFrame,
                          carry: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, cand_id, qv, *carry): one row per probe key of ``qs``
    (``_probe_keys`` output) that hits a committed vector other than the
    query. When the committed table carries the ``bucket_prefix`` partition
    column (``state.read_srp_buckets``), the probes key on it too, so a
    broadcast query side drives dynamic partition pruning."""
    keys = ["band", "bucket"]
    if "bucket_prefix" in committed_buckets.columns:
        from . import state

        qs = qs.withColumn("bucket_prefix", state.bucket_prefix_col(F.col("bucket")))
        keys = ["band", "bucket_prefix", "bucket"]
    old = committed_buckets.select(F.col("vid").alias("cand_id"), *keys)
    return (
        qs.join(old, keys)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "qv", *carry)
    )


def _cosine_scored(cands: DataFrame, committed_vecs: DataFrame,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, cand_id, cosine, *carry): each candidate joined to its
    committed vector and scored with ``cosine_col``."""
    vecs = committed_vecs.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    return cands.join(vecs, "cand_id").select(
        "query_id", "cand_id", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"),
        *carry,
    )


def incremental_ann_topk(
    new_vecs: DataFrame,
    committed_buckets: DataFrame,
    committed_vecs: DataFrame,
    k: int = 5,
    multiprobe: int = MULTIPROBE_RADIUS,
    probe_budget: int | None = None,
) -> DataFrame:
    """Serve ANN queries for a NEW batch of vectors against the COMMITTED
    corpus's PERSISTED SRP bucket table — the ANN analog of
    ``dedup.incremental_near_dup``: at 10^12 vectors the committed corpus's
    buckets are written once (``state.write_srp_buckets``, partitioned by
    (band, bucket_prefix)) and every arriving batch probes them; the
    committed vectors are never re-hashed.

    The batch side is the kernel's band rows (``_srp_band_rows`` — NO
    intra-batch skew window: the committed table already dropped its
    degenerate buckets at write time, which is the guard that bounds
    candidate volume), expanded to ``multiprobe``/``probe_budget`` keys
    per band (nearest-first order, see ``_probe_masks``) and broadcast
    into ``_committed_candidates``: against the persisted table its key
    set drives dynamic partition pruning, so a small batch touches only
    the committed partitions holding its probed buckets (plan-asserted by
    tests/test_state.py).

    Candidate (query, cand) pairs are deduped across bands/probes BEFORE
    vectors are fetched, then ``_cosine_scored`` computes the exact cosine
    from one hash join against ``committed_vecs`` (broadcast candidate
    side: bounded by queries x probes x bucket width). The streaming job
    ``incremental_ann_stream`` runs the same two steps. Returns (query_id,
    cand_id, cosine, rank<=k)."""
    qs = _probe_keys(_srp_band_rows(new_vecs, ("embedding",)), multiprobe, probe_budget)
    cands = (
        _committed_candidates(F.broadcast(qs), committed_buckets)
        .groupBy("query_id", "cand_id")
        .agg(F.first("qv").alias("qv"))
    )
    return _rank_topk(
        _cosine_scored(F.broadcast(cands), committed_vecs), k
    )


# ---------------------------------------------------------------------------
# Quantized ANN: IVF (coarse cells) and PQ (per-block codes) on one core
# ---------------------------------------------------------------------------

#: coarse quantizer size / probe count. The default centroids are
#: deterministic hash-derived vectors (the oracle rebuilds them exactly);
#: ``ivf_train`` gives the k-means-trained quantizer. 64 cells probing 8
#: scans ~12.5% of the corpus per query; at 10^9+ vectors raise
#: IVF_CENTROIDS toward sqrt(n) and keep n_probe fixed.
IVF_CENTROIDS = 64
IVF_PROBE = 8

#: PQ geometry: m sub-blocks of width/m components, k centroids per block.
#: 8 blocks x 16 centroids = 8 4-bit codes per vector — a 64-dim float32
#: embedding (256 B) compresses to 4 B of codes, the 64x reduction that
#: makes a 10^12-vector serving tier fit in memory; IVF routes queries to
#: cells, PQ scores the cell members from codes (the standard pairing).
PQ_BLOCKS = 8
PQ_CENTROIDS = 16


def ivf_centroid_values(width: int, n_centroids: int) -> list[list[float]]:
    """Centroid c component j = hexval(md5('ivf:c:j')[0]) - 7.5 — half-integer
    values, so squared norms are exact dyadics (order-independent in float)."""
    import hashlib

    return [
        [
            float(int(hashlib.md5(f"ivf:{c}:{j}".encode()).hexdigest()[0], 16)) - 7.5
            for j in range(width)
        ]
        for c in range(n_centroids)
    ]


def _blocks(codebooks: list[list[list[float]]]) -> list[tuple]:
    """(first component, codebook) per block of consecutive equal-width
    blocks: ``_blocks([centroids])`` is an IVF quantizer,
    ``_blocks(codebooks)`` a PQ one."""
    return [(b * len(cb[0]), cb) for b, cb in enumerate(codebooks)]


def _nearest_cells(df: DataFrame, blocks: list[tuple], keep: list[str]) -> DataFrame:
    """``keep`` columns plus ``cells array<int>``: per (lo, codebook) block,
    the index of the codebook centroid nearest to vec[lo : lo + width] —
    argmin of ``_proxy_dists``, first index on exact ties. The one
    assignment kernel: IVF cells, PQ codes and the fused IVF-PQ
    cell+codes are all this pass with different blocks, and every Lloyd
    step of ``_lloyd`` runs it, so training, serving and the DuckDB oracle
    (``ann_ivf_trained``, ``ann_pq_*``, ``ann_ivf_pq``) agree bit for bit.

    One narrow Arrow pass (``_vector_pass``), no shuffle; partitionBy on
    the cell column downstream is the 10^12-row materialization
    strategy."""
    import numpy as np

    books = [(lo, np.asarray(cb, dtype=np.float64)) for lo, cb in blocks]

    def cells(vectors):
        X = _matrix(vectors)
        return np.stack([
            np.argmin(_proxy_dists(X[:, lo:lo + C.shape[1]], C), axis=1)
            for lo, C in books
        ], axis=1).tolist()

    return _vector_pass(df, keep, "cells", T.ArrayType(T.IntegerType()), cells)


def assign_cells_vectorized(
    embeddings: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """(vec_id, embedding, cell): each vector's nearest IVF centroid among
    ``centroids`` (``ivf_train``-ed, or ``ivf_centroid_values`` hash ones)
    — the one-block case of ``_nearest_cells``."""
    return _nearest_cells(
        embeddings, _blocks([centroids]), ["vec_id", "embedding"]
    ).select("vec_id", "embedding", F.col("cells")[0].alias("cell"))


def _lloyd(
    embeddings: DataFrame, m: int, k: int, iters: int
) -> list[list[list[float]]]:
    """k-means over each of ``m`` width/m-component blocks at once; returns
    codebooks[m][k][width/m], where width is the seed vectors' own.

    Forgy init: the first k vectors by id, read once (a top-k read at any
    scale) and sliced per block; a corpus of fewer than k vectors pads
    every block with hash centroids (``ivf_centroid_values(width/m, k)``),
    and a corpus of none raises ``ValueError`` (no width to train).
    Each of the ``iters`` Lloyd steps is one ``_nearest_cells`` pass, one
    posexplode to (vid, dim, x) keyed by the vector's cell in its block,
    one ``groupBy(cell, dim)`` mean and one collect of the m*k*(width/m)
    means — 1 + iters actions however many blocks train, and no vector
    reaches the driver. Empty cells keep their previous centroid (the
    standard k-means convention); at 10^12 rows you train on a uniform
    sample (a ``.sample()`` on the way in).

    The per-(cell, dim) mean is a DETERMINISTIC left-fold sum in
    ascending-id order divided by the member count — not ``F.avg``, whose
    partial-aggregate order varies with partitioning and would move
    trained centroids in the last ulp between runs. The DuckDB oracle
    unrolls these exact folds
    (``list_reduce(list_prepend(0.0, list(x ORDER BY vid)), +)``). The
    fold holds each cell's member values as one sorted array per (cell,
    dim) group — bounded by training-sample occupancy."""
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    ]
    if not seeds:
        raise ValueError("no vectors to train on: the table is empty")
    sub = len(seeds[0]) // m
    pad = ivf_centroid_values(sub, k)[len(seeds):]
    books = [
        [v[b * sub:(b + 1) * sub] for v in seeds] + [list(p) for p in pad]
        for b in range(m)
    ]
    for _ in range(iters):
        means = (
            _nearest_cells(embeddings, _blocks(books), ["vec_id", "embedding"])
            .select(
                F.col("vec_id").alias("vid"), "cells",
                F.posexplode("embedding").alias("dim", "x"),
            )
            .groupBy(F.expr(f"cells[dim div {sub}]").alias("cell"), "dim")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("vid"), F.col("x").cast("double").alias("x")))
                ).alias("xs")
            )
            .select(
                "cell", "dim",
                (
                    F.aggregate(F.col("xs"), F.lit(0.0), lambda a, s: a + s["x"])
                    / F.size(F.col("xs"))
                ).alias("m"),
            )
            .collect()  # m*k*sub tiny rows
        )
        for r in means:
            books[r["dim"] // sub][r["cell"]][r["dim"] % sub] = float(r["m"])
    return books


def ivf_train(
    embeddings: DataFrame, n_centroids: int = IVF_CENTROIDS, iters: int = 5
) -> list[list[float]]:
    """The trained IVF quantizer: ``_lloyd`` with one full-width block.
    Pass it to ``ivf_topk(centroids=...)`` — train once, serve many.

    Seeding from DATA matters: the deterministic hash centroids sit far from
    any real embedding cloud, so assignment degenerates to argmin |c|^2 —
    on the test corpora every vector lands in ONE cell, and hash-centroid
    IVF prunes nothing (its recall is vacuous). The hash variant remains
    the bit-exact ORACLE twin (plan shape under test); the trained path is
    the one with a real recall/scan trade-off (tests/test_recall.py pins
    occupancy spread and the recall-vs-probes curve)."""
    return _lloyd(embeddings, 1, n_centroids, iters)[0]


def pq_train(embeddings: DataFrame, iters: int = 3) -> list[list[list[float]]]:
    """The PQ_BLOCKS per-block codebooks of PQ_CENTROIDS centroids each,
    codebooks[PQ_BLOCKS][PQ_CENTROIDS][width/PQ_BLOCKS]: all blocks train
    together in ``_lloyd`` (same seed, folds and job count as one IVF
    training), so trained PQ is bit-reproducible and the DuckDB oracle
    replays all PQ_BLOCKS trainings."""
    return _lloyd(embeddings, PQ_BLOCKS, PQ_CENTROIDS, iters)


def _probe_cells(qvecs: list, cents: list[list[float]], n_probe: int) -> list:
    """Per query, its n_probe nearest cells by the kernel's
    ``_proxy_dists``, ties broken by cell index."""
    import numpy as np

    if not qvecs:
        return []
    d = _proxy_dists(_matrix(qvecs), np.asarray(cents))
    return list(np.argsort(d, axis=1, kind="stable")[:, :n_probe])


def _adc_score(qvecs: list, codebooks: list) -> tuple:
    """The ADC score of ``_topk_partials``: key and value ``adc_dist``, ASC.
    Per query one flattened m x k table — per block b and centroid j the
    ``_proxy_dists`` of the query's block-b slice, the kernel's encoding
    order, so a code's table entry is its encoding distance — and a
    candidate's distance is one gather + add per block, folded in ascending
    block order from 0.0 (the engine-portable order the oracle replays)."""
    import numpy as np

    m, kcent = len(codebooks), len(codebooks[0])
    Q = _matrix(qvecs)
    tabs = np.concatenate([
        _proxy_dists(Q[:, lo:lo + len(cb[0])], np.asarray(cb))
        for lo, cb in _blocks(codebooks)
    ], axis=1) if qvecs else None

    def keys(codes):
        C = np.asarray(codes, dtype=np.int64)
        acc = np.zeros((len(C), len(tabs)))
        for b in range(m):  # ascending blocks: the oracle's fold order
            acc += tabs[:, b * kcent + C[:, b]].T
        return acc

    return "adc_dist", keys, lambda kept: kept.tolist()


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    n_probe: int = IVF_PROBE,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an inverted file: every vector is assigned to
    its nearest coarse centroid (one narrow per-row pass — at 10^12 rows this
    is the column you materialize and partition by); each query scans only
    its n_probe nearest cells. Probed cells are distinct, so no pair is
    scored twice.

    ``centroids`` serves the index from an explicit (e.g. ``ivf_train``-ed)
    quantizer instead of the default IVF_CENTROIDS deterministic hash
    centroids, which take their width from the query rows — the real IVF
    deployment shape: train once, serve many. Trained centroids cut the
    probes needed at equal recall (pinned by tests/test_recall.py).

    Candidates are scored by the partial top-k kernel
    (``_topk_partials``): the query vectors and their probe-cell sets
    (``_probe_cells``) ride inside the kernel and each task emits its
    partial top-k, so no cell-keyed join or per-pair cosine expression is
    in the plan."""
    qids, qvecs = _query_rows(embeddings, n_queries)
    cents = centroids if centroids is not None else ivf_centroid_values(
        len(qvecs[0]) if qvecs else 0, IVF_CENTROIDS
    )
    base = assign_cells_vectorized(embeddings, cents).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "cell"
    )
    return _rank_topk(
        _topk_partials(base, qids, k, _cosine_score(qvecs),
                       _probe_cells(qvecs, cents, n_probe)),
        k,
    )


def _adc_rank(
    embeddings: DataFrame,
    scored: DataFrame,
    n_queries: int,
    k: int,
    rerank: int | None,
) -> DataFrame:
    """Rank ADC partials into the top-k shortlist — or, with ``rerank``, the
    top-``rerank`` shortlist re-scored by exact cosine against the float
    vectors (the only step that touches them) and cut to k."""
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("cand_id"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank else k))
        .select("query_id", "cand_id", "adc_dist", "rank")
    )
    if not rerank:
        return shortlist
    vecs = embeddings.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    qvecs = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = (
        F.broadcast(shortlist.select("query_id", "cand_id"))
        .join(vecs, "cand_id")
        .join(F.broadcast(qvecs), "query_id")
        .select("query_id", "cand_id",
                cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _rank_topk(exact, k)


def pq_topk(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    n_queries: int = 20,
    k: int = 5,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each
    query precomputes one m x k distance table against the codebooks
    (c2 - 2*q_b.c — the same monotone L2 proxy as IVF), then every
    candidate costs m TABLE LOOKUPS instead of a width-long float scan —
    the arithmetic that makes exhaustive scoring of a coarse cell feasible
    when vectors live as codes. The query tables ride inside the partial
    top-k kernel (``_topk_partials`` with ``_adc_score``), so no cross join
    or per-pair ADC expression is in the plan; the ADC sum folds blocks in
    ascending order from 0.0 (the engine-portable order); ties rank by
    candidate id."""
    cands = _nearest_cells(embeddings, _blocks(codebooks), ["vec_id"]).select(
        F.col("vec_id").alias("cand_id"), F.col("cells").alias("codes")
    )
    qids, qvecs = _query_rows(embeddings, n_queries)
    scored = _topk_partials(
        cands, qids, rerank if rerank else k, _adc_score(qvecs, codebooks)
    )
    return _adc_rank(embeddings, scored, n_queries, k, rerank)


def ivf_pq_topk(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_queries: int = 20,
    k: int = 5,
    n_probe: int = IVF_PROBE,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ — the composed industry-standard ANN serving architecture:
    the trained IVF quantizer ROUTES (every vector materialized with its
    coarse cell; queries probe their n_probe nearest cells only) and the
    trained PQ codebooks SCORE (cell members cost m table lookups each
    from 4-bit codes — no float vectors in the scan). At 10^12 vectors
    this is the tier layout: codes + cell ids live in memory
    (~code bytes/vector), float vectors stay in cold storage and are
    touched only by ``rerank``'s shortlist fetch.

    Both components are the bit-deterministic trained artifacts
    (``ivf_train`` / ``pq_train``), so the DuckDB oracle replays coarse
    training, all block trainings, encoding, probe selection, and the
    ADC fold — the full composition is hash-checked end to end.

    One ``_nearest_cells`` pass assigns the cell AND encodes the codes
    (the IVF block followed by the PQ blocks), and the ADC scoring runs as
    per-task partial top-k with the driver-replayed probe cells
    (``_probe_cells``)."""
    cands = _nearest_cells(
        embeddings, _blocks([centroids]) + _blocks(codebooks), ["vec_id"]
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.slice(F.col("cells"), 2, len(codebooks)).alias("codes"),
        F.col("cells")[0].alias("cell"),
    )
    qids, qvecs = _query_rows(embeddings, n_queries)
    scored = _topk_partials(
        cands, qids, rerank if rerank else k, _adc_score(qvecs, codebooks),
        _probe_cells(qvecs, centroids, n_probe),
    )
    return _adc_rank(embeddings, scored, n_queries, k, rerank)
