"""Near-duplicate detection: shingling, MinHash signatures, LSH banding,
candidate-pair generation, exact n-gram Jaccard verification.

Scale shape (the reason this is LSH and not O(n^2)): signatures and bands
come from one narrow Arrow pass per batch (``_signature_band_rows``). The
corpus-sized shuffle is the band-bucket grouping, whose buckets are tiny by
construction (a band collision implies high estimated Jaccard); a skew
guard drops pathological buckets before any bucket becomes a list. Past
it, near-dup only moves candidate pairs: their distinct, and the joins
that bring their two texts to the verify kernel. No operator here
materializes an intermediate table except the label rounds of
``connected_components``; the committed corpus's signatures persist as
``state.write_signature_table``.

The skew guard (``guard_buckets``) serves MinHash here and SRP in
``similarity``, with one MAX_BUCKET. ``_band_matches`` is the one
cross-batch matcher, run by ``incremental_near_dup`` and the stream
``incremental_dedup_stream``.

MinHash family: h_p(s) = ((2p+1) * h(s) + p) mod MINHASH_MOD over the doc's
distinct shingles, where h(s) is an md5-prefix integer — ONE md5 per shingle,
PERMS cheap affine maps. Deterministic, RNG-free, reproducible in any engine
with md5. (A salted-md5-per-permutation formulation was 16x slower: 27s for
5000 docs at 32 cores, all in interpreted md5+concat churn.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import arrowmap, schemas
from ..core import spec

#: LSH buckets (MinHash bands and SRP bands alike) larger than this are
#: dropped as degenerate (boilerplate shingles, zero-ish embeddings); a
#: bucket of b rows yields b^2 pairs — this caps join blowup at scale
MAX_BUCKET = 64

#: the MinHash estimate a cross-batch match must reach, in batch
#: (``incremental_near_dup``), in the stream and in the oracle
EST_THRESHOLD = 0.5


def _shingles(text: str) -> "set[str]":
    """Distinct word-SHINGLE_K-shingles of one text: split on single
    spaces, drop empties, join each run of SHINGLE_K words with a space.
    Empty when the text has fewer than SHINGLE_K words."""
    words = [w for w in (text or "").split(" ") if w]
    k = spec.SHINGLE_K
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def shingle_hash_set(text: str) -> "list[int]":
    """``token_hash_col % MINHASH_MOD`` of each of the text's distinct
    shingles (the same md5-prefix integer the DuckDB oracle computes).
    Shared by the signature and decontamination kernels and tests."""
    import hashlib

    return [
        int(hashlib.md5(s.encode()).hexdigest()[:spec.FP_HEX_CHARS], 16)
        % spec.MINHASH_MOD
        for s in _shingles(text)
    ]


def _signature_band_rows(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, sig, band, band_sig) exploded band rows via ONE Arrow pass:
    ``sig`` is the MINHASH_PERMS-long array of min affine-permuted shingle
    hashes, ``band_sig`` the md5 of each band's comma-joined rows. Exact by
    construction, so the DuckDB oracle reproduces every value: md5 is md5
    in any engine, the affine perm-min is exact int64 arithmetic (h, a_p <
    2^31 so products stay < 2^62), and min over a set is order-free. Docs
    with no shingle emit no rows. The same work as interpreted per-shingle
    slice+join expressions cost ~2.9 s at sf0.1; the python/numpy kernel
    does it at C speed (~0.5 s), which every signature consumer (near-dup,
    incremental dedup, the persisted state write) inherits.

    ``carry`` columns pass through the kernel untouched, repeated on each
    of a doc's band rows (the streaming job's event-time column); batch
    callers ship only the id and text."""
    import hashlib

    import numpy as np

    perms, bands = spec.MINHASH_PERMS, spec.LSH_BANDS
    A = np.array(
        [((2 * p + 1) * spec.MINHASH_MULT) % spec.MINHASH_MOD for p in range(perms)],
        dtype=np.int64,
    )
    P = np.arange(perms, dtype=np.int64)
    rows_per = perms // bands

    def rows(doc_id, text, *carried):
        hs_list = shingle_hash_set(text)
        if not hs_list:
            return
        hs = np.asarray(hs_list, dtype=np.int64)
        sig = ((hs[None, :] * A[:, None] + P[:, None]) % spec.MINHASH_MOD
               ).min(axis=1).tolist()
        for b in range(bands):
            bs = hashlib.md5(
                ",".join(str(x) for x in sig[b * rows_per:(b + 1) * rows_per])
                .encode()
            ).hexdigest()
            yield (doc_id, sig, b, bs, *carried)

    fields = {f.name: f for f in docs.schema.fields}
    schema = T.StructType.fromDDL(
        "doc_id string, sig array<bigint>, band int, band_sig string"
    )
    return arrowmap.map_rows(
        schemas.documents(docs, *carry), rows,
        T.StructType(schema.fields + [fields[c] for c in carry]),
    )


def guard_buckets(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The LSH skew guard of both families: ``rows`` whose bucket (the
    ``keys`` columns) holds at most MAX_BUCKET rows, as ``count(*) over
    (keys)``. Its shuffle partitions by the bucket keys, so a grouping on
    them downstream (``near_dup_pairs``) needs no second exchange."""
    counted = rows.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    return counted.where(F.col("bucket_n") <= MAX_BUCKET).drop("bucket_n")


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band,
    verified with exact Jaccard over their distinct shingles.

    Plan: ``signature_rows`` (band rows behind ``guard_buckets`` on
    (band, band_sig)) -> ``collect_list`` of each bucket's ids on the same
    keys (the window's shuffle serves both; the guard runs first, so a hot
    bucket never becomes a list) -> the in-bucket pairs -> distinct. Only
    the candidates are verified: each pair is joined to its two docs'
    texts and one Arrow kernel computes ``|A & B| / |A | B|`` over
    ``_shingles``, an integer ratio in IEEE double, as the oracle does.
    Nothing is materialized, and no shingle set is built for a doc that is
    in no pair."""
    buckets = (
        signature_rows(docs)
        .groupBy("band", "band_sig")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pairs = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    texts = schemas.documents(docs)
    cand = pairs.join(texts.toDF("doc_a", "text_a"), "doc_a").join(
        texts.toDF("doc_b", "text_b"), "doc_b"
    )

    def jaccard(doc_a, doc_b, text_a, text_b):
        sa, sb = _shingles(text_a), _shingles(text_b)
        yield doc_a, doc_b, len(sa & sb) / len(sa | sb)

    return arrowmap.map_rows(
        cand.select("doc_a", "doc_b", "text_a", "text_b"), jaccard,
        "doc_a string, doc_b string, jaccard double",
    )


def contamination_report(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: training docs sharing word k-shingles with
    an evaluation set (the n-gram collision check every LLM training
    pipeline runs before a data release).

    Plan shape at 10^12 train docs: the eval side is a BENCHMARK — small by
    contract — so its texts are collected and their distinct shingle hashes
    become one driver-side frozenset (this runs one job when the DataFrame
    is built). The train side is then a single narrow Arrow pass: a doc's
    hit count is doc-local, so the kernel counts its shingles found in the
    set, with no join and no shuffle. Only contaminated docs (at least one
    hit) are emitted, so the output is a small report, not a second corpus,
    with one row per such train row (callers pass unique doc ids). Shingle
    identity = the same FP_HEX_CHARS md5-prefix hash the dedup family uses
    (deterministic, engine-agnostic; 28-bit space < MINHASH_MOD, so
    ``shingle_hash_set``'s mod never fires and the values equal the raw
    token_hash_col the oracle computes).

    Returns (doc_id, n_hits, n_shingles, contamination = n_hits/n_shingles).
    """
    ev = frozenset(
        h for (text,) in eval_docs.select("text").collect()
        for h in shingle_hash_set(text)
    )

    def rows(doc_id, text):
        hs = shingle_hash_set(text)
        n_hits = sum(h in ev for h in hs)
        if n_hits:
            yield doc_id, n_hits, len(hs), n_hits / len(hs)

    return arrowmap.map_rows(
        schemas.documents(train), rows,
        "doc_id string, n_hits bigint, n_shingles bigint, contamination double",
    )


def signature_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, band_sig) — the dedup state of a corpus, as a
    plan (no materialization): the Arrow kernel's band rows
    (``_signature_band_rows``) behind ``guard_buckets``, so batch joins
    against the rows are bounded."""
    return guard_buckets(_signature_band_rows(docs), ["band", "band_sig"])


def _band_matches(band_rows: DataFrame, committed_sigs: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, dup_of, est_jaccard, *carry), one row per band in which a
    ``_signature_band_rows`` row shares its bucket with a committed doc and
    the MinHash estimate (the fraction of agreeing signature components)
    reaches ``EST_THRESHOLD``; a pair has the same estimate on every band.

    When ``committed_sigs`` is the persisted table (it carries the
    ``sig_prefix`` partition column — ``state.read_signature_table``), the
    join also keys on (band, sig_prefix): a broadcast batch side's key set
    then drives dynamic partition pruning, so a small batch reads only the
    committed partitions holding its candidate buckets."""
    keys = ["band", "band_sig"]
    if "sig_prefix" in committed_sigs.columns:
        from . import state

        band_rows = band_rows.withColumn(
            "sig_prefix", state.sig_prefix_col(F.col("band_sig"))
        )
        keys = ["band", "sig_prefix", "band_sig"]
    old = committed_sigs.select(
        F.col("doc_id").alias("dup_of"), F.col("sig").alias("sig_old"), *keys
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig"), F.col("sig_old"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size(F.col("sig"))
    ).cast("double")
    return (
        band_rows.join(old, keys)
        .select("doc_id", "dup_of", est.alias("est_jaccard"), *carry)
        .where(F.col("est_jaccard") >= EST_THRESHOLD)
    )


def incremental_near_dup(new_docs: DataFrame, committed_sigs: DataFrame) -> DataFrame:
    """Cross-batch near-dup: which NEW docs duplicate an already-committed
    doc. The production shape of dedup at scale — a batch is signed (narrow,
    batch-sized) and joined against the committed signature rows; the
    committed corpus is never re-shingled, and within-batch pairs are the
    separate near_dup_pairs concern.

    Verification uses the MinHash ESTIMATE (fraction of agreeing signature
    components — the standard sketch estimator of Jaccard), because at
    10^12 committed docs the raw shingle sets are not retained. Returns
    (doc_id, dup_of, est_jaccard) with doc_id from the new batch.

    The batch's band rows (``_signature_band_rows``, no skew guard: the
    committed table was guarded when written, which bounds candidate
    volume, and a wave of copies inside one batch must still match) are
    broadcast — the committed table is never shuffled, and against the
    persisted table the batch's keys prune its partitions — and matched by
    ``_band_matches``, the core ``incremental_dedup_stream`` runs too; a
    pair colliding in several bands is kept once."""
    batch = F.broadcast(_signature_band_rows(new_docs))
    return _band_matches(batch, committed_sigs).distinct()


#: window width (in tokens) for cross-document duplicated-window scoring —
#: the window-granular analog of exact-substring dedup (Lee et al. 2022,
#: "Deduplicating Training Data Makes Language Models Better"): substrings
#: this long shared across documents are near-certain boilerplate/copies,
#: not coincidence
DUP_WINDOW_TOKENS = 8


def _doc_window_counts_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, win, occ) per-doc DUP_WINDOW_TOKENS-window hash counts via
    one Arrow pass — the shuffle-free form of explode(ngram) -> 60-bit md5 ->
    groupBy(doc_id, win).count(): grouping keyed by (doc, window) is
    per-document local, so each task produces its docs' distinct counts
    with a python Counter instead of shipping every window occurrence
    through an exchange (the r5 plan's first and largest shuffle).
    Hashes are the exact ``token_hash_col(..., hex_chars=15)`` values
    (same md5 prefix, same tokenization via ``py_tokens``); docs with
    fewer than n tokens emit no rows, matching explode's inner-join
    semantics. Pinned by the ``dup_windows`` oracle."""
    import hashlib
    from collections import Counter

    from .textstats import py_tokens

    n = DUP_WINDOW_TOKENS

    def rows(doc_id, text):
        toks = py_tokens(text)
        cnt = Counter(
            int(hashlib.md5(" ".join(toks[i:i + n]).encode()).hexdigest()[:15], 16)
            for i in range(len(toks) - n + 1)
        )
        for win, occ in cnt.items():
            yield doc_id, win, occ

    return arrowmap.map_rows(
        schemas.documents(docs), rows, "doc_id string, win bigint, occ bigint"
    )


def dup_window_coverage(docs: DataFrame) -> DataFrame:
    """Per-document cross-corpus duplication signal: the fraction of the
    doc's DUP_WINDOW_TOKENS-token windows that also occur in at least one
    OTHER document (plus the distinct shared-window count). Doc-level MinHash finds
    whole-document near-copies; THIS finds shared boilerplate runs inside
    otherwise-distinct documents — the signal exact-substring dedup cuts
    on, at window granularity (window-fraction, not merged-interval
    character coverage: the ranking is the same and the aggregation needs
    no interval union).

    Scale shape: per-(doc, window) counts come from the Arrow Counter
    kernel (``_doc_window_counts_arrow`` — the grouping is doc-local, so
    no exchange), with every window collapsed to a 60-bit md5-prefix
    integer so downstream shuffles carry (doc_id, bigint) instead of a
    ~50-char string. The per-window doc count is ``count(*) over
    (partition by win)`` — per_doc_win rows are distinct per (doc, win),
    so the window count IS n_docs_with — and the plan is exactly 2
    skinny-row exchanges (win, then doc_id) with no vocabulary-sized join
    build side. Nothing is pairwise; an md5 collision would need ~2^30
    distinct shared windows per partition-of-interest (birthday bound) and
    is deterministic and engine-identical anyway, so the oracle stays
    bit-exact. Docs shorter than DUP_WINDOW_TOKENS tokens have no windows
    and emit no row."""
    per_doc_win = _doc_window_counts_arrow(docs)
    counted = per_doc_win.withColumn(
        "n_docs_with", F.count(F.lit(1)).over(Window.partitionBy("win"))
    )
    return (
        counted.groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_docs_with") > 1, F.col("occ")).otherwise(0))
            .cast("bigint").alias("dup_windows"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
            .cast("bigint").alias("distinct_shared_windows"),
        )
        .select(
            "doc_id", "n_windows", "dup_windows", "distinct_shared_windows",
            (F.col("dup_windows") / F.col("n_windows")).alias("dup_window_frac"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the
    near-dup pair graph, labeling every vertex with the minimum doc id
    reachable from it — the step a release pipeline runs after pair
    generation (near-dup is transitive in effect: A~B and B~C must
    collapse to ONE canonical doc even when A~C was never emitted).

    Classic distributed min-label propagation: each round every vertex
    takes the min of its own label and its neighbors' labels (one join
    per direction + a groupBy-min), converging in O(component diameter)
    rounds — near-dup clusters are shallow (stars/chains around a few
    templates), so a handful of rounds closes 10^12-scale graphs too
    (the large-star/small-star optimization of Kiveris et al. exists for
    adversarial diameters; the plan shape here is the standard one).
    Each round ends in ``localCheckpoint`` to truncate the iterative
    lineage (on a cluster: checkpoint to durable storage), and
    convergence is detected by counting changed labels (one small action
    per round). Raises after ``max_iter`` rounds instead of returning a
    silently-partial labeling.

    ``pairs`` holds the ``doc_a`` / ``doc_b`` edges ``near_dup_pairs``
    emits. Returns (doc_id, cluster_id) for every vertex that appears in a
    pair; singletons never enter the graph and keep themselves as canonical
    by construction."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds the bound; raise max_iter"
    )
