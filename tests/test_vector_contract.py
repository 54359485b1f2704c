"""The similarity operators' one input contract: a ``vec_id`` column, an
``embedding`` column, and the vector width taken from the data.

Everything here runs on a 16-wide synthetic corpus (the media feature
width, not the 64-wide embeddings corpus) and passes no width anywhere: a
path that still assumed 64 components would train zero-width PQ blocks,
bucket with the wrong planes or fail outright.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from text_extraction_system_spark.operators import similarity, state

WIDTH, N = 16, 200


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(16)
    X = rng.normal(size=(N, WIDTH)).astype(np.float32)
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id bigint, embedding array<float>",
    )


@pytest.fixture(scope="module")
def trained(emb):
    return similarity.ivf_train(emb, n_centroids=8, iters=1), similarity.pq_train(emb, iters=1)


def test_training_takes_the_width_from_the_data(trained):
    cents, books = trained
    assert len(cents) == 8 and all(len(c) == WIDTH for c in cents)
    assert len(books) == similarity.PQ_BLOCKS
    assert [len(b) for b in books] == [similarity.PQ_CENTROIDS] * similarity.PQ_BLOCKS
    assert {len(c) for b in books for c in b} == {WIDTH // similarity.PQ_BLOCKS}


def test_srp_planes_take_the_width_of_the_batch(emb):
    """Bucket bits are the signs of the vector against
    ``srp_plane_values(16, ...)``, recomputed here in numpy."""
    rows = emb.orderBy("vec_id").limit(5).collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    P = np.asarray(similarity.srp_plane_values(
        WIDTH, similarity.N_BANDS * similarity.PLANES_PER_BAND))
    bits = np.where(X @ P.T >= 0, "1", "0")
    ppb = similarity.PLANES_PER_BAND
    want = {
        (r["vec_id"], b, "".join(bits[i, b * ppb:(b + 1) * ppb]))
        for i, r in enumerate(rows) for b in range(similarity.N_BANDS)
    }
    got = {
        (r["vid"], r["band"], r["bucket"])
        for r in similarity.srp_banded_buckets(emb).where(F.col("vid") < 5).collect()
    }
    assert got == want


ENTRY_POINTS = {
    "brute_force_topk": lambda e, c, b: similarity.brute_force_topk(e),
    "srp_lsh_topk": lambda e, c, b: similarity.srp_lsh_topk(e),
    "ivf_topk": lambda e, c, b: similarity.ivf_topk(e),
    "ivf_topk_trained": lambda e, c, b: similarity.ivf_topk(e, centroids=c),
    "pq_topk": lambda e, c, b: similarity.pq_topk(e, b),
    "pq_topk_rerank": lambda e, c, b: similarity.pq_topk(e, b, rerank=20),
    "ivf_pq_topk": lambda e, c, b: similarity.ivf_pq_topk(e, c, b),
}


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_ann_entry_points_serve_16_wide_vectors(emb, trained, name):
    """Every serving path runs on 16-wide vectors and ranks at most k
    distinct neighbors per query, densely from 1."""
    rows = ENTRY_POINTS[name](emb, *trained).collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert q < 20
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1)) and len(rs) <= 5
        assert len({r["cand_id"] for r in rs}) == len(rs)


def test_exhaustive_ivf_equals_brute_force(emb):
    """Probing every hash cell scores the whole corpus, so the top-k is the
    exact one."""
    def snap(df):
        return {(r["query_id"], r["cand_id"], r["rank"]) for r in df.collect()}

    ivf = similarity.ivf_topk(emb, n_probe=similarity.IVF_CENTROIDS)
    assert snap(ivf) == snap(similarity.brute_force_topk(emb))


def test_persisted_buckets_serve_like_the_in_memory_table(spark, emb, tmp_path):
    committed = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 80))
    state.write_srp_buckets(committed, str(tmp_path))

    def snap(buckets):
        df = similarity.incremental_ann_topk(batch, buckets, committed)
        return {(r["query_id"], r["cand_id"], r["rank"], f"{r['cosine']:.9g}")
                for r in df.collect()}

    got = snap(state.read_srp_buckets(spark, str(tmp_path)))
    assert got and got == snap(similarity.srp_banded_buckets(committed))


@pytest.mark.parametrize("train", [similarity.ivf_train, similarity.pq_train])
def test_training_on_no_vectors_raises(emb, train):
    with pytest.raises(ValueError, match="no vectors"):
        train(emb.where("vec_id < 0"))
