"""Engine-vs-oracle parity on an ADVERSARIAL mini-corpus the generated
testdata never produces: NUL-bearing text (F5 scrub path), empty text,
whitespace-only text. Every documents-only query must agree with its DuckDB
twin on row count and values — these were real latent asymmetries found in
round-2 review (pages-CTE scrub, zero-chunk boilerplate, zero-span covers,
zero-token reading order). The same check runs on the sf0.001 corpus for the
kernel-backed similarity/dedup/tfidf operators, whose only second
implementation is the oracle."""

from __future__ import annotations

import tempfile

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry
from conftest import SF_DIR

DOCS = pd.DataFrame(
    {
        "doc_id": [1, 2, 3, 4, 5],
        "text": [
            "abc\x00def words here to fill the doc with content",
            "",
            "   ",
            "normal words only document",
            "\x00 lone nul then words follow here",
        ],
        "lang": ["en"] * 5,
        "source": ["srcX"] * 5,
        "n_chars": [49, 0, 3, 26, 34],
    }
)

DOC_ONLY_QUERIES = [
    "spans_derive", "ocr_route", "ocr_route_pages", "extract_restitch",
    "plain_text", "pages", "paragraphs", "sentences", "titles", "sections",
    "boilerplate", "token_count", "token_count_bpe", "lang_id", "quality",
    "fingerprint", "simhash", "exact_dedup", "near_dup_pairs", "decontaminate", "split_assign", "pack_bins",
    "incremental_dedup", "release_manifest", "rotation",
    "media_decode", "media_features", "media_near_dup", "tables", "char_coords", "text_coords",
    "coords_text", "sections_toc", "deskew", "reading_order",
    "curation_funnel", "repetition",
]


def _assert_parity(spark, con, data_dir: str, name: str) -> None:
    """Query ``name`` over ``data_dir`` equals its DuckDB oracle on ``con``:
    same row count, same values (compared as sorted strings)."""
    q = entry.queries()[name](spark, data_dir)
    cols = q.columns
    sdf = q.toPandas().sort_values(by=cols).reset_index(drop=True).astype(str)
    odf = (
        con.execute(entry.oracle_sql()[name]).df()[cols]
        .sort_values(by=cols).reset_index(drop=True).astype(str)
    )
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)} rows"
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)


@pytest.fixture(scope="module")
def edge_dir(spark):
    d = tempfile.mkdtemp()
    spark.createDataFrame(DOCS).write.parquet(f"{d}/documents.parquet")
    return d


@pytest.fixture(scope="module")
def duck(edge_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", DOC_ONLY_QUERIES)
def test_edge_corpus_parity(spark, edge_dir, duck, name):
    _assert_parity(spark, duck, edge_dir, name)


EMB_QUERIES = ["ann_topk", "ann_lsh_topk", "ann_ivf_topk", "emb_near_dup"]


@pytest.fixture(scope="module")
def emb_dir(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [rng.randn(64).astype("float32") for _ in range(30)]
    vecs[3] = np.zeros(64, dtype="float32")   # zero norm -> NULL cosine
    vecs[5] = vecs[4].copy()                  # exact duplicate -> cosine-1 tie
    vecs[21] = -vecs[20]                      # antipode -> cosine -1
    pdf = pd.DataFrame(
        {"vec_id": range(30), "embedding": [v.tolist() for v in vecs], "label": [0] * 30}
    )
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.parquet(f"{d}/embeddings.parquet")
    return d


@pytest.fixture(scope="module")
def emb_duck(emb_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{emb_dir}/embeddings.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_edge_embeddings_parity(spark, emb_dir, emb_duck, name):
    """Zero-norm vectors (NULL cosine via try_divide, sorted last under DESC
    in both engines), exact duplicates (cosine-1 ties) and antipodes must not
    diverge the similarity queries — a zero embedding previously raised
    ANSI DIVIDE_BY_ZERO and killed the job."""
    _assert_parity(spark, emb_duck, emb_dir, name)


EVENT_QUERIES = ["sessionize", "tumbling"]


@pytest.fixture(scope="module")
def ev_dir(spark):
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    eid = 0
    # user 1: two events at the SAME timestamp (tie broken by event_id),
    # then a gap larger than the session window
    for dt_min in [0, 0, 500]:
        rows.append((eid, base + pd.Timedelta(minutes=dt_min), 1, "click", 1.5, "{}"))
        eid += 1
    # user 2: single event
    rows.append((eid, base, 2, "view", 0.25, "{}")); eid += 1
    # user 3: events exactly at the session-gap boundary spacing
    for k in range(3):
        rows.append((eid, base + pd.Timedelta(seconds=k * 1800), 3, "click", 2.0, "{}"))
        eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    return d


@pytest.fixture(scope="module")
def ev_duck(ev_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{ev_dir}/events.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_edge_events_parity(spark, ev_dir, ev_duck, name):
    """Timestamp ties (ordering falls to event_id), single-event users, and
    events exactly at the session-gap boundary must not diverge."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _assert_parity(spark, ev_duck, ev_dir, name)


#: operators whose Arrow/numpy kernel is the only Spark implementation —
#: the oracle is their independent second one. ``ann_ivf_trained`` replays
#: every Lloyd cell assignment; ``media_near_dup`` is the 16-dim SRP case.
KERNEL_QUERIES = [
    "tfidf_keywords", "dup_windows", "near_dup_pairs", "incremental_dedup",
    "ann_topk", "ann_ivf_topk", "ann_ivf_trained", "ann_pq_topk",
    "ann_pq_rerank", "ann_ivf_pq", "emb_near_dup", "media_near_dup",
    "simhash", "repetition", "reading_order", "media_rotate",
]


@pytest.fixture(scope="module")
def sf_duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", KERNEL_QUERIES)
def test_sf_kernel_parity(spark, sf_duck, name):
    _assert_parity(spark, sf_duck, SF_DIR, name)
