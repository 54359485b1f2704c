"""Engine-vs-oracle parity on an ADVERSARIAL mini-corpus the generated
testdata never produces: NUL-bearing text (F5 scrub path), empty text,
whitespace-only text, and sentence boundaries (``[.!?] ``). Every
documents-only query must agree with its DuckDB twin on row count and
values — these were real latent asymmetries found in
round-2 review (pages-CTE scrub, zero-chunk boilerplate, zero-span covers,
zero-token reading order). The same check runs on the sf0.001 corpus for the
kernel-backed similarity/dedup/tfidf operators, whose only second
implementation is the oracle, and on both corpora for the default
extraction kernel's structure column."""

from __future__ import annotations

import tempfile

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from conftest import SF_DIR
from text_extraction_system_spark import pipeline

DOCS = pd.DataFrame(
    {
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            "abc\x00def words here to fill the doc with content",
            "",
            "   ",
            "normal words only document",
            "\x00 lone nul then words follow here",
            "The first sentence ends here. Does the second one ask? "
            "Yes it does! Then a fourth without end",
        ],
        "lang": ["en"] * 6,
        "source": ["srcX"] * 6,
        "n_chars": [49, 0, 3, 26, 34, 93],
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
    _assert_equals_oracle(entry.queries()[name](spark, data_dir), con, name)


def _assert_equals_oracle(q, con, name: str) -> None:
    """DataFrame ``q`` equals the DuckDB oracle of query ``name`` on ``con``."""
    _assert_equals_sql(q, con, entry.oracle_sql()[name], name)


def _assert_equals_sql(q, con, sql: str, name: str) -> None:
    """DataFrame ``q`` equals DuckDB's ``sql`` on ``con``: same row count,
    same values (compared as sorted strings)."""
    cols = q.columns
    sdf = q.toPandas().sort_values(by=cols).reset_index(drop=True).astype(str)
    odf = (
        con.execute(sql).df()[cols]
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
def null_id_duck(spark):
    """Two 200-word documents, one with a NULL ``doc_id``."""
    d = tempfile.mkdtemp()
    text = " ".join(f"w{i}" for i in range(200))
    spark.createDataFrame(
        [(None, text, "en", "srcX", len(text)), (7, text, "en", "srcX", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    return d, con


@pytest.mark.parametrize("name", [
    "spans_derive", "ocr_route", "ocr_route_pages", "extract_restitch",
    "rotation", "media_rotate", "plain_text", "pages", "paragraphs",
    "sentences", "titles", "sections", "boilerplate", "token_count",
    "token_count_bpe", "lang_id", "quality", "fingerprint", "simhash",
    "split_assign", "pack_bins", "char_coords", "text_coords", "coords_text",
    "deskew", "repetition", "reading_order",
])
def test_null_doc_id_parity(spark, null_id_duck, name):
    """A NULL ``doc_id`` has no media key, so its document derives text
    spans only, and its covers count that text, in both engines. The
    engine keeps the NULL-id document's rows, so the oracle joins on
    ``doc_id`` null-safely, and hashes a NULL id as the engine's
    ``concat_ws`` does (``split_assign``, ``pack_bins``). Nor has it a
    column hash: its reading-order page is one column."""
    d, con = null_id_duck
    _assert_parity(spark, con, d, name)


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
    # user 4: two events one microsecond past the gap, which must split
    for dt in [pd.Timedelta(0), pd.Timedelta(seconds=1800, microseconds=1)]:
        rows.append((eid, base + dt, 4, "view", 0.5, "{}"))
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
    events exactly at the session-gap boundary (merged) and 1 µs past it
    (split) must not diverge."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _assert_parity(spark, ev_duck, ev_dir, name)


#: operators whose Arrow/numpy kernel is the only Spark implementation —
#: the oracle is their independent second one. ``ann_ivf_trained`` replays
#: every Lloyd cell assignment; ``media_near_dup`` is the 16-dim SRP case.
KERNEL_QUERIES = [
    "tfidf_keywords", "dup_windows", "near_dup_pairs", "incremental_dedup",
    "ann_topk", "ann_ivf_topk", "ann_ivf_trained", "ann_pq_topk",
    "ann_pq_rerank", "ann_ivf_pq", "emb_near_dup", "media_near_dup",
    "ann_lsh_topk", "incremental_ann",
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


def _kernel_structure(spark, data_dir: str, name: str):
    """The kernel's ``structure`` column shaped into the columns of query
    ``name``."""
    res = pipeline.extract_from_documents(spark.read.parquet(f"{data_dir}/documents.parquet"))
    if name == "titles":
        return res.select("doc_id", F.col("structure.title").alias("title"))
    return entry._structure_rows(res, name, {"paragraphs": "par", "sentences": "sent"}[name])


@pytest.mark.parametrize("corpus", ["edge", "sf"])
@pytest.mark.parametrize("name", ["paragraphs", "sentences", "titles"])
def test_kernel_structure_parity(spark, edge_dir, duck, sf_duck, corpus, name):
    """The kernel's ``structure`` column against the DuckDB segmentation
    oracles, on the unspread scan: ``paragraphs`` and ``sentences`` are
    this explode, and ``titles`` (the first paragraph of the plain text)
    must agree with the kernel's ``structure.title``."""
    data_dir, con = (edge_dir, duck) if corpus == "edge" else (SF_DIR, sf_duck)
    _assert_equals_oracle(_kernel_structure(spark, data_dir, name), con, name)


@pytest.mark.parametrize("budget", [1 << 31, 1 << 40])
def test_mixture_plan_large_budget(spark, edge_dir, duck, monkeypatch, budget):
    """Token budgets at and past 2^31 on a one-source corpus (so the target
    is the whole budget): target * 2^32 no longer overflows 64 bits in
    either engine, the rate follows the integer formula exactly, and the
    engine equals its oracle."""
    monkeypatch.setattr(entry, "MIXTURE_BUDGET", budget)
    rows = entry.queries()["mixture_plan"](spark, edge_dir).collect()
    assert [r["target_tokens"] for r in rows] == [budget]
    for r in rows:
        assert r["rate_32"] == min(1 << 32, budget * (1 << 32) // r["tokens_avail"])
    _assert_parity(spark, duck, edge_dir, "mixture_plan")


#: the queries built on the one-pass curate operators (funnel, near-dup,
#: decontamination, TF-IDF) plus ``dup_clusters``, which consumes near-dup
CURATE_QUERIES = [
    "curation_funnel", "near_dup_pairs", "dup_clusters", "decontaminate",
    "tfidf_keywords",
]

_NEAR = " ".join(f"tok{i}" for i in range(30))
_EN = (
    "the quick brown fox jumps over the lazy dog and then it runs to the "
    "river in the morning of a long summer day that was warm for everyone"
)


def _curate_rows() -> list[tuple]:
    """A bucket hotter than MAX_BUCKET (identical docs 1..71), a planted
    near-dup pair (97, 98; Jaccard 27/29), NULL, whitespace-only and
    two-word texts, and two copies of one English text where the smaller
    doc_id (300) fails the language gate, and one kept doc with a NULL
    source. Doc ids 97 and 194 fall in the decontamination eval split."""
    from text_extraction_system_spark.operators import dedup

    hot = "this boilerplate line is repeated verbatim in every document of the hot bucket"
    rows = [(i, hot, "en", "hot") for i in range(1, dedup.MAX_BUCKET + 8)]
    return rows + [
        (97, _NEAR, "en", "near"),
        (98, _NEAR.replace("tok29", "tokX"), "en", "near"),
        (194, "two words", "en", "short"),
        (195, None, "en", "short"),
        (196, " \t\n ", "en", "short"),
        (300, _EN, "de", "lang"),
        (301, _EN, "en", "lang"),
        (302, _EN + " again", "en", None),
    ]


def _corpus(spark, rows: list[tuple]) -> tuple[str, duckdb.DuckDBPyConnection]:
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    return d, con


@pytest.fixture(scope="module")
def curate_corpus(spark):
    return _corpus(spark, _curate_rows())


@pytest.mark.parametrize("name", CURATE_QUERIES)
def test_curate_edge_parity(spark, curate_corpus, name):
    _assert_parity(spark, curate_corpus[1], curate_corpus[0], name)


def test_curate_edge_corpus_reaches_each_case(spark, curate_corpus):
    """The corpus exercises what it is built for: the hot bucket yields no
    pair while the planted one is verified, only the kept copy of the
    language-gated text survives dedup, the NULL source keeps its survivor,
    the eval doc with shingles contaminates its near copy, and TF-IDF's
    n_docs skips the NULL and whitespace-only docs."""
    d = curate_corpus[0]
    q = entry.queries()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in q["near_dup_pairs"](spark, d).collect()}
    assert pairs[("97", "98")] == 27 / 29
    assert not any(int(a) < 97 for a, _ in pairs)  # the hot bucket pairs nothing
    funnel = {r["source"]: r for r in q["curation_funnel"](spark, d).collect()}
    assert (funnel["lang"]["n_lang"], funnel["lang"]["n_deduped"]) == (1, 1)
    assert funnel["lang"]["tokens_kept"] == 29
    assert funnel[None]["n_deduped"] == 1
    decon = [tuple(r) for r in q["decontaminate"](spark, d).collect()]
    assert decon == [("98", 27, 28, 27 / 28)]
    tfidf = q["tfidf_keywords"](spark, d).collect()
    assert {r["doc_id"] for r in tfidf} >= {"97", "194", "300"}
    assert not {r["doc_id"] for r in tfidf} & {"195", "196"}
    # "tokx" occurs in one doc: score = tf * (1e6 * n_docs div 1), n_docs
    # counting every doc with a token (71 + 2 + 1 + 3 = 77)
    assert {r["score"] for r in tfidf if r["token"] == "tokx"} == {77_000_000}


@pytest.mark.parametrize("k", [1, 3, 50])
def test_tfidf_stopword_corpus_parity(spark, k):
    """One token in 95 of 100 docs (the stopword hot key a per-token
    window would pile onto one task), repeated words, and two words only
    each doc holds (a score tie for its top rank, which the token breaks):
    the engine equals the oracle at k=1, at the query's k=3,
    and at a k past every doc's vocabulary (each doc then gives one row
    per distinct token)."""
    from text_extraction_system_spark.operators import textstats

    rows = [
        (i, ("The " if i % 20 else "") + f"w{i % 7} w{i % 7} z{i} x{i} y{i % 3}", "en", "s")
        for i in range(100)
    ]
    d, con = _corpus(spark, rows)
    q = textstats.tfidf_keywords(spark.read.parquet(f"{d}/documents.parquet"), k=k)
    sql = entry.oracle_sql()["tfidf_keywords"].replace("WHERE rank <= 3", f"WHERE rank <= {k}")
    _assert_equals_sql(q, con, sql, f"tfidf_keywords k={k}")
    got = q.collect()
    if k == 50:
        assert {r["df"] for r in got if r["token"] == "the"} == {95}
        assert len(got) == sum(len(set(t.lower().split())) for _, t, _, _ in rows)


@pytest.mark.parametrize("texts", [[], ["", " ", "\t\n\x0b", None]], ids=["empty", "blank"])
def test_tfidf_without_tokens_is_empty(spark, texts):
    """A corpus with no document, and one whose documents have no token,
    give zero TF-IDF rows in both engines."""
    d, con = _corpus(spark, [(i, t, "en", "s") for i, t in enumerate(texts)])
    _assert_parity(spark, con, d, "tfidf_keywords")
    assert entry.queries()["tfidf_keywords"](spark, d).count() == 0


def test_incremental_dedup_wave_parity(spark):
    """A wave of MAX_BUCKET + 1 identical new docs (doc_id % 3 == 0), each
    a near-copy of the one committed doc: the batch side's bucket is over
    the cap, and both engines still match every wave doc (only the
    committed side is guarded)."""
    from text_extraction_system_spark.operators import dedup

    rows = [(1, _EN, "en", "s")] + [
        (3 * (i + 1), _EN + " again", "en", "s") for i in range(dedup.MAX_BUCKET + 1)
    ]
    d, con = _corpus(spark, rows)
    got = entry.queries()["incremental_dedup"](spark, d).collect()
    assert len(got) == dedup.MAX_BUCKET + 1 and {r["dup_of"] for r in got} == {"1"}
    _assert_parity(spark, con, d, "incremental_dedup")


@pytest.mark.parametrize("name", ["curation_funnel", "release_manifest"])
def test_exact_dedup_survivor_skips_null_id(spark, name):
    """Two kept copies of one text, ids NULL and 7, in different sources:
    exact dedup keeps doc 7 in both engines (a NULL id ranks last), so
    source ``b`` holds the survivor. Two NULL-id copies of one text keep
    one (the oracle ranks too, as ``curation.first_copy`` does), and two
    NULL-id survivors of distinct texts give one manifest row each."""
    q = entry.queries()[name]
    d, con = _corpus(spark, [(None, _EN, "en", "a"), (7, _EN, "en", "b")])
    _assert_parity(spark, con, d, name)
    rows = q(spark, d).collect()
    if name == "curation_funnel":
        assert {r["source"]: r["n_deduped"] for r in rows} == {"a": 0, "b": 1}
    else:
        assert [(r["doc_id"], r["source"]) for r in rows] == [("7", "b")]
    d, con = _corpus(spark, [(None, _EN, "en", "a"), (None, _EN, "en", "a")])
    _assert_parity(spark, con, d, name)
    rows = q(spark, d).collect()
    if name == "curation_funnel":
        assert [(r["n_tokens_ok"], r["n_deduped"], r["tokens_kept"]) for r in rows] == [(2, 1, 29)]
    else:
        assert [(r["doc_id"], r["n_tokens"]) for r in rows] == [(None, 29)]
    d, con = _corpus(spark, [(None, _EN, "en", "a"), (None, _EN + " again", "en", "a")])
    _assert_parity(spark, con, d, name)
    rows = q(spark, d).collect()
    if name == "release_manifest":
        assert sorted(r["n_tokens"] for r in rows) == [29, 30]


def test_decontaminate_eval_without_shingles(spark):
    """An eval split whose docs have no 3-shingle (empty, NULL, two words)
    contaminates nothing: zero rows, as in the oracle."""
    d, con = _corpus(spark, [
        (1, _NEAR, "en", "s"), (2, _EN, "en", "s"),
        (97, "", "en", "s"), (194, None, "en", "s"), (291, "a b", "en", "s"),
    ])
    _assert_parity(spark, con, d, "decontaminate")
    assert entry.queries()["decontaminate"](spark, d).count() == 0
