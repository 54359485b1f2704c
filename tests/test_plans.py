"""Physical-plan shape assertions — the 100 TB posture, enforced by tests.

These pin the properties that make the engine scale, so a refactor that
silently adds a shuffle or breaks column pruning fails CI:

* column pruning reaches the parquet scan (ReadSchema carries only used cols)
* extraction from spans is shuffle-free (no Exchange)
* every extraction entry point is one narrow mapInArrow stage, and every
  declared extraction query one kernel pass
* every Python kernel crosses the boundary as mapInArrow (arrowmap)
* dimension joins broadcast (BroadcastHashJoin, no SortMergeJoin)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from text_extraction_system_spark import pipeline
from text_extraction_system_spark.operators import spans as spans_op

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(spans_op.derive_spans(docs))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    # unused columns must not be read
    assert "lang" not in read_schema and "source" not in read_schema


def test_inline_path_is_shuffle_free(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spans = spans_op.derive_spans(docs)
    assembled = pipeline.extract_from_spans(spans, with_structure=False)
    plan = _plan(assembled)
    assert "Exchange" not in plan, plan


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Bucketed tables join with zero shuffles — the co-located-join storage
    strategy for doc_id-keyed joins at scale."""
    from text_extraction_system_spark.operators import bucketing

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text"
    )
    stats = docs.selectExpr("doc_id", "length(text) as n_chars")
    bucketing.write_bucketed(docs, "bk_docs", num_buckets=4)
    bucketing.write_bucketed(stats, "bk_stats", num_buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketing.bucketed_join(spark, "bk_docs", "bk_stats")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_docs")
        spark.sql("DROP TABLE IF EXISTS bk_stats")


def test_ann_topk_no_pair_join_two_exchanges(spark):
    """r6 shape: the vectorized scorer removed the pair join — candidates
    never join; the only Exchanges are the unsplittable-input spread and
    the tiny partial-top-k ranking shuffle, and no per-pair HOF cosine
    remains in the plan."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["ann_topk"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert "zip_with" not in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    """A doc_id predicate must reach the parquet reader as PushedFilters —
    partition/row-group pruning is what makes selective reads cheap at
    100 TB."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id = 42")
    plan = _plan(spans_op.derive_spans(docs))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "doc_id" in pushed and "42" in pushed, pushed


def test_ivf_topk_shape_and_plan(spark):
    """IVF ANN: no pair join (r6 vectorized scorer — probe sets ride inside
    the kernel), probes are distinct cells (no pair scored twice), ranks
    are dense 1..k per query."""
    from text_extraction_system_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.ivf_topk(emb, n_queries=5, k=3)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        assert len({x["cand_id"] for x in rs}) == len(rs)


def test_srp_bucket_space_and_skew_guard(spark):
    """Scale posture of the banded SRP LSH: every bucket key is one band's
    PLANES_PER_BAND sign bits (a 2^PLANES_PER_BAND-wide key space per band,
    not the round-1 flat 16-bucket table), and after the MAX_BUCKET guard
    no (band, bucket) key exceeds the cap — the properties that bound the
    self-join at 10^9+ vectors."""
    from text_extraction_system_spark.operators import dedup, similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = similarity.srp_banded_buckets(emb).groupBy("band", "bucket").count().collect()
    assert {r["band"] for r in rows} == set(range(similarity.N_BANDS))
    assert all(len(r["bucket"]) == similarity.PLANES_PER_BAND for r in rows)
    assert all(r["count"] <= dedup.MAX_BUCKET for r in rows)
    assert similarity.N_BANDS * similarity.PLANES_PER_BAND >= 16


def test_srp_candidates_subset_of_all_pairs_and_verified(spark):
    """Banded candidates feed an exact-cosine verify: every emitted pair
    meets the threshold, and a pair colliding in several bands appears once."""
    from text_extraction_system_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = similarity.srp_near_dup_pairs(emb, threshold=0.3).collect()
    seen = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(seen) == len(pairs)  # no duplicate pairs from the band union
    assert all(r["cosine"] >= 0.3 for r in pairs)
    assert all(r["id_a"] < r["id_b"] for r in pairs)


@pytest.mark.parametrize("query", ["ann_lsh_topk", "emb_near_dup"])
def test_srp_query_runs_the_kernel_once(spark, monkeypatch, query):
    """Both SRP queries read their bucket table twice (``srp_lsh_topk``'s
    query and candidate sides, ``srp_candidate_pairs``' self-join) through
    one lazy localCheckpoint (``similarity._bucket_table``): the SRP kernel
    is one MapInArrow, in the checkpointed plan, and the query's own plan
    holds none (without the checkpoint ``ann_lsh_topk`` holds two)."""
    import __spark_entry__ as e

    cls = type(spark.range(1))
    real = cls.localCheckpoint
    checkpointed = []

    def recording(self, *args, **kwargs):
        checkpointed.append(_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    plan = _plan(e.queries()[query](spark, SF))
    assert "MapInArrow" not in plan, plan
    assert [p.count("MapInArrow") for p in checkpointed] == [1], checkpointed


def _inertia(X, cents) -> float:
    """Mean squared L2 distance of each row of X to its nearest centroid."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)
    return float(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).mean())


def test_ivf_training_descends(spark):
    """Each distributed Lloyd step must not increase the k-means inertia
    (and on real data the first one strictly decreases it) — checked in
    numpy against the trained quantizers for 0, 1 and 2 iterations."""
    import numpy as np

    from text_extraction_system_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    X = np.asarray([r["embedding"] for r in emb.orderBy("vec_id").collect()],
                   dtype=np.float64)
    cents = [similarity.ivf_train(emb, n_centroids=8, iters=i) for i in range(3)]
    i0, i1, i2 = (_inertia(X, c) for c in cents)
    assert i1 < i0
    assert i2 <= i1 * (1 + 1e-12)
    assert all(len(c) == 8 and all(len(v) == 64 for v in c) for c in cents)


def _jobs(spark, group: str, fn):
    """Spark jobs ``fn()`` triggers, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pq_training_jobs_do_not_grow_with_blocks(spark):
    """All PQ_BLOCKS codebooks train in one Lloyd loop: pq_train triggers
    no more Spark jobs than a one-block IVF training at equal iters."""
    from text_extraction_system_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ivf = _jobs(spark, "test-ivf-train", lambda: similarity.ivf_train(emb, iters=1))
    pq = _jobs(spark, "test-pq-train", lambda: similarity.pq_train(emb, iters=1))
    assert similarity.PQ_BLOCKS > 1
    assert 0 < pq <= ivf, (pq, ivf)


def _digest(obj) -> str:
    import hashlib

    h = hashlib.sha256()

    def walk(o):
        if isinstance(o, list):
            h.update(b"[")
            for x in o:
                walk(x)
            h.update(b"]")
        else:
            h.update(float(o).hex().encode() + b",")

    walk(obj)
    return h.hexdigest()


def test_tiny_corpus_trains_through_hash_padding(spark):
    """A corpus smaller than PQ_CENTROIDS seeds every block with its vectors
    and pads with hash centroids; the trained codebooks and IVF quantizer
    are pinned bit for bit by recorded digests (float.hex of every
    component), so drift in seeding, padding or the fold fails here."""
    from text_extraction_system_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where("vec_id < 10")
    assert 10 < similarity.PQ_CENTROIDS
    books = similarity.pq_train(emb)
    assert len(books) == similarity.PQ_BLOCKS
    assert all(len(b) == similarity.PQ_CENTROIDS for b in books)
    assert _digest(books) == (
        "4036735797c5e826f05a10cc34ee09122d4bd6bcf6835c2f0434e76a563b44ae"
    )
    assert _digest(similarity.ivf_train(emb, iters=2)) == (
        "c78ef8fc7b8f88e1abe17885b566b67fceb6eaa689c8d5b53781bb1c5c199644"
    )


def test_contamination_report_semantics_and_plan(spark):
    """Decontamination: a train doc quoting an eval 3-gram is flagged with
    the exact hit count; disjoint docs are absent; the train side is one
    Python pass with no join and no shuffle (the benchmark is small by
    nature, so its shingle set is built on the driver)."""
    from pyspark.sql import Row

    from text_extraction_system_spark.operators import dedup

    train = spark.createDataFrame(
        [
            Row(doc_id="t1", text="alpha beta gamma delta epsilon"),
            Row(doc_id="t2", text="zeta eta theta iota kappa"),
            Row(doc_id="t3", text="alpha beta gamma zeta eta theta"),
        ]
    )
    eval_docs = spark.createDataFrame(
        [Row(doc_id="e1", text="alpha beta gamma delta")]
    )
    rep = dedup.contamination_report(train, eval_docs)
    plan = _plan(rep)
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan and "Join" not in plan, plan
    rows = {r["doc_id"]: r for r in rep.collect()}
    # eval shingles: {alpha beta gamma, beta gamma delta}
    # t1 (3 shingles) hits both; t3 (4 shingles) hits only the first; t2 none
    assert set(rows) == {"t1", "t3"}
    assert rows["t1"]["n_hits"] == 2 and rows["t1"]["n_shingles"] == 3
    assert rows["t3"]["n_hits"] == 1 and rows["t3"]["n_shingles"] == 4
    assert abs(rows["t1"]["contamination"] - 2 / 3) < 1e-12


def test_funnel_evaluates_the_signal_pass_once(spark):
    """The funnel's stage counts and its dedup window read one signal
    pass: the plan has exactly one tokenize-and-signal Generate."""
    from text_extraction_system_spark.operators import curation

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(curation.funnel(docs))
    assert plan.count("Generate ") == 1, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize("name", ["near_dup_pairs", "tfidf_keywords"])
def test_curate_operators_do_not_checkpoint(spark, name):
    """near_dup_pairs and tfidf_keywords run as one plan: no
    localCheckpoint, whose RDD scan would show as ExistingRDD/LogicalRDD."""
    from text_extraction_system_spark.operators import dedup, textstats

    op = {"near_dup_pairs": dedup.near_dup_pairs,
          "tfidf_keywords": textstats.tfidf_keywords}[name]
    plan = _plan(op(spark.read.parquet(f"{SF}/documents.parquet")))
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def test_tfidf_ranks_inside_one_kernel(spark):
    """TF-IDF runs at most 3 jobs, its build-time document-frequency table
    included, and the plan it returns is one kernel pass that ranks each
    doc's tokens itself: one MapInArrow, no Exchange and no Window."""
    from text_extraction_system_spark.operators import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    jobs = _jobs(spark, "test-tfidf", lambda: textstats.tfidf_keywords(docs).write.format(
        "noop").mode("overwrite").save())
    assert 0 < jobs <= 3, jobs
    plan = _plan(textstats.tfidf_keywords(docs))
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_near_dup_pairs_verifies_candidates_only(spark):
    """Shingle sets are built only for candidate pairs, inside the verify
    kernel: no plan node carries (let alone broadcasts) a shingle-array
    column for all docs."""
    from text_extraction_system_spark.operators import dedup

    plan = _plan(dedup.near_dup_pairs(spark.read.parquet(f"{SF}/documents.parquet")))
    assert "shingles" not in plan, plan
    assert plan.count("MapInArrow") == 2, plan  # signatures, then verify


def test_split_assignment_stable_and_distributed(spark):
    """Split labels are per-doc deterministic (subset invariance: removing
    docs never reassigns survivors) and roughly follow the weights."""
    from text_extraction_system_spark.operators import splits

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    full = {r["doc_id"]: r["split"] for r in splits.assign_splits(docs).collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in splits.assign_splits(docs.limit(250)).collect()
    }
    assert all(full[d] == s for d, s in half.items())  # subset invariance
    n = len(full)
    n_train = sum(1 for s in full.values() if s == "train")
    assert n_train / n > 0.9  # 98% weight, small-sample slack


def test_pack_bins_matches_global_window_and_fills(spark):
    """The two-level distributed prefix sum must reproduce the single
    global-window packing exactly (same (shard, ok) order), bins must be
    dense from 0, and every bin except the last must reach the budget."""
    from pyspark.sql.window import Window as W

    from text_extraction_system_spark.operators import splits, textstats

    budget = 500
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["bin"])
        for r in splits.pack_bins(docs, budget=budget).collect()
    }
    # single-window reference (the oracle formulation), computed in Spark
    ok = F.md5(F.concat_ws(":", F.lit("pack0"), F.col("doc_id")))
    ref_df = docs.select(
        "doc_id",
        "n_tokens",
        ok.alias("ok"),
        (F.conv(F.substring(ok, 1, 8), 16, 10).cast("bigint")
         % splits.PACK_SHARDS).alias("shard"),
    ).withColumn(
        "cum",
        F.sum("n_tokens").over(
            W.orderBy("shard", "ok", "doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    ref = {
        r["doc_id"]: (r["n_tokens"], (r["cum"] - r["n_tokens"]) // budget)
        for r in ref_df.collect()
    }
    assert got == ref
    # fill property: a PREFIX of bins always holds at least its budgets
    # (individual bins can be light when a straddling doc from the previous
    # bin consumed part of their range — that doc closes ITS bin instead)
    per_bin: dict[int, int] = {}
    for toks, b in got.values():
        per_bin[b] = per_bin.get(b, 0) + toks
    bins = sorted(per_bin)
    assert bins[0] == 0
    prefix = 0
    for b in bins[:-1]:
        prefix += per_bin[b]
        assert prefix >= (b + 1) * budget


def test_incremental_dedup_semantics(spark):
    """Cross-batch dedup: a new doc that is a near-copy of a committed doc is
    flagged with a high sketch estimate; an unrelated new doc is not; and
    the committed side is consumed as a SIGNATURE table (no raw text)."""
    from pyspark.sql import Row

    from text_extraction_system_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to hide from every hunter nearby today"
    )
    committed_docs = spark.createDataFrame(
        [Row(doc_id="old1", text=base), Row(doc_id="old2", text="totally different words entirely here now")]
    )
    new_docs = spark.createDataFrame(
        [
            Row(doc_id="new1", text=base + " extra tail"),  # near-copy of old1
            Row(doc_id="new2", text="unrelated content about spark plans and shuffles today"),
        ]
    )
    sigs = dedup.signature_rows(committed_docs)
    assert set(sigs.columns) == {"doc_id", "sig", "band", "band_sig"}
    rows = dedup.incremental_near_dup(new_docs, sigs).collect()
    got = {(r["doc_id"], r["dup_of"]): r["est_jaccard"] for r in rows}
    assert ("new1", "old1") in got and got[("new1", "old1")] >= 0.5
    assert all(d != "new2" for d, _ in got)


def test_pack_and_split_invariant_under_partitioning(spark):
    """Distributed-determinism property: physical layout (partition count,
    row order) must never change split labels or pack bins — the guarantee
    that a 1000-executor run and a laptop run emit the same release
    manifest. Repartitioned/shuffled input must produce identical output."""
    from text_extraction_system_spark.operators import splits, textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
    )
    variants = [
        docs,
        docs.repartition(17),
        docs.repartition(3, "n_tokens").sortWithinPartitions(F.col("doc_id").desc()),
    ]
    packs = [
        {r["doc_id"]: r["bin"] for r in splits.pack_bins(v, budget=777).collect()}
        for v in variants
    ]
    assert packs[0] == packs[1] == packs[2]
    labels = [
        {r["doc_id"]: r["split"] for r in splits.assign_splits(v).collect()}
        for v in variants
    ]
    assert labels[0] == labels[1] == labels[2]


def test_repetition_chain_path_matches_oracle(spark, tmp_path):
    """The giant-doc numpy rolling-key path and the Counter path both
    match the ``repetition`` DuckDB oracle: one doc above
    NP_CHAIN_MIN_TOKENS and one below, each with engineered line and
    n-gram repeats."""
    import duckdb

    from test_oracle_edge_corpus import _assert_parity

    from text_extraction_system_spark.operators import textstats

    words = [f"w{i % 97}" for i in range(5000)] + ["alpha", "beta"] * 40
    small_words = words[:2000] + ["alpha", "beta"] * 40
    assert len(small_words) < textstats.NP_CHAIN_MIN_TOKENS < len(words)
    spark.createDataFrame(
        [(1, "line one\nline one\n" + " ".join(words)),
         (2, "line one\nline one\n" + " ".join(small_words))],
        "doc_id long, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    _assert_parity(spark, con, str(tmp_path), "repetition")


def test_tfidf_and_dup_windows_semantics(spark):
    """Hand-computed cases for the two corpus-level ops: TF-IDF ranks a
    doc-specific repeated term above corpus-wide terms (fixed-point
    integer IDF), and dup_window_coverage flags exactly the windows shared
    across docs."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import dedup, textstats

    docs = spark.createDataFrame(
        [("a", "zebra zebra common common common"),
         ("b", "common common common apple pie"),
         ("c", "common pie crust")],
        "doc_id string, text string",
    )
    rows = textstats.tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc a: zebra tf=2 df=1 -> score 2*(3e6/1)=6e6; common tf=3 df=3 -> 3*1e6
    a = {r["rank"]: (r["token"], r["score"]) for r in by_doc["a"]}
    assert a[1] == ("zebra", 6_000_000)
    assert a[2] == ("common", 3_000_000)
    # doc c: crust df=1 -> 3_000_000 beats pie df=2 -> 1_500_000
    c = {r["rank"]: r["token"] for r in by_doc["c"]}
    assert c[1] == "crust" and c[2] == "pie"

    w = " ".join
    shared = w(f"s{i}" for i in range(8))           # 8-token run in both
    d1 = shared + " x1 x2 x3"
    d2 = "y0 " + shared + " y1"
    d3 = w(f"z{i}" for i in range(10))              # no overlap
    docs2 = spark.createDataFrame(
        [("1", d1), ("2", d2), ("3", d3)], "doc_id string, text string"
    )
    got = {r["doc_id"]: r for r in dedup.dup_window_coverage(docs2).collect()}
    # d1: 11 tokens -> 4 windows, only the exact shared window duplicated
    assert got["1"]["n_windows"] == 4
    assert got["1"]["dup_windows"] == 1
    assert got["1"]["distinct_shared_windows"] == 1
    assert abs(got["1"]["dup_window_frac"] - 0.25) < 1e-12
    # d2: 10 tokens -> 3 windows, one shared
    assert got["2"]["n_windows"] == 3 and got["2"]["dup_windows"] == 1
    # d3: 3 windows, none shared
    assert got["3"]["n_windows"] == 3 and got["3"]["dup_windows"] == 0


def test_connected_components_transitive_chain(spark):
    """Cluster resolution is transitive across pairs that were never
    directly emitted (A~B, B~C => one cluster) and labels every clustered
    vertex with the component minimum; long chains converge within the
    iteration bound."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import dedup

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"),            # chain -> cluster 'a'
         ("x", "y"),                        # separate pair -> cluster 'x'
         ("m", "n"), ("n", "o"), ("o", "p")],  # longer chain -> 'm'
        "doc_a string, doc_b string",
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x",
                   "m": "m", "n": "m", "o": "m", "p": "m"}

    # a 12-vertex path needs ~diameter rounds; the bound must cut off
    # loudly, not return partial labels
    chain = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(11)],
        "doc_a string, doc_b string",
    )
    full = {r["doc_id"]: r["cluster_id"]
            for r in dedup.connected_components(chain).collect()}
    assert set(full.values()) == {"v00"} and len(full) == 12
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)


def test_mixture_plan_semantics(spark):
    """Mixture sampling: an oversubscribed source caps at rate 1 and keeps
    every doc (the plan shows the shortfall instead of re-weighting); a
    fractional source keeps a hash-stable subset; rates and targets follow
    the integer formulas exactly."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark.operators import splits

    docs = spark.createDataFrame(
        [(f"a{i}", "tiny", "one two three") for i in range(3)]        # 9 tokens
        + [(f"b{i}", "big", " ".join(["w"] * 50)) for i in range(40)],  # 2000
        "doc_id string, source string, text string",
    )
    plan = {r["source"]: r for r in splits.mixture_plan(
        docs, {"tiny": 1, "big": 1}, token_budget=400
    ).collect()}
    t, b = plan["tiny"], plan["big"]
    # equal weights: each source targets 200 tokens
    assert t["target_tokens"] == 200 and b["target_tokens"] == 200
    # tiny has only 9 tokens -> capped at rate 1, everything kept
    assert t["rate_32"] == 1 << 32
    assert t["docs_sampled"] == t["docs_avail"] == 3
    assert t["tokens_sampled"] == t["tokens_avail"] == 9
    # big keeps the exact integer fraction 200/2000 of the hash space
    assert b["rate_32"] == (200 * (1 << 32)) // 2000
    assert 0 < b["docs_sampled"] < b["docs_avail"]
    # determinism: rerunning yields the identical sample
    again = {r["source"]: r for r in splits.mixture_plan(
        docs, {"tiny": 1, "big": 1}, token_budget=400
    ).collect()}
    assert again["big"]["docs_sampled"] == b["docs_sampled"]
    assert again["big"]["tokens_sampled"] == b["tokens_sampled"]


_EXTRACTIONS = {
    "documents": pipeline.extract_from_documents,
    "documents_no_structure": lambda d: pipeline.extract_from_documents(
        d, with_structure=False),
    "spans": pipeline.extract_from_spans,
    "spans_no_structure": lambda s: pipeline.extract_from_spans(s, with_structure=False),
}


@pytest.mark.parametrize("entry", sorted(_EXTRACTIONS))
def test_default_extraction_is_one_narrow_stage(spark, tmp_path, entry):
    """Extraction, from documents or from a stored spans table, with or
    without structure, is a single mapInArrow pass over the scan: no
    giant-doc fan-out shuffle, no union, no second python boundary."""
    src = spark.read.parquet(f"{SF}/documents.parquet")
    if entry.startswith("spans"):
        spans_op.derive_spans(src).write.parquet(str(tmp_path / "spans"))
        src = spark.read.parquet(str(tmp_path / "spans"))
    plan = _plan(_EXTRACTIONS[entry](src))
    assert "Exchange" not in plan, plan
    assert "Union" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize("name", ["extract_restitch", "plain_text", "pages",
                                  "paragraphs", "sentences", "titles",
                                  "reading_order", "deskew",
                                  "spans_derive", "ocr_route", "ocr_route_pages",
                                  "rotation", "media_rotate", "media_decode",
                                  "media_features", "tables"])
def test_extraction_queries_are_one_kernel_pass(spark, name):
    """Each declared extraction query, each layout query and each span,
    media and rotation query runs one kernel pass: one mapInArrow, no
    pandas UDF, and no shuffle but ``_docs``' spread (the page route
    groups its spans by page inside the pass)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()[name](spark, SF))
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "Union" not in plan, plan
    assert plan.count("Exchange") == _plan(e._docs(spark, SF)).count("Exchange"), plan


def _row_kernel_operators():
    from text_extraction_system_spark.operators import (
        coords, dedup, deskew_op, multimodal, readorder_op, rotation,
        serialize, similarity, structure, tables_op, textstats, toc,
    )

    import __spark_entry__ as e

    def res(docs):  # extraction results without structure
        return pipeline.extract_from_documents(docs, with_structure=False)

    def emb(docs):  # the embeddings table of the same corpus
        return docs.sparkSession.read.parquet(f"{SF}/embeddings.parquet")

    hash_books = [similarity.ivf_centroid_values(8, 16)] * 8

    return {
        "extract": pipeline.extract_from_documents,
        "paragraph_rows": lambda d: e._structure_rows(
            pipeline.extract_from_documents(d), "paragraphs", "par"),
        "sentence_rows": lambda d: e._structure_rows(
            pipeline.extract_from_documents(d), "sentences", "sent"),
        "section_rows": lambda d: structure.section_rows(res(d)),
        "toc_section_rows": lambda d: toc.toc_section_rows(res(d)),
        "simhash_rows": textstats.simhash_rows,
        "repetition_rows_arrow": lambda d: textstats.repetition_rows_arrow(res(d)),
        "tfidf_keywords": textstats.tfidf_keywords,
        "signature_rows": dedup.signature_rows,
        "near_dup_pairs": dedup.near_dup_pairs,
        "contamination_report": lambda d: dedup.contamination_report(d, d),
        "dup_window_coverage": dedup.dup_window_coverage,
        "decode_media": multimodal.decode_media,
        "extract_features": multimodal.extract_features,
        "resize_media": multimodal.resize_media,
        "sample_frames": multimodal.sample_frames,
        "rotate_media_inline": multimodal.rotate_media_inline,
        "rotation_rows": rotation.rotation_rows,
        "derive_spans": spans_op.derive_spans,
        "media_table": multimodal.media_table,
        "detect_tables": tables_op.detect_tables,
        "reading_order_rows": readorder_op.reading_order_rows,
        "deskew_rows": lambda d: deskew_op.deskew_rows(deskew_op.synth_glyph_arrays(
            d.select(F.col("doc_id").cast("string").alias("doc_id")))),
        "to_msgpack_column": lambda d: serialize.to_msgpack_column(
            pipeline.extract_from_documents(d)),
        "to_protobuf_column": lambda d: serialize.to_protobuf_column(
            pipeline.extract_from_documents(d)),
        "with_char_boxes": lambda d: coords.with_char_boxes(res(d)),
        "to_char_bboxes_proto_column": lambda d: serialize.to_char_bboxes_proto_column(
            coords.with_char_boxes(res(d))),
        "char_coord_stats": lambda d: coords.char_coord_stats(res(d)),
        "text_to_coords": lambda d: coords.text_to_coords(res(d)),
        "coords_to_text": lambda d: coords.coords_to_text(res(d)),
        "srp_banded_buckets": lambda d: similarity.srp_banded_buckets(emb(d)),
        "assign_cells_vectorized": lambda d: similarity.assign_cells_vectorized(
            emb(d), similarity.ivf_centroid_values(64, similarity.IVF_CENTROIDS)),
        "brute_force_topk": lambda d: similarity.brute_force_topk(emb(d)),
        "pq_topk": lambda d: similarity.pq_topk(emb(d), hash_books),
    }



@pytest.mark.parametrize("name", sorted(_row_kernel_operators()))
def test_row_kernels_cross_python_through_map_in_arrow(spark, name):
    """Every Python kernel, per-row or whole-column numpy, crosses the
    boundary through ``arrowmap`` (``mapInArrow``), never a hand-rolled
    ``mapInPandas`` or a scalar ``pandas_udf`` (``ArrowEvalPython``)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(_row_kernel_operators()[name](docs))
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_with_char_boxes_keeps_every_row_in_one_pass(spark):
    """One output row per input row, including duplicate and NULL doc ids,
    with one box per plain-text char, from a plan with no join and no
    shuffle."""
    from text_extraction_system_spark.operators import coords

    docs = spark.createDataFrame(
        [("a", "first doc with some words " * 2),
         ("a", "a different doc sharing the id"),
         (None, "the doc without an id"),
         ("b", "last one")],
        "doc_id string, text string",
    )
    boxed = coords.with_char_boxes(pipeline.extract_from_documents(docs))
    rows = boxed.collect()
    assert len(rows) == 4
    assert sorted(r["doc_id"] or "" for r in rows) == ["", "a", "a", "b"]
    assert all(len(r["char_bboxes"]) == len(r["plain_text"]) for r in rows)
    plan = _plan(boxed)
    assert "Join" not in plan and "Exchange" not in plan, plan
