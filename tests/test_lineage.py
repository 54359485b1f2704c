"""Checkpoint/resume semantics (north rule): kill-and-resume produces the
identical final table with no duplicate doc_ids; lineage rows account for
every processed doc and every failure code."""

from __future__ import annotations

import pytest

from text_extraction_system_spark import lineage, synth


@pytest.fixture()
def base_dir(tmp_path):
    return str(tmp_path / "out")


def test_partial_then_resume(spark, base_dir):
    full = synth.corpus_df(spark)
    n_total = full.count()

    # simulate a killed first run: only half the docs were committed
    first_half = full.limit(n_total // 2)
    r1 = lineage.run_extraction(spark, first_half, base_dir, run_id="run1")
    assert r1["docs_processed"] == n_total // 2

    # resume over the FULL input: only the missing docs are processed
    r2 = lineage.run_extraction(spark, full, base_dir, run_id="run2")
    assert r2["docs_skipped"] == n_total // 2
    assert r2["docs_processed"] == n_total - n_total // 2

    results = spark.read.parquet(f"{base_dir}/results")
    assert results.count() == n_total
    assert results.select("doc_id").distinct().count() == n_total

    # idempotent re-run: nothing left to do
    r3 = lineage.run_extraction(spark, full, base_dir, run_id="run3")
    assert r3["docs_processed"] == 0
    assert spark.read.parquet(f"{base_dir}/results").count() == n_total


def test_lineage_metrics(spark, base_dir):
    full = synth.corpus_df(spark)
    lineage.run_extraction(spark, full, base_dir, run_id="runm")
    metrics = spark.read.parquet(f"{base_dir}/metrics")
    rows = metrics.collect()
    assert rows
    assert {r["run_id"] for r in rows} == {"runm"}
    assert len({r["snapshot_id"] for r in rows}) == 1
    # per-partition counts add up to the corpus
    assert sum(r["doc_count"] for r in rows) == full.count()
    # the corrupt archetype's failure codes surface in lineage
    all_codes = {c for r in rows for c in r["failure_codes"]}
    assert "bad_media_ref:1" in all_codes
    assert sum(r["failure_count"] for r in rows) == 3  # 3 corrupt docs


def test_upsert_replaces_by_doc_id(spark, base_dir):
    """MERGE-on-doc_id twin: reprocessed docs replace their rows, untouched
    docs are preserved, no duplicate doc_ids, counts reported correctly."""
    full = synth.corpus_df(spark)
    lineage.run_extraction(spark, full, base_dir, run_id="base")
    results = spark.read.parquet(f"{base_dir}/results")
    n = results.count()

    # reprocess 3 docs with a changed run_id (stand-in for changed content)
    from pyspark.sql import functions as F

    some_ids = [r["doc_id"] for r in results.select("doc_id").limit(3).collect()]
    new_batch = results.where(F.col("doc_id").isin(some_ids)).withColumn(
        "run_id", F.lit("reproc")
    )
    stats = lineage.upsert_results(spark, new_batch, base_dir)
    assert stats == {"inserted": 0, "updated": 3}

    after = spark.read.parquet(f"{base_dir}/results")
    assert after.count() == n
    assert after.select("doc_id").distinct().count() == n
    got = {r["doc_id"]: r["run_id"] for r in after.select("doc_id", "run_id").collect()}
    for d in some_ids:
        assert got[d] == "reproc"
    assert sum(1 for v in got.values() if v == "reproc") == 3

    # genuinely new doc -> inserted (fresh read: plans captured before a
    # previous upsert reference the swapped-out files, like any snapshot read)
    new_doc = (
        spark.read.parquet(f"{base_dir}/results")
        .limit(1)
        .withColumn("doc_id", F.lit("brand_new"))
    )
    stats2 = lineage.upsert_results(spark, new_doc, base_dir)
    assert stats2 == {"inserted": 1, "updated": 0}
    assert spark.read.parquet(f"{base_dir}/results").count() == n + 1


def test_remote_base_dir_fails_loudly(spark):
    """The parquet twin uses os-level renames: a remote URI must raise, not
    silently report 'no prior commits' (which would reprocess everything and
    let upsert overwrite the table with just its batch)."""
    with pytest.raises(ValueError, match="local path"):
        lineage.committed_doc_ids(spark, "s3://bucket/out")
    with pytest.raises(ValueError, match="local path"):
        lineage.upsert_results(spark, synth.corpus_df(spark), "hdfs://nn/out")


def test_orphan_metrics_excluded_from_accounting(spark, base_dir):
    """A crash between the metrics append and the results append leaves a
    run_id with lineage rows but no completion marker. committed_metrics()
    must exclude it so doc_count sums stay exact after the resume rerun
    re-reports those docs."""
    from pyspark.sql import functions as F

    full = synth.corpus_df(spark)
    n_total = full.count()
    lineage.run_extraction(spark, full, base_dir, run_id="run_ok")

    # forge the crash artifact: metrics rows for a run that never committed
    orphan = (
        spark.read.parquet(f"{base_dir}/metrics")
        .limit(1)
        .withColumn("run_id", F.lit("run_crashed"))
    )
    orphan.write.mode("append").parquet(f"{base_dir}/metrics")

    orphans = {r["run_id"] for r in lineage.orphan_metric_runs(spark, base_dir).collect()}
    assert orphans == {"run_crashed"}

    good = lineage.committed_metrics(spark, base_dir)
    assert {r["run_id"] for r in good.select("run_id").distinct().collect()} == {"run_ok"}
    total = good.agg(F.sum("doc_count")).collect()[0][0]
    assert total == n_total  # raw metrics would double-count the orphan's docs

    raw = spark.read.parquet(f"{base_dir}/metrics").agg(F.sum("doc_count")).collect()[0][0]
    assert raw > n_total


def test_results_presence_counts_as_committed(spark, base_dir):
    """Crash in the results->commits window: docs ARE in results/ but the
    marker never landed. Resume skips those docs, so no rerun re-reports
    their accounting — the run must still count as committed (results/
    presence is ground truth, the marker is only the fast path)."""
    import shutil

    from pyspark.sql import functions as F

    full = synth.corpus_df(spark)
    n_total = full.count()
    lineage.run_extraction(spark, full, base_dir, run_id="run_nomarker")
    shutil.rmtree(f"{base_dir}/commits")  # simulate the crash window

    assert lineage.orphan_metric_runs(spark, base_dir).count() == 0
    good = lineage.committed_metrics(spark, base_dir)
    assert good.agg(F.sum("doc_count")).collect()[0][0] == n_total

    # and resume still treats the docs as done — the undercount would
    # otherwise be permanent
    r2 = lineage.run_extraction(spark, full, base_dir, run_id="run_resume")
    assert r2["docs_processed"] == 0


def test_accounting_on_fresh_base_dir(spark, tmp_path):
    """Before any run, accounting views return empty frames, not
    AnalysisException (metrics/ guard parity with commits/)."""
    fresh = str(tmp_path / "never_written")
    assert lineage.committed_metrics(spark, fresh).count() == 0
    assert lineage.orphan_metric_runs(spark, fresh).count() == 0


def test_results_commit_is_atomic_per_run(spark, base_dir):
    """The partial-append double-count window is closed: a run's results
    land via one rename of results/run_id=<id>/, so a crashed run leaves
    only a staging dir — invisible to resume AND to accounting — which the
    next run clears. Totals stay exact across the crash + resume."""
    import os

    from pyspark.sql import functions as F

    full = synth.corpus_df(spark)
    n_total = full.count()
    half = full.limit(n_total // 2)
    lineage.run_extraction(spark, half, base_dir, run_id="run_a")

    # forge a crash BEFORE the rename: metrics committed, staging dir still
    # present, nothing in results/, no marker
    orphan = (
        spark.read.parquet(f"{base_dir}/metrics")
        .withColumn("run_id", F.lit("run_crashed"))
    )
    orphan.write.mode("append").parquet(f"{base_dir}/metrics")
    stale = os.path.join(base_dir, "results.staging_run_crashed")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    # the run_id partition column round-trips through the directory name
    res = spark.read.parquet(f"{base_dir}/results")
    assert {r["run_id"] for r in res.select("run_id").distinct().collect()} == {"run_a"}

    r2 = lineage.run_extraction(spark, full, base_dir, run_id="run_b")
    assert not os.path.exists(stale)  # stranded staging cleared
    assert r2["docs_processed"] == n_total - n_total // 2

    good = lineage.committed_metrics(spark, base_dir)
    assert good.agg(F.sum("doc_count")).collect()[0][0] == n_total
    res = spark.read.parquet(f"{base_dir}/results")
    assert res.count() == n_total
    assert res.select("doc_id").distinct().count() == n_total


def test_resume_over_documents_table(spark, docs_df, tmp_path, base_dir):
    """A documents table (no ``spans`` column) goes straight to the
    extraction kernel: integer doc ids resume against the committed string
    ids, and the committed table equals ``extract_from_documents`` row for
    row — so a NULL text is an empty document, not a failure."""
    from pyspark.sql import functions as F

    from text_extraction_system_spark import pipeline

    path = str(tmp_path / "docs")
    docs_df.limit(40).unionByName(
        spark.createDataFrame([(10**9, None), (10**9 + 1, "")], "doc_id long, text string"),
        allowMissingColumns=True,
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    assert dict(docs.dtypes)["doc_id"] == "bigint"

    r1 = lineage.run_extraction(spark, docs.where(F.col("doc_id") % 2 == 0), base_dir,
                                run_id="docs1")
    r2 = lineage.run_extraction(spark, docs, base_dir, run_id="docs2")
    assert r1["docs_processed"] + r2["docs_processed"] == 42
    assert r2["docs_skipped"] == r1["docs_processed"] > 0

    got = spark.read.parquet(f"{base_dir}/results").drop("run_id")
    want = pipeline.extract_from_documents(docs, with_structure=False)
    assert sorted(got.select(want.columns).collect()) == sorted(want.collect())
    null_doc = got.where(F.col("doc_id") == str(10**9)).collect()[0]
    assert null_doc["parse_failures"] == [] and null_doc["plain_text"] == ""
