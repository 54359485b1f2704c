"""Lineage metrics + idempotent checkpoint/resume (SURVEY.md T2-T4, section 4).

The reference recovers lost Celery tasks with a WebDAV task registry and a
120 s beat re-scheduler (``task_health/task_health.py:15-139``) and guards
double-delivery with a racy final metadata check (``tasks.py:550-565``). The
Spark rebuild replaces all of it with:

* **within a job**  — Spark task retries (nothing to build);
* **across jobs**   — resume = LEFT ANTI join of the input against the
  committed results' doc_ids, then append-only commit of the new slice. On
  Iceberg this is ``MERGE INTO results ON doc_id`` with snapshot isolation;
  the local-parquet twin stages each run's rows and renames them into
  ``results/run_id=<id>/`` in ONE os.rename — per-run visibility is
  all-or-nothing, the local analog of an atomic snapshot commit.
* **lineage**       — one metrics row per output partition: run id, input
  snapshot id, partition id, doc/span/byte counts, parse-failure codes.

Output layout under ``base_dir``:
  results/   one row per doc: doc_id, needs_ocr, out_spans, plain_text,
             pages, parse_failures; PARTITIONED by run_id (the directory
             name carries the column), committed atomically per run
  metrics/   LINEAGE rows (schemas.LINEAGE + finished_at)
  commits/   one completion-marker row per run_id that fully committed.
             A run counts as committed when its marker exists OR its rows
             are present in results/ (covers a crash between the results
             append and the marker write); metrics rows from runs with
             neither are orphans from a crash in the metrics->results
             window and are excluded by committed_metrics()

``base_dir`` must be a LOCAL path (the twin uses os-level renames); remote
URIs fail loudly — see _require_local.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline

_METRIC_AGG_SCHEMA = (
    "partition_id int, doc_count long, span_count long, byte_count long, "
    "failure_count long, failure_codes array<string>"
)


def snapshot_id(docs: DataFrame) -> str:
    """Deterministic id of the input snapshot: hash of source file list."""
    files = sorted(f.split("/")[-1] + ":" + f for f in docs.inputFiles())
    return hashlib.md5("|".join(files).encode()).hexdigest()[:16]


def _require_local(base_dir: str) -> None:
    """The parquet checkpoint twin manipulates ``base_dir`` with local-FS
    calls (os.path.exists / os.rename): on a remote URI those silently
    report 'no table', which would make resume reprocess everything and
    upsert OVERWRITE the table with just its batch. Fail loudly instead —
    on a cluster, point this at Iceberg (MERGE INTO / snapshot commits),
    not at the local-parquet twin."""
    scheme = base_dir.split("://", 1)[0] if "://" in base_dir else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"lineage base_dir must be a local path (got scheme {scheme!r}: "
            f"{base_dir!r}); use the Iceberg MERGE path for remote storage"
        )


def _read_results(spark: SparkSession, base_dir: str) -> DataFrame | None:
    """Read the committed results table, or None iff it genuinely does not
    exist. Never swallows read FAILURES: a corrupt/unreadable existing table
    must abort the run, not masquerade as 'no prior commits' (which would
    re-append every doc on resume, or let upsert overwrite the table with
    just its batch). Also recovers a table stranded mid-swap by a crashed
    upsert (results renamed to .old, staging never promoted)."""
    _require_local(base_dir)
    path = os.path.join(base_dir, "results")
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # crash recovery: promote the pre-swap table
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def committed_doc_ids(spark: SparkSession, base_dir: str) -> DataFrame | None:
    existing = _read_results(spark, base_dir)
    return existing.select("doc_id") if existing is not None else None


def upsert_results(
    spark: SparkSession, new_results: DataFrame, base_dir: str
) -> dict:
    """MERGE-on-doc_id twin for REPROCESSED docs: rows whose doc_id appears
    in ``new_results`` are replaced, everything else is preserved.

    On Iceberg this is literally ``MERGE INTO results r USING n ON
    r.doc_id = n.doc_id WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN
    INSERT *`` with snapshot isolation. The local-parquet twin rewrites to a
    staging directory and swaps it in (two renames; a crash between them is
    recovered by ``_read_results``'s .old promotion — the swap is
    crash-safe, not single-syscall atomic). Like MERGE with multiple
    matches, a batch with duplicate doc_ids is an error.
    """
    results_path = os.path.join(base_dir, "results")
    existing = _read_results(spark, base_dir)

    n_batch = new_results.count()
    n_batch_distinct = new_results.select("doc_id").distinct().count()
    if n_batch != n_batch_distinct:
        raise ValueError(
            f"upsert batch has duplicate doc_ids ({n_batch} rows, "
            f"{n_batch_distinct} distinct) — MERGE requires unique match keys"
        )

    if existing is None:
        new_results.write.mode("overwrite").partitionBy("run_id").parquet(results_path)
        return {"inserted": n_batch, "updated": 0}

    keys = new_results.select("doc_id")
    kept = existing.join(keys, "doc_id", "left_anti")
    n_existing = existing.count()
    merged = kept.select(existing.columns).unionByName(
        new_results.select(existing.columns)
    )
    staging = results_path + ".staging"
    # keep the run_id=<id>/ partition layout run_extraction commits with —
    # results/ must stay one consistent partitioned table across both paths
    merged.write.mode("overwrite").partitionBy("run_id").parquet(staging)
    n_merged = spark.read.parquet(staging).count()

    import shutil

    old = results_path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(results_path, old)
    os.rename(staging, results_path)
    shutil.rmtree(old, ignore_errors=True)
    # Spark caches file listings per path; the swap invalidates them
    spark.catalog.refreshByPath(results_path)

    updated = n_existing - (n_merged - n_batch)  # existing rows replaced
    return {"inserted": n_batch - updated, "updated": updated}


def run_extraction(
    spark: SparkSession,
    spans_df: DataFrame,
    base_dir: str,
    run_id: str | None = None,
    fanout_threshold: int | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Process only not-yet-committed docs; append results + lineage rows.

    Returns {"run_id", "snapshot_id", "docs_processed", "docs_skipped"}.
    Re-running after a kill processes exactly the missing docs; re-running
    on a complete output is a no-op (exactly-once at doc granularity).

    ``fanout_threshold`` is ignored: the benchmark's commit probe still
    passes it (deleted with ROADMAP item 0).
    """
    run_id = run_id or f"run_{int(time.time() * 1000):x}"
    snap = snapshot_id(spans_df)

    # clear scratch dirs stranded by crashed runs: a staging dir that still
    # exists was by definition never renamed into results/ (uncommitted)
    import glob as _glob
    import shutil as _shutil

    for stale in _glob.glob(os.path.join(base_dir, "results.staging_*")):
        _shutil.rmtree(stale, ignore_errors=True)

    committed = committed_doc_ids(spark, base_dir)
    todo = spans_df
    total = None
    if committed is not None:
        # one metadata-cheap count of the input; docs_skipped is derived
        # later as total - processed (processed comes from the lineage rows),
        # avoiding a second full anti-join pass just for the counter
        total = spans_df.count()
        todo = spans_df.join(committed, "doc_id", "left_anti")

    if num_partitions and num_partitions > 0:
        # applied AFTER the resume anti-join: the join's doc_id shuffle would
        # otherwise replace the cost-salted layout and the flag would
        # silently do nothing on every resume run
        from .operators import partitioning

        todo = partitioning.cost_salted_repartition(todo, num_partitions)

    results = pipeline.extract_from_spans(todo, with_structure=False).withColumn(
        "run_id", F.lit(run_id)
    )

    # in-job lineage: stamp the processing job's partition id, persist, and
    # account from the exact partitions that get committed — no read-back of
    # the results table (at 100 TB re-reading the output to account for it
    # doubles the I/O and reflects the re-read's partitioning, not the
    # write's). Order matters: the metrics aggregate runs FIRST (materializing
    # the cache), the append runs second from the cached partitions — the
    # append invalidates every cached plan referencing results_path (the
    # resume anti-join does), so aggregating after it would recompute against
    # the just-appended table and see zero todo docs.
    stamped = results.withColumn("partition_id", F.spark_partition_id()).persist()
    results_path = os.path.join(base_dir, "results")
    try:
        metric_rows = (
            stamped.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum(F.size("out_spans")).cast("long").alias("span_count"),
                # octet_length: byte accounting must count BYTES (a CJK doc
                # is ~3x its char count in utf-8)
                F.sum(F.octet_length("plain_text")).cast("long").alias("byte_count"),
                F.sum(F.size("parse_failures")).cast("long").alias("failure_count"),
                F.array_distinct(
                    F.flatten(F.collect_list("parse_failures"))
                ).alias("failure_codes"),
            )
            .collect()  # one tiny row per write partition
        )
        # metrics are committed BEFORE the results append: a crash in the
        # window between the two leaves an orphan lineage run (a run_id with
        # metrics but no results rows — mechanically excluded by
        # committed_metrics() via the commits/ marker written last, and the
        # resume rerun writes its own complete accounting), whereas the
        # reverse order would permanently lose accounting for committed docs.
        metrics = spark.createDataFrame(metric_rows, schema=_METRIC_AGG_SCHEMA).select(
            F.lit(run_id).alias("run_id"),
            F.lit(snap).alias("snapshot_id"),
            "partition_id",
            "doc_count",
            "span_count",
            "byte_count",
            "failure_count",
            "failure_codes",
            F.current_timestamp().alias("finished_at"),
        )
        metrics.write.mode("append").parquet(os.path.join(base_dir, "metrics"))
        # ATOMIC per-run results commit: stage the run's rows in a scratch
        # dir, then one os.rename into results/run_id=<id>/ — the partition
        # directory IS the run's run_id column (parquet partition
        # discovery restores it on read). A plain .mode("append") is a
        # multi-file job commit: a crash mid-commit leaves a SUBSET of the
        # run's files visible, making "results/ presence" claim a run that
        # is only partially there — its full metrics would then be counted
        # while resume re-reports the missing docs (double-count). The
        # rename is all-or-nothing, so per-run visibility is too — the
        # local twin of Iceberg's atomic snapshot commit.
        staging = os.path.join(base_dir, f"results.staging_{run_id}")
        stamped.drop("partition_id", "run_id").write.mode("overwrite").parquet(staging)
        os.makedirs(results_path, exist_ok=True)
        os.rename(staging, os.path.join(results_path, f"run_id={run_id}"))
        spark.catalog.refreshByPath(results_path)
        # completion marker LAST: a run_id present in metrics but absent from
        # commits/ is mechanically identifiable as an orphan (crashed between
        # metrics and results) — see committed_metrics(). One tiny row.
        spark.createDataFrame(
            [(run_id, snap, sum(r["doc_count"] for r in metric_rows))],
            schema="run_id string, snapshot_id string, doc_count long",
        ).withColumn("committed_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(os.path.join(base_dir, "commits"))
    finally:
        stamped.unpersist()

    # processed comes from the already-collected lineage rows: no extra job
    processed = sum(r["doc_count"] for r in metric_rows)
    return {
        "run_id": run_id,
        "snapshot_id": snap,
        "docs_processed": processed,
        "docs_skipped": (total - processed) if total is not None else 0,
    }


_METRICS_SCHEMA = (
    "run_id string, snapshot_id string, partition_id int, doc_count long, "
    "span_count long, byte_count long, failure_count long, "
    "failure_codes array<string>, finished_at timestamp"
)


def _read_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    """metrics/ with an existence guard (same treatment as commits/): a
    fresh base_dir returns an empty frame with the metrics schema instead
    of raising AnalysisException."""
    path = os.path.join(base_dir, "metrics")
    if not os.path.exists(path):
        return spark.createDataFrame([], schema=_METRICS_SCHEMA)
    return spark.read.parquet(path)


def _committed_run_ids(spark: SparkSession, base_dir: str) -> DataFrame:
    """run_ids whose results append is durably visible. A run is committed
    iff its marker is in commits/ OR its rows are present in results/: a
    crash in the results->commits window leaves docs committed in results/
    with no marker, and because resume skips those docs no rerun ever
    re-reports their accounting — marker-only detection would undercount
    them forever. results/ presence is ground truth — and because a run's
    rows land via one atomic rename of results/run_id=<id>/ (see
    run_extraction), presence is all-or-nothing per run: no partial-append
    window where a subset of a run's files is visible. run_id is the
    table's partition column, so this probe is a directory listing, not a
    data scan; on Iceberg the same set comes free from snapshot summary
    metadata."""
    parts = []
    commits_path = os.path.join(base_dir, "commits")
    if os.path.exists(commits_path):
        parts.append(spark.read.parquet(commits_path).select("run_id"))
    results = _read_results(spark, base_dir)
    if results is not None:
        parts.append(results.select("run_id"))
    if not parts:
        return spark.createDataFrame([], schema="run_id string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def committed_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    """Metrics restricted to runs whose results append COMMITTED (marker in
    commits/ or rows in results/ — see _committed_run_ids). A crash in the
    metrics->results window leaves an orphan run_id whose doc_count the
    resume rerun re-reports; summing raw metrics across run_ids would
    double-count those docs. Consumers doing accounting must read THIS
    view, not metrics/ directly."""
    _require_local(base_dir)
    metrics = _read_metrics(spark, base_dir)
    committed = _committed_run_ids(spark, base_dir)
    return metrics.join(F.broadcast(committed), "run_id", "left_semi")


def orphan_metric_runs(spark: SparkSession, base_dir: str) -> DataFrame:
    """run_ids with lineage rows but neither a completion marker nor rows
    in results/ — crashed runs whose accounting must be excluded (their
    docs are re-reported by the resume run's own complete metrics)."""
    _require_local(base_dir)
    runs = _read_metrics(spark, base_dir).select("run_id").distinct()
    committed = _committed_run_ids(spark, base_dir)
    return runs.join(F.broadcast(committed), "run_id", "left_anti")
