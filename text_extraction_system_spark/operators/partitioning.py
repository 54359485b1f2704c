"""Skew-aware partitioning (SURVEY.md section 4 "custom Spark work").

The skew strategy has three layers, matching the north rule:

1. **Cost-salted hash partitioning** for the doc-level UDF stages:
   ``repartition(n, xxhash64(doc_id, salt))`` — expected cost per partition
   is uniform because the key is a hash; the salt decorrelates consecutive
   runs. (A global cost-sort would balance better but requires a
   single-partition sort — not viable at 10^12 docs.)
2. **One task per document, however long** (``pipeline._extract``): the
   extraction kernel processes a giant doc in the task that holds it. A
   span-level fan-out cannot split it either (its ``groupBy(doc_id)``
   gathers the doc's spans into one reduce task) and costs a shuffle, so
   the engine has none; the straggler is bounded by the kernel's linear
   per-document work (``bench.py``'s giant-doc row, 10^5 spans).
3. **Arrow batch bounding** (``spark.sql.execution.arrow.maxRecordsPerBatch``
   in ``session.py``): one giant doc cannot blow a Python worker's memory.

``partition_cost_stats`` measures the result (max/mean estimated cost per
partition) — used by tests and the bench to show balance, not just assert it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_unsplittable(df: DataFrame, key: str) -> DataFrame:
    """Unsplittable-input guard (optimization guide §2.5 "input skew"): a
    parquet scan cannot split inside a row group, so a SINGLE ROW-GROUP
    file (the driver corpora; gzip-class inputs in production) yields its
    30+ configured splits with every row in ONE of them — every narrow
    stage above the scan (every Arrow kernel) then runs on one core
    regardless of cluster size (measured: a Python batch probe saw
    50000/50000 rows in one task at sf1.0). One deterministic hash
    repartition on the table id right after the read moves a few MB once
    and unlocks full parallelism downstream. Partition count follows the
    session's parallelism (x2 slack for hash imbalance), so the same code
    is right at any cluster size. Hash on the id (not round-robin) keeps
    row placement deterministic under task retry (guide §2.5, SPARK-38388)
    and skips the sort-before-repartition pass a keyless repartition pays.

    The input decides: ``df`` is returned as is when its scan already
    splits at least ``defaultParallelism`` ways, that is when the parquet
    footers of ``df.inputFiles()`` hold that many row groups and the scan
    plans that many partitions (``df.rdd.getNumPartitions()``: planning
    only, no job). Both are needed: Spark packs a small file into one
    byte-sized split whatever its row groups (an 8-row-group file of 800
    or 400,000 rows scans as one partition on local[4] under
    ``session.get_spark``'s defaults), and many splits of one row group
    leave all but one empty. Inputs whose footers cannot be read (not
    local, not parquet, no files) are spread."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (_row_groups_at_least(df.inputFiles(), parallelism)
            and df.rdd.getNumPartitions() >= parallelism):
        return df
    return df.repartition(2 * parallelism, F.col(key))


def _row_groups_at_least(paths: list[str], n: int) -> bool:
    """Whether the parquet footers of ``paths`` (local files) hold at least
    ``n`` row groups; False when one cannot be read. Stops reading once
    ``n`` is reached."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    total = 0
    for path in paths:
        url = urlparse(path)
        if url.scheme not in ("", "file"):
            return False
        try:
            total += pq.ParquetFile(unquote(url.path)).metadata.num_row_groups
        except (OSError, ValueError):
            return False
        if total >= n:
            return True
    return False


def doc_cost_col(spans: Column) -> Column:
    """Estimated parse cost of a doc: total text bytes + a per-media charge
    (media dominates when OCR fires; mirrors the reference's page-count
    progress estimate, tasks.py:345-354)."""
    return F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.length(s["text"])
        + F.when(s["kind"] == "media", 256).otherwise(0),
    )


def cost_salted_repartition(
    spans_df: DataFrame, num_partitions: int, salt: int = 0
) -> DataFrame:
    """Uniform-in-expectation cost spread for the doc-level stages."""
    return spans_df.repartition(
        num_partitions, F.xxhash64(F.col("doc_id"), F.lit(salt))
    )


def partition_cost_stats(spans_df: DataFrame) -> dict:
    """{'n_partitions', 'max_cost', 'mean_cost', 'balance'} where balance =
    max/mean (1.0 is perfect). The per-partition totals are reduced to
    (count, max, sum) SERVER-side — one scalar row reaches the driver, so
    calling this against a 100k-partition frame is safe (the previous form
    collected one row per partition)."""
    per_part = (
        spans_df.select(doc_cost_col(F.col("spans")).alias("cost"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("cost").alias("cost"))
        .select(F.coalesce(F.col("cost"), F.lit(0)).alias("cost"))
    )
    row = per_part.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cost").alias("mx"),
        F.sum("cost").alias("tot"),
    ).collect()[0]
    n = row["n"] or 0
    mx = row["mx"] or 0
    mean = (row["tot"] or 0) / max(n, 1)
    return {
        "n_partitions": n,
        "max_cost": mx,
        "mean_cost": mean,
        "balance": (mx / mean) if mean else 0.0,
    }
