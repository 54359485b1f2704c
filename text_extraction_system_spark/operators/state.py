"""Durable dedup/ANN state tables: the committed corpus's MinHash
signatures and SRP buckets, written ONCE as partitioned tables that every
incoming batch joins against.

At 10^12 docs neither can be recomputed per batch, and in-memory state
(the bucket table ``similarity._bucket_table`` holds as a ``localCheckpoint``)
is unreplicated, dies with an executor and is not resumable across jobs.
The reference's analog of durable cross-run state is its persisted WebDAV
task registry + recovery (``task_health/task_health.py:15-139``).

Layout under ``base_dir`` (local-parquet twin of an Iceberg table):

  dedup_signatures/   (doc_id, sig, band_sig) partitioned by
                      (band, sig_prefix) — sig_prefix = first hex char of
                      band_sig, bounding the directory count at
                      LSH_BANDS * 16 while keeping two pruning levers:
                      static partition pruning for single-bucket probes, and
                      dynamic partition pruning (DPP) for batch joins — the
                      batch side's (band, sig_prefix) set prunes committed
                      partitions before any signature file is read.
  srp_buckets/        (vid, bucket) partitioned by (band, bucket_prefix) —
                      bucket_prefix = first 4 sign bits, same two levers.

On a real cluster these are Iceberg tables (hidden partitioning
``band, truncate(band_sig, 1)``) written by the commit job; the parquet twin
keeps the identical partition keys so the join plans — and the pruning the
plan tests assert — carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: hex chars of band_sig used as the partition key (16 dirs per band)
SIG_PREFIX_LEN = 1
#: leading sign bits of an SRP bucket used as the partition key (16 per band)
BUCKET_PREFIX_LEN = 4

_SIG_DIR = "dedup_signatures"
_SRP_DIR = "srp_buckets"

#: explicit read schemas (data columns + partition columns): no inference
#: scan at read time, and an EMPTY committed table (nothing survived the
#: write's filters) reads back as an empty frame instead of
#: UNABLE_TO_INFER_SCHEMA
SIG_TABLE_SCHEMA = (
    "doc_id string, sig array<bigint>, band_sig string, "
    "band int, sig_prefix string"
)
SRP_TABLE_SCHEMA = "vid bigint, bucket string, band int, bucket_prefix string"


def sig_prefix_col(band_sig) -> F.Column:
    return F.substring(band_sig, 1, SIG_PREFIX_LEN)


def bucket_prefix_col(bucket) -> F.Column:
    return F.substring(bucket, 1, BUCKET_PREFIX_LEN)


def write_signature_table(docs: DataFrame, base_dir: str) -> str:
    """Materialize the committed corpus's dedup signatures, partitioned by
    (band, sig_prefix). Returns the table path."""
    from . import dedup

    path = os.path.join(base_dir, _SIG_DIR)
    rows = dedup.signature_rows(docs).withColumn(
        "sig_prefix", sig_prefix_col(F.col("band_sig"))
    )
    rows.write.mode("overwrite").partitionBy("band", "sig_prefix").parquet(path)
    return path


def read_signature_table(spark: SparkSession, base_dir: str) -> DataFrame:
    """The persisted signature table. Filters on (band, sig_prefix) reach the
    scan as PartitionFilters (asserted by tests/test_plans.py); joining on
    them as well lets DPP prune committed partitions from the batch side."""
    return spark.read.schema(SIG_TABLE_SCHEMA).parquet(
        os.path.join(base_dir, _SIG_DIR)
    )


def signature_table_exists(base_dir: str) -> bool:
    return os.path.exists(os.path.join(base_dir, _SIG_DIR, "_SUCCESS"))


def write_srp_buckets(embeddings: DataFrame, base_dir: str) -> str:
    """Materialize the corpus's SRP band buckets, partitioned by (band,
    bucket_prefix). ``embeddings`` follows the similarity contract: a
    bigint ``vec_id`` and an ``embedding`` whose width is the data's own;
    the bands are the module's N_BANDS x PLANES_PER_BAND, the geometry
    every probe of the table assumes. Returns the table path."""
    from . import similarity

    path = os.path.join(base_dir, _SRP_DIR)
    rows = similarity._guarded_buckets(embeddings).select(
        "vid", "bucket", "band",
        bucket_prefix_col(F.col("bucket")).alias("bucket_prefix"),
    )
    rows.write.mode("overwrite").partitionBy("band", "bucket_prefix").parquet(path)
    return path


def read_srp_buckets(spark: SparkSession, base_dir: str) -> DataFrame:
    """The persisted bucket table as (vid bigint, bucket, band,
    bucket_prefix): ``vid`` is the ``vec_id`` it was written from."""
    return spark.read.schema(SRP_TABLE_SCHEMA).parquet(os.path.join(base_dir, _SRP_DIR))


def srp_buckets_exist(base_dir: str) -> bool:
    return os.path.exists(os.path.join(base_dir, _SRP_DIR, "_SUCCESS"))


#: versioned filename: the suffix is the TRAINING-METHOD version, bumped
#: whenever ivf_train's float semantics change (v2 = deterministic
#: left-fold Lloyd means) — a persisted quantizer trained by an older
#: method must not be served where the caller expects the new one's
#: bit-exact output.
_IVF_FILE = "ivf_centroids_v2.json"


def write_ivf_centroids(centroids: list, base_dir: str) -> str:
    """Persist a trained IVF quantizer (train once / serve many — across
    sessions). Atomic replace; json round-trips python floats exactly, so
    a reload serves bit-identical assignments."""
    import json

    os.makedirs(base_dir, exist_ok=True)
    path = os.path.join(base_dir, _IVF_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(centroids, f)
    os.replace(tmp, path)
    return path


def read_ivf_centroids(base_dir: str) -> list | None:
    import json

    path = os.path.join(base_dir, _IVF_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


#: versioned like _IVF_FILE: v1 = deterministic left-fold Lloyd per block
_PQ_FILE = "pq_codebooks_v1.json"


def write_pq_codebooks(codebooks: list, base_dir: str) -> str:
    """Persist trained PQ codebooks (train once / serve many); atomic
    replace, json float round-trip exactness — same contract as
    write_ivf_centroids."""
    import json

    os.makedirs(base_dir, exist_ok=True)
    path = os.path.join(base_dir, _PQ_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(codebooks, f)
    os.replace(tmp, path)
    return path


def read_pq_codebooks(base_dir: str) -> list | None:
    import json

    path = os.path.join(base_dir, _PQ_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)
