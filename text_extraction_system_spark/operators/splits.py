"""Dataset split assignment + capacity packing — the release-side operators
of a training-data pipeline (companions to curation/dedup: once a corpus is
curated, it is split train/val/test and packed into fixed token budgets).

Both are deterministic and RNG-free: each hashes the doc id under its one
fixed seed (``SPLIT_SEED``, ``PACK_SEED``) with md5 arithmetic, so any engine
reproduces the same assignment — the property that makes a 10^12-doc split
auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import schemas

#: 2^32 — the split hash is the first 8 md5 hex chars as an integer, giving
#: a uniform bucket in [0, 2^32); weights compare against exact integer
#: thresholds (no float rounding at the boundary)
_HASH_SPACE = 1 << 32

DEFAULT_WEIGHTS: dict[str, float] = {"train": 0.98, "val": 0.01, "test": 0.01}
#: the hash seeds of split assignment and of the packing order
SPLIT_SEED = "split0"
PACK_SEED = "pack0"


def split_hash_col(doc_id: Column, seed: str) -> Column:
    """Uniform bigint in [0, 2^32): first 8 hex chars of md5(seed:doc_id)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(seed), doc_id.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")


def split_col(doc_id: Column) -> Column:
    """Split label by hash threshold: doc -> first split of DEFAULT_WEIGHTS
    whose cumulative weight threshold exceeds its bucket. Deterministic per
    doc_id — re-running, resharding, or growing the corpus never reassigns a
    doc (the property hash-mod splits have and sampled splits lack)."""
    total = sum(DEFAULT_WEIGHTS.values())
    h = split_hash_col(doc_id, SPLIT_SEED)
    expr = None
    acc = 0.0
    items = list(DEFAULT_WEIGHTS.items())
    for name, w in items[:-1]:
        acc += w
        thresh = int(acc / total * _HASH_SPACE)
        cond = h < F.lit(thresh)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return (expr.otherwise(F.lit(last)) if expr is not None else F.lit(last)).alias("split")


def assign_splits(docs: DataFrame) -> DataFrame:
    """(doc_id, split) — one narrow projection, no shuffle."""
    return schemas.keyed(docs, split_col(F.col("doc_id")))


#: shard count for the two-level packing prefix sum. At 10^12 docs a single
#: global window ORDER BY is one executor sorting the world; sharding by a
#: doc hash bounds every sort/cumsum to corpus/PACK_SHARDS rows, and the
#: shard prefix offsets are a PACK_SHARDS-row window.
PACK_SHARDS = 32


def pack_bins(docs: DataFrame, budget: int) -> DataFrame:
    """Assign (doc_id, n_tokens) docs to fixed token-budget bins
    (training-sequence packing, boundary-straddle variant): under the
    deterministic global order (shard, order_key), doc d goes to bin
    floor((cumsum_before d)/budget).
    Bins fill to >= budget (the straddling doc closes its bin), every doc
    lands in exactly one bin, bin ids are dense from 0.

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global window:
      1. shard = md5-hash of doc id mod PACK_SHARDS (uniform);
      2. within-shard cumsum via a window bounded to corpus/PACK_SHARDS rows;
      3. per-shard totals (a PACK_SHARDS-row aggregate) -> exclusive prefix
         offsets via a second window over those rows, broadcast-
         joined back on shard — ENTIRELY inside the plan (construction runs
         no jobs; an earlier driver-side fold executed the shard-totals jobs
         at DataFrame-construction time, before bench warm-up);
      4. global_cum = shard_offset + within_cum; bin = floor((global_cum -
         n_tokens)/budget).
    The single-ORDER-BY formulation any SQL engine would write is the
    semantic twin (the DuckDB oracle uses it); this plan replaces its one
    world-wide sort with PACK_SHARDS independent ones plus one 32-row window.

    Returns (doc_id, n_tokens, bin, *the input's other columns).
    """
    order_key = F.md5(F.concat_ws(":", F.lit(PACK_SEED), F.col("doc_id").cast("string")))
    rest = [c for c in docs.columns if c not in ("doc_id", "n_tokens")]
    sharded = schemas.keyed(
        docs, F.col("n_tokens").cast("bigint").alias("n_tokens"), order_key.alias("ok"),
        *rest,
    ).withColumn(
        "shard",
        F.conv(F.substring(F.col("ok"), 1, 8), 16, 10).cast("bigint") % PACK_SHARDS,
    )
    w = Window.partitionBy("shard").orderBy("ok", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = sharded.withColumn("cum_in_shard", F.sum("n_tokens").over(w))
    # per-shard totals -> exclusive prefix offsets, in-plan: the second
    # window runs over PACK_SHARDS rows (one tiny partition — the deliberate
    # two-level trade: 32 rows sort nowhere, the corpus sorts per-shard);
    # shards absent from totals hold no docs, so they drop out of both the
    # running sum and the join
    totals = within.groupBy("shard").agg(F.max("cum_in_shard").alias("t"))
    wo = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "shard", F.coalesce(F.sum("t").over(wo), F.lit(0)).alias("shard_offset")
    )
    return within.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("cum_in_shard") + F.col("shard_offset") - F.col("n_tokens"))
            / budget
        ).cast("bigint").alias("bin"),
        *rest,
    )


#: hash space for mixture sampling rates: rate thresholds live in
#: [0, 2^32) like the split hash, so doc membership is an exact integer
#: comparison in any engine
_MIX_SEED = "mix0"


def mixture_plan(
    docs: DataFrame, weights: dict[str, int] | None, token_budget: int
) -> DataFrame:
    """Data-mixture sampling plan + deterministic per-source sample — the
    pretraining-release step that turns "train on 30% web, 30% code, 40%
    books" plus a token budget into per-source KEEP RATES and a stable doc
    sample. All arithmetic is integer-exact (oracle-hashable):

      target_s      = (token_budget * w_s) div sum(w)   (integer division)
      rate_32(s)    = min(2^32, (target_s * 2^32) div tokens_s)   (exact
                      at any budget; 2^32 when tokens_s = 0)
      doc sampled  <=> split_hash(mix_seed, doc_id) < rate_32(source)

    Oversubscribed sources cap at rate 1 (every doc kept — the plan shows
    the shortfall instead of silently re-weighting); undersubscribed ones
    keep a uniform deterministic fraction, stable under corpus growth and
    resharding (same hash-threshold property as assign_splits). Returns
    one row per source: tokens available, the integer rate, docs/tokens
    sampled — the report a release job writes next to its manifest.

    ``weights=None`` derives a deterministic weight per source in-plan
    (1 + hexval(md5('mixw:' || source)[0]), 1..16) — the no-config mode
    whose SQL twin needs no source list.

    Scale shape: one narrow token-count pass; per-source totals (small
    agg); rates broadcast back; the sample predicate is a per-row hash
    compare; final per-source rollup. No global sort, nothing pairwise."""
    from .textstats import token_count_col

    counts = schemas.documents(docs, "source").select(
        "doc_id", "source", token_count_col(F.col("text")).alias("n_tokens")
    )
    totals = counts.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_avail"),
        F.count(F.lit(1)).cast("bigint").alias("docs_avail"),
    )
    if weights is None:
        weight_col = (
            F.conv(F.substring(F.md5(F.concat(F.lit("mixw:"), F.col("source"))), 1, 1),
                   16, 10).cast("bigint") + 1
        )
    else:
        wmap = F.create_map(
            *[x for s, w in sorted(weights.items()) for x in (F.lit(s), F.lit(int(w)))]
        )
        weight_col = F.coalesce(wmap[F.col("source")], F.lit(0)).cast("bigint")
    weighted = totals.select("source", "tokens_avail", "docs_avail",
                             weight_col.alias("weight"))
    wsum_df = weighted.agg(F.sum("weight").cast("bigint").alias("wsum"))
    planned = weighted.crossJoin(F.broadcast(wsum_df)).select(
        "source", "tokens_avail", "docs_avail", "weight",
        F.expr(f"(CAST({token_budget} AS BIGINT) * weight) div wsum")
        .alias("target_tokens"),
    ).select(
        "*",
        # target * 2^32 overflows bigint from target = 2^31 on, so the
        # product is decimal(38,0); a capped source (incl. 0 tokens) never
        # divides, and the uncapped quotient is < 2^32
        F.when(F.col("target_tokens") >= F.col("tokens_avail"), F.lit(1 << 32))
        .otherwise(F.expr(
            "(CAST(target_tokens AS DECIMAL(38,0)) * 4294967296) div tokens_avail"
        )).alias("rate_32"),
    )
    sampled = (
        counts.join(F.broadcast(planned.select("source", "rate_32")), "source")
        .where(split_hash_col(F.col("doc_id"), _MIX_SEED) < F.col("rate_32"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_sampled"),
            F.sum("n_tokens").cast("bigint").alias("tokens_sampled"),
        )
    )
    return (
        planned.join(sampled, "source", "left")
        .na.fill({"docs_sampled": 0, "tokens_sampled": 0})
        .select("source", "weight", "tokens_avail", "docs_avail",
                "target_tokens", "rate_32", "docs_sampled", "tokens_sampled")
    )
