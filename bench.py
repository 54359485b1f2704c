"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] (default 32) and prints:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": <sf>, "docs_per_sec": ..., ...}

Results are written with the noop sink so timing covers the full distributed
plan without driver-side collect cost.

Every timed phase is QUIET-GATED (round-4 verdict item 1): host busy/steal
and foreign-session CPU are sampled around each attempt, and a phase whose
foreign CPU or hypervisor steal exceeds the thresholds is re-run (bounded
attempts). Round 4's driver record was poisoned exactly this way — the
pipeline phase ran under load1 ~14.9 with 0.65 steal cores and recorded
14k docs/s for code that measures ~50k in a quiet window; bench.py recorded
the interference but did not act on it. Now it does: timings come from the
quietest attempts only, and every attempt's host evidence is in the output
so a contaminated record is self-identifying.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "extract_restitch",
    "plain_text",
    "paragraphs",
    "sentences",
    "sections",
    "ocr_route",
    "rotation",
    "deskew",
    "reading_order",
    "sections_toc",
    "text_coords",
    "coords_text",
    "media_decode",
    "media_rotate",
    "boilerplate",
    "tables",
    "quality",
    "repetition",
    "lang_id",
    "tfidf_keywords",
    "fingerprint",
    "simhash",
    "exact_dedup",
    "curation_funnel",
    "media_features",
    "media_near_dup",
    # dup_clusters is deliberately NOT here: connected_components runs its
    # iterative actions (checkpoint + convergence counts) when the query is
    # BUILT, so a noop-write timing would measure only the final label
    # write, not the clustering — a dishonest number
    "near_dup_pairs",
    "dup_windows",
    "decontaminate",
    "split_assign",
    "source_stats",
    "mixture_plan",
    "incremental_dedup",
    "release_manifest",
    "pack_bins",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "incremental_ann",
    "ann_pq_topk",
    "ann_ivf_pq",
    "ann_pq_rerank",
    "sessionize",
    "tumbling",
    "pricing_summary",
    "nation_revenue",
]

#: a timed attempt counts as quiet when co-runner (foreign-session) CPU and
#: hypervisor steal stay below these many cores — same thresholds as
#: tools/scaling_bench.py, which proved them discriminative (one steal-hit
#: attempt at 3.1 cores collapsed measured efficiency 0.75 -> 0.195).
QUIET_FOREIGN_CORES = float(os.environ.get("BENCH_QUIET_FOREIGN_CORES", "1.5"))
QUIET_STEAL_CORES = float(os.environ.get("BENCH_QUIET_STEAL_CORES", "0.5"))
#: minimum timed attempts per phase (min-of-k is the stable plan-cost
#: signal on this host) and the retry cap while the window stays noisy
MIN_ATTEMPTS = int(os.environ.get("BENCH_MIN_ATTEMPTS", "2"))
MAX_ATTEMPTS = int(os.environ.get("BENCH_MAX_ATTEMPTS", "4"))


def _foreign_cpu_ticks() -> int:
    """utime+stime of every process OUTSIDE this benchmark's session — the
    direct co-runner measurement (RUSAGE_CHILDREN misses python-UDF workers
    the JVM kills without reaping, which would misattribute our own CPU as
    foreign). The Spark JVM and its python workers inherit our session id,
    so they are correctly counted as ours."""
    ours = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            if int(parts[3]) == ours:  # post-comm field 3 = session id
                continue
            total += int(parts[11]) + int(parts[12])  # utime + stime
        except (OSError, IndexError, ValueError):
            continue  # process vanished mid-read
    return total


def _host_probe() -> dict:
    """/proc snapshot for interference evidence: busy/steal cpu ticks,
    foreign-session CPU and load."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"busy": user + nice + system + irq + softirq, "steal": steal,
            "iowait": iowait,
            "foreign": _foreign_cpu_ticks(), "load1": load1, "t": time.time()}


def _host_delta(a: dict, b: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    wall = max(b["t"] - a["t"], 1e-9)
    return {
        "host_busy_cores": round((b["busy"] - a["busy"]) / hz / wall, 2),
        "foreign_cpu_cores": round(max(b["foreign"] - a["foreign"], 0) / hz / wall, 2),
        "steal_cores": round((b["steal"] - a["steal"]) / hz / wall, 3),
        "iowait_cores": round((b["iowait"] - a["iowait"]) / hz / wall, 3),
        "load1_start": a["load1"],
        "load1_end": b["load1"],
    }


def _is_quiet(stats: dict) -> bool:
    return (stats["foreign_cpu_cores"] <= QUIET_FOREIGN_CORES
            and stats["steal_cores"] <= QUIET_STEAL_CORES)


def _gated(run_fn, name: str) -> tuple[list, list[dict]]:
    """Run a timed phase >= MIN_ATTEMPTS times, retrying up to MAX_ATTEMPTS
    while the host window is noisy. Returns (per-attempt values, per-attempt
    host stats with a 'quiet' flag) — the caller min-merges values, preferring
    quiet attempts."""
    values, attempts = [], []
    for i in range(MAX_ATTEMPTS):
        a = _host_probe()
        val = run_fn()
        stats = _host_delta(a, _host_probe())
        stats["quiet"] = _is_quiet(stats)
        values.append(val)
        attempts.append(stats)
        if i + 1 >= MIN_ATTEMPTS and stats["quiet"]:
            break
        if not stats["quiet"]:
            print(f"# {name} attempt {i}: foreign {stats['foreign_cpu_cores']} / "
                  f"steal {stats['steal_cores']} cores over threshold — retrying",
                  file=sys.stderr)
    return values, attempts


def _pick(values: list[float], attempts: list[dict]) -> float:
    """Min over quiet attempts; falls back to min over all when no attempt
    was quiet (the attempts list in the output then shows why)."""
    quiet = [v for v, s in zip(values, attempts) if s["quiet"]]
    return min(quiet) if quiet else min(values)


def main() -> None:
    import __spark_entry__ as entrymod
    from text_extraction_system_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # size scan splits for the bench corpora: the sf0.1 tables are a few MB
    # each and bin-pack into 1-2 default 128 MB splits, silently serializing
    # every CPU-bound stage that inherits scan partitioning (see BENCH.md);
    # at real data volumes the default split size is correct
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    qs = entrymod.queries()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    doc_bytes = os.path.getsize(f"{sf_dir}/documents.parquet")

    # PIPELINE PHASE FIRST, headline after: the headline phase compiles
    # and caches ~45 query plans (generated code, broadcast relations,
    # python workers), so measuring the pipeline afterwards adds that heap
    # state as a confound; ordering it first removes one variable from the
    # number the driver records. (The host's own invisible throughput
    # swings remain the bigger term — same-code pipeline runs measured
    # 4.6-18.5 s across windows with near-zero guest-visible steal; the
    # attempt evidence in the output is what arbitrates.) Throughput on a
    # replicated corpus: at sf0.1 the raw table is 5k docs, so a
    # single-query timing is all fixed cost; replicate with distinct
    # doc_ids and measure warm, quiet-gated min-of-k.
    from pyspark.sql import functions as F

    from text_extraction_system_spark import pipeline as pl
    from text_extraction_system_spark import synth

    rep = 64
    big_path = "/tmp/bench_corpus"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    synth.replicate_corpus(docs, rep, cpus * 4).write.mode("overwrite").parquet(big_path)
    big = spark.read.parquet(big_path)
    n_big = big.count()
    big_bytes = n_big / n_docs * doc_bytes
    res = pl.extract_from_documents(big)
    res.write.format("noop").mode("overwrite").save()  # warm

    def _pipe_run() -> float:
        t0 = time.time()
        res.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    pipe_vals, pipe_attempts = _gated(_pipe_run, "pipeline")
    pipe_sec = _pick(pipe_vals, pipe_attempts)
    pipeline_host = min(pipe_attempts,
                        key=lambda s: s["foreign_cpu_cores"] + s["steal_cores"])

    # build + warm every headline plan once (plan compile, JIT, python
    # workers, write-once state tables), then run quiet-gated timed sweeps:
    # each sweep times one noop write per query; per-query timing is the min
    # across quiet sweeps
    dfs = {n: qs[n](spark, sf_dir) for n in HEADLINE if n in qs}
    for df in dfs.values():
        df.write.format("noop").mode("overwrite").save()

    def _sweep() -> dict[str, float]:
        t: dict[str, float] = {}
        for name, df in dfs.items():
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t[name] = time.time() - t0
        return t

    sweeps, head_attempts = _gated(_sweep, "headline")
    quiet_sweeps = [s for s, a in zip(sweeps, head_attempts) if a["quiet"]] or sweeps
    timings = {n: round(min(s[n] for s in quiet_sweeps), 3) for n in dfs}
    total = round(sum(timings.values()), 3)
    headline_host = min(head_attempts,
                        key=lambda s: s["foreign_cpu_cores"] + s["steal_cores"])

    # giant-doc row: one 10^5-span document through extraction — the skew
    # archetype measured AT measurement time (the pytest linearity guard's
    # bench twin). Wall time should stay O(spans); a quadratic regression
    # shows up here as minutes, not seconds.
    n_spans = 100_000
    giant = spark.range(1).select(
        F.lit("giantperf").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_spans - 1)),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("w"), i.cast("string")).alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    gres = pl.extract_from_spans(giant, with_structure=False)
    gres.write.format("noop").mode("overwrite").save()  # warm

    def _giant_run() -> float:
        t0 = time.time()
        gres.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    giant_vals, giant_attempts = _gated(_giant_run, "giant")
    gbest = _pick(giant_vals, giant_attempts)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "pipeline_n_docs": n_big,
        "pipeline_sec": round(pipe_sec, 2),
        "docs_per_sec": round(n_big / pipe_sec, 1),
        "mb_per_sec": round(big_bytes / 1e6 / pipe_sec, 2),
        "giant_doc_spans": n_spans,
        "giant_doc_sec": round(gbest, 2),
        "cpus": cpus,
        "quiet_threshold_foreign_cores": QUIET_FOREIGN_CORES,
        "quiet_threshold_steal_cores": QUIET_STEAL_CORES,
        "quiet_headline": any(a["quiet"] for a in head_attempts),
        "quiet_pipeline": any(a["quiet"] for a in pipe_attempts),
        "host_headline": headline_host,
        "host_pipeline": pipeline_host,
        "attempts": {
            "headline": head_attempts,
            "pipeline": pipe_attempts,
            "giant": giant_attempts,
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
