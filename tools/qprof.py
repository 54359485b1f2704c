"""Per-query profiling harness (bench.py stays frozen; guide §1.4/§1.5).

Times individual declared queries with the noop sink, labeled jobs, and
optional explain("formatted") capture. Each timed repeat builds the
DataFrame and writes it, so the jobs a query runs while it is built (the
collects of ``tfidf_keywords`` and ``decontaminate``) count in its time.

    python tools/qprof.py --repeats 5 --explain-dir /tmp/plans \
        --suffix _before reading_order deskew
    python tools/qprof.py --all-explains /tmp/plans _before

``--sf`` defaults to the sf0.1 test corpus.

Prints one JSON line: {"queries": {name: [t1, t2, ...]}, "sf": ...}.
Runs on ``get_spark``'s default master (``local[$SPARK_GRAFT_CPUS]``) with
one shuffle partition per core, like ``tools/selfcheck.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# importing check_oracle (this script's directory is on sys.path) puts this
# checkout first on the driver's and the workers' path
import check_oracle  # noqa: E402,F401


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--all-explains", nargs=2, metavar=("DIR", "SUFFIX"),
                    default=None, help="dump explain for every headline query, no timing")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from text_extraction_system_spark.session import get_spark

    spark = get_spark(
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    qs = entrymod.queries()

    def explain_str(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    if args.all_explains:
        d, suffix = args.all_explains
        os.makedirs(d, exist_ok=True)
        import bench

        for name in bench.HEADLINE:
            df = qs[name](spark, args.sf)
            with open(os.path.join(d, f"{name}{suffix}.txt"), "w") as f:
                f.write(explain_str(df))
            print(f"# wrote {name}{suffix}.txt", file=sys.stderr)
        spark.stop()
        return

    # every write gets a freshly built DataFrame: a query with a lazy
    # localCheckpoint fills it in the write that first runs it, so a second
    # write of the same DataFrame would skip everything below the checkpoint.
    # The clock starts before the build, which may run jobs of its own.
    out: dict[str, list[float]] = {}
    for name in args.names:
        df = qs[name](spark, args.sf)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            with open(os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(explain_str(df))
        spark.sparkContext.setJobDescription(f"warm {name}")
        df.write.format("noop").mode("overwrite").save()  # warm
        ts = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        out[name] = ts
        print(f"# {name}: {ts}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"queries": out, "sf": args.sf}))


if __name__ == "__main__":
    main()
