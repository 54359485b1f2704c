"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Usage:
  python tools/package.py                        # builds dist/pyfiles.zip
  spark-submit --py-files dist/pyfiles.zip job.py \
      --input  /path/to/spans_or_documents_parquet \
      --output /path/to/output_base \
      [--input-kind spans|documents] [--run-id RUN] [--num-partitions N]

Reads the input table, runs the extraction pipeline with checkpoint/resume
semantics (only docs absent from output/results are processed), writes
results + per-partition lineage metrics under --output.
"""

from __future__ import annotations

import argparse


def main() -> None:
    from pyspark.sql import SparkSession

    from text_extraction_system_spark import lineage
    from text_extraction_system_spark.operators import derive_spans as ds

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-kind", choices=["spans", "documents"], default="spans")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--num-partitions", type=int, default=0)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("spark-text-extract").getOrCreate()
    df = spark.read.parquet(args.input)
    if args.input_kind == "documents":
        df = ds.derive_spans(df)

    # cost salting is applied INSIDE run_extraction, after the resume
    # anti-join — applying it here would be shuffled away by the join on
    # every resume run
    summary = lineage.run_extraction(
        spark,
        df,
        args.output,
        run_id=args.run_id,
        num_partitions=args.num_partitions,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
