"""End-of-round self-check artifact (VERDICT r5 item 1b): run every
declared query against its DuckDB oracle twin at one or more scale
factors and write a compact JSON record (name -> rows/cols/hash/runtimes)
so reviewers can audit all-59-query correctness without a judge-length
Spark re-run. Each query records its output's ``value_hash``, so two
records (say, of a change and of its parent) show whether any query's
output changed, even where the query and its oracle changed together.

    python tools/selfcheck.py SELFCHECK.json /root/testdata/sf0.01 /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import sys
import time

# importing check_oracle (this script's directory is on sys.path) puts this
# checkout first on the driver's and the workers' path
from check_oracle import TABLES, value_hash  # noqa: E402


def run_sf(sf_dir: str) -> dict:
    import duckdb

    import __spark_entry__ as entrymod
    from text_extraction_system_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # get_spark's default master (local[$SPARK_GRAFT_CPUS]); one shuffle
    # partition per core
    spark = get_spark()
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    out: dict[str, dict] = {}
    for name, fn in qs.items():
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        t_spark = round(time.time() - t0, 1)
        shash = value_hash(scols, srows)
        if name not in oq:
            out[name] = {"rows": len(srows), "oracle": False, "value_hash": shash}
            continue
        t0 = time.time()
        res = con.execute(oq[name])
        dcols = [d[0] for d in res.description]
        drows = [tuple(r) for r in res.fetchall()]
        t_duck = round(time.time() - t0, 1)
        out[name] = {
            "rows": len(srows),
            "oracle_rows": len(drows),
            "cols_match": sorted(scols) == sorted(dcols),
            "hash_match": shash == value_hash(dcols, drows),
            "value_hash": shash,
            "spark_sec": t_spark,
            "duck_sec": t_duck,
        }
        print(f"# {sf_dir} {name}: {out[name]}", file=sys.stderr)
    spark.stop()
    con.close()
    return out


def main() -> None:
    out_path = sys.argv[1]
    sf_dirs = sys.argv[2:] or ["/root/testdata/sf0.01"]
    record = {}
    for sf in sf_dirs:
        record[sf] = run_sf(sf)
    n_fail = sum(
        1
        for sf in record.values()
        for q in sf.values()
        if q.get("oracle", True) and not (q.get("hash_match") and q.get("cols_match"))
    )
    record["summary"] = {
        "total_checks": sum(len(v) for k, v in record.items() if k != "summary"),
        "failures": n_fail,
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"wrote {out_path}: {record['summary']}")


if __name__ == "__main__":
    main()
