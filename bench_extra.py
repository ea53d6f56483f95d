"""Ad-hoc per-query timing harness for the optimization rounds (bench.py
is frozen for measurement; this file is for isolating and iterating).

Usage: python bench_extra.py [-n REPS] query [query ...]
       python bench_extra.py --plans OUTDIR [query ...]
Times each named registry query, min of REPS runs after bench.py's
warm-up, and prints one line per query.  Each run writes the query's
frame through the noop sink, so every output column is computed: a
`count()` would let Catalyst prune computed columns and time only the
scan.  `--plans` times nothing: it writes each query's
`explain('formatted')` plan to OUTDIR/<query>.txt, for bench.py's
headline set when no names are given.
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def dump_plans(spark, sf_dir: str, outdir: str, names: list[str]) -> None:
    from pdf_extract_spark.queries import QUERIES

    os.makedirs(outdir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=2)
    ap.add_argument("--plans", metavar="OUTDIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not (args.queries or args.plans):
        ap.error("name at least one query to time")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pdf_extract_spark.plans.session import get_spark
    from pdf_extract_spark.queries import HEADLINE, QUERIES

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    if args.plans:
        dump_plans(spark, sf_dir, args.plans, args.queries or HEADLINE)
        spark.stop()
        return
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()  # warm-up
    from bench import _unpersist_all

    for name in args.queries:
        fn = QUERIES[name]
        samples = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            _unpersist_all(spark)
        print(f"{min(samples):7.3f}  {name}  samples={samples}")
    spark.stop()


if __name__ == "__main__":
    main()
