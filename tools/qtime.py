"""Isolated per-query timing + plan capture for optimization work.

Times selected registry queries through the same GC-barriered noop-sink
methodology as bench.py (best of N reps), without touching
BENCH_FULL.json / BENCH_RECORD.json. Next to each rep's time it prints
the number of classes Janino compiled for it (codegen cache misses: a
warm rep should compile few). Optionally dumps
``.explain('formatted')`` per query.

Usage:
    python tools/qtime.py [--reps N] [--plans DIR] [--sf SF_DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="", help="plan filename suffix")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from neo4j_arrow_spark.operators.dedup import unpersist_intermediates
    from neo4j_arrow_spark.queries import queries
    from neo4j_arrow_spark.session import get_session

    spark = get_session("qtime")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = queries()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    out: dict[str, float] = {}
    for name in args.queries:
        fn = qs[name]
        times, classes = [], []
        for _ in range(args.reps):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(name)
            c0, t0 = compiles(), time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            classes.append(compiles() - c0)
            unpersist_intermediates(df)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(min(times), 3)
        print(f"{name}: best {out[name]}s reps={[round(t, 2) for t in times]} "
              f"compiled={classes}", flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
            unpersist_intermediates(df)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
