"""Standalone min-of-N timer for individual workload queries.

Replicates bench.py's session config + warmup so numbers are comparable
to in-suite timings, then runs each named query ``--reps`` times
(noop sink) and prints per-rep and min timings.

Usage: python tools/time_query.py [--reps 3] [--sf-dir DIR] query [query ...]

The session runs at ``local[$SPARK_GRAFT_CPUS]`` (default 32, as in bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload import QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="time-query",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # mirror bench.py: many task threads need more than the 1g
            # default heap for the sort-merge verify joins
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").count()
    for name in ("lineitem", "orders", "customer", "nation", "region", "part",
                 "supplier", "documents", "embeddings"):
        spark.read.parquet(f"{args.sf_dir}/{name}.parquet").limit(1).count()

    out = {}
    for qname in args.queries:
        fn = QUERIES[qname]
        reps = []
        for _ in range(args.reps):
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            reps.append(round(time.time() - t0, 3))
        out[qname] = {"reps": reps, "min": min(reps)}
        print(json.dumps({qname: out[qname]}), flush=True)
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
