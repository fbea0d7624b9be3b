"""Interleaved A/B: streaming drains under the default HDFS-backed
state-store provider vs RocksDB (r16 verdict item 4 — the micro-batch
machinery floor). One session, bench.py's config; the provider class is
a per-query conf (read at stream start), so the arms alternate within
each rep and box drift hits both equally.

Usage: python tools/ab_statestore.py [--sf-dir DIR] [--reps 3] [q ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
DEFAULT = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "queries", nargs="*",
        default=["events_stream_hourly", "events_stream_sessions",
                 "documents_stream_dedup_status"],
    )
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="ab-statestore", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").count()

    from udacity_dend_capstone_immigration_spark.workload import QUERIES
    from udacity_dend_capstone_immigration_spark.workload.base import read_events
    from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
        served_dedup_index_dir,
    )

    read_events(spark, args.sf_dir).limit(1).count()
    served_dedup_index_dir(spark, args.sf_dir)

    key = "spark.sql.streaming.stateStore.providerClass"
    out: dict[str, dict[str, list[float]]] = {}
    for qname in args.queries:
        fn = QUERIES[qname]
        res = {"hdfs": [], "rocksdb": []}
        for rep in range(args.reps):
            for prov, label in ((DEFAULT, "hdfs"), (ROCKSDB, "rocksdb")):
                spark.conf.set(key, prov)
                t0 = time.time()
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                res[label].append(round(time.time() - t0, 3))
                print(json.dumps({qname: {label: res[label][-1]}, "rep": rep}),
                      flush=True)
        spark.conf.unset(key)
        out[qname] = {
            "hdfs": res["hdfs"], "hdfs_min": min(res["hdfs"]),
            "rocksdb": res["rocksdb"], "rocksdb_min": min(res["rocksdb"]),
        }
    spark.stop()
    print(json.dumps({"out": out,
                      "load_avg": [round(x, 2) for x in os.getloadavg()]}),
          flush=True)


if __name__ == "__main__":
    main()
