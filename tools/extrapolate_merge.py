"""One-off sf-extrapolation for the MERGE/CDC tier (late r12).

The claim to verify: `sources/merge.py:merge_upsert` costs
O(touched partitions), not O(store) — at any store size a one-day
update batch rewrites ~1/30 of a 30-day day-partitioned store, where
the naive alternative (read-modify-write the whole table) pays the
full store every batch. Uses the real sf0.1 events plus the
/tmp/events_extrap x10/x100 uniform corpora (tools/extrapolate_events
generates them; run it first if absent).

Per scale, timed min-of-``--reps``:
- build: day-partitioned store write (the one-time layout cost);
- merge_1day: merge_upsert of an update batch touching ONE day
  (every event of 2024-01-15 gets value+1);
- full_rewrite: the naive alternative — apply the same update by
  rewriting the entire store.

Usage: python tools/extrapolate_merge.py [--scales 10 100] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.sources.merge import merge_upsert  # noqa: E402
from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload.base import read_events  # noqa: E402

BASE_SF_DIR = "/root/testdata/sf0.1"
EXTRAP_ROOT = "/tmp/events_extrap"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="merge-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    def src_df(tag: str):
        if tag == "x1":
            return read_events(spark, BASE_SF_DIR)
        d = f"{EXTRAP_ROOT}/{tag}_hot0"
        if not os.path.isdir(d):
            raise SystemExit(f"{d} missing — run tools/extrapolate_events.py first")
        return read_events(spark, d)

    report: dict[str, dict] = {}
    for tag in ["x1"] + [f"x{s}" for s in args.scales]:
        ev = src_df(tag).select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.col("ts").cast("date").cast("string").alias("day_pt"),
        )
        times: dict[str, float] = {}

        def timed(name, fn):
            best = None
            for _ in range(args.reps):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 2)

        store = tempfile.mkdtemp(prefix=f"merge_extrap_{tag}_")

        timed("build", lambda: write_parquet(ev, store, partition_by=("day_pt",)))
        upd = ev.where(F.col("day_pt") == "2024-01-15").withColumn(
            "value", F.col("value") + F.lit(1.0)
        )

        timed(
            "merge_1day",
            lambda: merge_upsert(spark, store, upd, ("event_id",), "day_pt"),
        )

        timed(
            "merge_1day_stable",
            lambda: merge_upsert(
                spark,
                store,
                upd,
                ("event_id",),
                "day_pt",
                assume_stable_partitions=True,
            ),
        )

        def full_rewrite():
            base = spark.read.parquet(store)
            out = base.join(
                upd.select("event_id"), "event_id", "left_anti"
            ).unionByName(upd.select(*base.columns)).localCheckpoint(eager=True)
            write_parquet(out, store, partition_by=("day_pt",))

        timed("full_rewrite", full_rewrite)
        rows = spark.read.parquet(store).count()
        report[tag] = {"rows": rows, **times}
        print(tag, report[tag], flush=True)

    spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
