"""SCD2-apply sf-extrapolation (r13): verify the claim that
`sources/merge.py:scd2_apply` costs O(affected-current + new
versions), never O(history).

Synthetic dimension: N users × 12 MONTHLY versions each (current =
month 12; month-partitioned store via partition_expr = yyyymm), then
ONE change batch (every user changes once in month 13 — the
worst-case current-touch). Timed min-of-``--reps``:

- build: the 12-month history store write (one-time);
- scd2_apply: close-and-insert through the touched-partitions path —
  should read/write months 12+13 only (2/13 of the store);
- full_rewrite: the naive alternative — recompute closing over the
  WHOLE history and rewrite every partition.

Usage: python tools/extrapolate_scd2.py [--users 10000 100000 1000000]
       [--reps 2]
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
from udacity_dend_capstone_immigration_spark.sources.merge import scd2_apply  # noqa: E402
from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--users", type=int, nargs="+", default=[10_000, 100_000, 1_000_000]
    )
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="scd2-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    month_expr = (F.year("valid_from") * 100 + F.month("valid_from")).cast("int")
    report: dict[str, dict] = {}
    for n_users in args.users:
        # 12 monthly versions per user, current = month 12
        month = F.col("m").cast("int")
        hist = (
            spark.range(n_users)
            .withColumnRenamed("id", "k")
            .crossJoin(spark.range(1, 13).withColumnRenamed("id", "m"))
            .select(
                "k",
                F.concat(F.lit("attr-"), F.col("m").cast("string")).alias("attr"),
                F.make_date(F.lit(2023), month, F.lit(1)).alias("valid_from"),
                F.when(
                    F.col("m") < 12,
                    F.make_date(F.lit(2023), (month + 1), F.lit(1)),
                )
                .otherwise(F.lit(None).cast("date"))
                .alias("valid_to"),
                (F.col("m") == 12).alias("is_current"),
                (F.lit(2023) * 100 + month).cast("int").alias("valid_mo"),
            )
        )
        changes = (
            spark.range(n_users)
            .withColumnRenamed("id", "k")
            .select(
                "k",
                F.lit("attr-13").alias("attr"),
                F.to_date(F.lit("2024-01-01")).alias("ts"),
            )
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

        store = tempfile.mkdtemp(prefix=f"scd2_extrap_{n_users}_")
        timed(
            "build",
            lambda: write_parquet(hist, store, partition_by=("valid_mo",)),
        )
        timed(
            "scd2_apply",
            lambda: scd2_apply(
                spark,
                store,
                changes,
                ("k",),
                "ts",
                partition_col="valid_mo",
                partition_expr=month_expr,
            ),
        )

        def full_rewrite():
            base = spark.read.parquet(store)
            keys = changes.select("k").distinct()
            first_ts = changes.groupBy("k").agg(F.min("ts").alias("_ft"))
            closed = (
                base.where(F.col("is_current"))
                .join(first_ts, "k")
                .withColumn("valid_to", F.col("_ft"))
                .withColumn("is_current", F.lit(False))
                .drop("_ft")
                .select(*base.columns)
            )
            untouched = base.join(
                keys.withColumn("_h", F.lit(1)), "k", "left"
            ).where(
                ~(F.col("is_current") & (F.coalesce(F.col("_h"), F.lit(0)) == 1))
            ).drop("_h").select(*base.columns)
            vers = changes.select(
                "k",
                "attr",
                F.col("ts").alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
                F.lit(True).alias("is_current"),
                (F.year("ts") * 100 + F.month("ts")).cast("int").alias("valid_mo"),
            )
            out = untouched.unionByName(closed).unionByName(
                vers.select(*base.columns)
            ).localCheckpoint(eager=True)
            write_parquet(out, store, partition_by=("valid_mo",))

        timed("full_rewrite", full_rewrite)
        rows = spark.read.parquet(store).count()
        report[f"users_{n_users}"] = {"rows": rows, **times}
        print(n_users, report[f"users_{n_users}"], flush=True)

    spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
