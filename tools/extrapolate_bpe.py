"""BPE trainer sf-extrapolation (VERDICT r16 item 8).

Times ``bpe_encode_corpus`` at x1 (sf0.1) / x10 / x100 document corpora
(the /tmp/dedup_extrap generator's output — Heaps-scaled vocab, real
length distribution) under BOTH trainer arms, interleaved within one
session so box drift hits both equally:

  - ``gated``  — the shipped r17 path (driver-side rounds under the
    32 MiB corpus-estimate ceiling, distributed map-only rounds past it)
  - ``dist``   — the r16 distributed map-only rounds forced at every
    scale (gate ceiling set to -1)

The x100 corpus sits past the gate, so ``gated`` ≡ ``dist`` there by
construction — the comparison at x100 is the map-only-round shape's
scale reading itself; at x1/x10 the delta IS the per-round job-overhead
tax the driver gate removes.

Usage: python tools/extrapolate_bpe.py [--reps 2] [--scales 10 100]
Corpora must already exist (tools/extrapolate_dedup.py generates them).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import QUERIES
    from udacity_dend_capstone_immigration_spark.operators import cumsum as C

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="bpe-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "64g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").count()

    dirs = {1: "/root/testdata/sf0.1"}
    for s in args.scales:
        d = f"/tmp/dedup_extrap/x{s}"
        assert os.path.isdir(d), f"{d} missing — run tools/extrapolate_dedup.py first"
        dirs[s] = d

    shipped_gate = C.DRIVER_BYTES
    out: dict = {}
    for scale, sf_dir in sorted(dirs.items()):
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1).count()
        res = {"gated": [], "dist": []}
        for _ in range(args.reps):
            for arm, gate in (("gated", shipped_gate), ("dist", -1)):
                C.DRIVER_BYTES = gate
                spark.sparkContext.setJobDescription(
                    f"bpe_encode_corpus x{scale} [{arm}]"
                )
                t0 = time.time()
                QUERIES["bpe_encode_corpus"](spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                res[arm].append(round(time.time() - t0, 3))
        C.DRIVER_BYTES = shipped_gate
        est = spark.read.parquet(f"{sf_dir}/documents.parquet")
        est_b = int(est._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        out[f"x{scale}"] = {
            "gated": res["gated"],
            "gated_min": min(res["gated"]),
            "dist": res["dist"],
            "dist_min": min(res["dist"]),
            "corpus_estimate_bytes": est_b,
            "driver_path_fires": est_b <= shipped_gate,
        }
        print(json.dumps({f"x{scale}": out[f"x{scale}"]}), flush=True)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
