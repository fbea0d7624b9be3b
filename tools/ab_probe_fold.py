"""Interleaved A/B: pre-r17 vs r17 serve-side probe setup.

Arms alternate per rep within one session (box drift hits both):
  spark_probe — the pre-r17 shape: centroid relation read via
    spark.read.parquet, PQ codebooks collected via a Spark job, probe
    list from the crossJoin+window `_ivf_probes` job, query side
    re-scanned from embeddings.parquet inside the serving plan.
  local_probe — the shipped r17 shape: `_served_probe_setup` (one
    bounded query collect; centroids/codebooks via pyarrow; probe
    ranking driver-side; local q relation).

Both arms serve knn_ivfpq from the same warm memoized index; results
are asserted identical once at start.

Usage: python tools/ab_probe_fold.py [--reps 4]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.operators.similarity import (
        Codebook,
        pq_decode_codes,
    )
    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload.base import table
    from udacity_dend_capstone_immigration_spark.workload.vectors import (
        _ivf_probes,
        _ivfpq_topk,
        _served_probe_setup,
        served_index_dir,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="ab-probe-fold",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").count()
    spark.read.parquet(f"{SF}/embeddings.parquet").limit(1).count()
    idx = served_index_dir(spark, SF)

    def arm_spark_probe():
        emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
        cents = spark.read.parquet(f"{idx}/ivf_centroids")
        by_block: dict = {}
        for r in spark.read.parquet(f"{idx}/pq_codebooks").collect():
            by_block.setdefault(r["block"], []).append((r["code"], r["codeword"]))
        books = [Codebook(by_block[j]) for j in sorted(by_block)]
        probe_rows = [
            (int(r["query_id"]), int(r["cell"]))
            for r in _ivf_probes(emb, cents).collect()
        ]
        probed = sorted({c for _, c in probe_rows})
        probes = spark.createDataFrame(probe_rows, "query_id long, cell long")
        codes = (
            spark.read.parquet(f"{idx}/pq_codes")
            .where(F.col("cell_pt").isin(probed))
            .select("vec_id", "codes", "cell")
        )
        recon = pq_decode_codes(codes, books, passthrough=("cell",)).select(
            F.col("vec_id").alias("neighbor_id"), "r", "cell"
        )
        return _ivfpq_topk(emb, cents, recon, probes=probes)

    def arm_local_probe():
        from udacity_dend_capstone_immigration_spark.workload.vectors import (
            load_pq_codebooks,
        )

        emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
        books = load_pq_codebooks(spark, f"{idx}/pq_codebooks")
        probes, probed, q = _served_probe_setup(spark, idx, emb)
        codes = (
            spark.read.parquet(f"{idx}/pq_codes")
            .where(F.col("cell_pt").isin(probed))
            .select("vec_id", "codes", "cell")
        )
        recon = pq_decode_codes(codes, books, passthrough=("cell",)).select(
            F.col("vec_id").alias("neighbor_id"), "r", "cell"
        )
        return _ivfpq_topk(emb, None, recon, probes=probes, q=q)

    a = {tuple(r) for r in arm_spark_probe().collect()}
    b = {tuple(r) for r in arm_local_probe().collect()}
    assert a == b, "arms disagree"

    res = {"spark_probe": [], "local_probe": []}
    for _ in range(args.reps):
        for name, fn in (("spark_probe", arm_spark_probe), ("local_probe", arm_local_probe)):
            spark.sparkContext.setJobDescription(f"ivfpq serve [{name}]")
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            res[name].append(round(time.time() - t0, 3))
    print(json.dumps({k: {"reps": v, "min": min(v)} for k, v in res.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
