"""A/B the PQ code budget against recall@5 (r11 verdict next #7).

The registered 4-block x 16-code layout (4 B/vec) serves recall@5
0.28-0.36; this tool re-runs the SAME inline IVF-PQ serving path under
wider budgets (via `pq_config_override`) and scores recall against the
exact brute-force top-5 — the go/no-go measurement for whether any PQ
budget rescues compressed serving on this corpus, or whether SQ8
(64 B/vec, recall == flat) stays the compressed default.

Usage: python tools/pq_ab.py [sf_dir]   (default /root/testdata/sf0.01)
Prints one line per layout: blocks x codes, bytes/vec, recall@5,
distortion-audit cosine keep.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.session import get_spark_session
from udacity_dend_capstone_immigration_spark.workload import QUERIES
from udacity_dend_capstone_immigration_spark.workload.vectors import pq_config_override


def recall_at_5(spark, sf_dir) -> float:
    ap5 = (
        QUERIES["knn_ivfpq"](spark, sf_dir)
        .where(F.col("query_id") < 10)
        .select("query_id", "neighbor_id")
    )
    exact5 = (
        QUERIES["knn_brute_force"](spark, sf_dir)
        .where((F.col("rank") <= 5) & (F.col("query_id") < 10))
        .select("query_id", "neighbor_id")
    )
    hits = ap5.join(exact5, ["query_id", "neighbor_id"]).count()
    n_q = exact5.select("query_id").distinct().count()
    return hits / (5.0 * n_q)


def cosine_keep(spark, sf_dir) -> float:
    rows = QUERIES["embedding_pq_distortion"](spark, sf_dir).collect()
    return sum(r["cosine_keep"] for r in rows) / len(rows)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark_session(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    layouts = [(4, 16), (8, 16), (8, 256), (16, 256)]
    for blocks, codes in layouts:
        bytes_per_vec = blocks * max(1, math.ceil(math.log2(codes) / 8))
        with pq_config_override(blocks, codes):
            r = recall_at_5(spark, sf_dir)
            ck = cosine_keep(spark, sf_dir)
        print(
            f"pq {blocks}x{codes}  ~{bytes_per_vec} B/vec  "
            f"recall@5={r:.3f}  cosine_keep={ck:.5f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
