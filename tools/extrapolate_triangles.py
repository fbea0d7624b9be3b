"""Hub-skew audit for `operators/graph.py:triangle_counts` (r12
verdict item 6): a synthetic near-dup graph with ONE hub doc touching
``--hub-frac`` of all edges (the boilerplate-doc shape), at ~1M edges.

Reports, for BOTH orientations, the wedge totals and the max per-task
fan-out (max out-degree, whose square is the hot task's pair count) —
computed analytically from the degree tables, so the id-oriented
blowup is QUANTIFIED without having to sit through it — then actually
runs the degree-oriented operator and times it.

Usage: python tools/extrapolate_triangles.py [--edges 1000000]
       [--hub-frac 0.1] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def gen_edges(n_edges: int, hub_frac: float, rng) -> "np.ndarray":
    n_nodes = n_edges  # sparse background graph
    n_hub = int(n_edges * hub_frac)
    hub = 0
    hub_nbrs = rng.choice(np.arange(1, n_nodes), size=n_hub, replace=False)
    bg_n = n_edges - n_hub
    a = rng.integers(1, n_nodes, size=int(bg_n * 1.3))
    b = rng.integers(1, n_nodes, size=int(bg_n * 1.3))
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keep = lo != hi
    bg = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)[:bg_n]
    hub_edges = np.stack([np.full(n_hub, hub), hub_nbrs], axis=1)
    edges = np.concatenate([hub_edges, bg])
    # close some hub wedges so triangles through the hub exist
    tri_close = np.stack([hub_nbrs[:-1:50], hub_nbrs[1::50]], axis=1)
    lo = np.minimum(tri_close[:, 0], tri_close[:, 1])
    hi = np.maximum(tri_close[:, 0], tri_close[:, 1])
    edges = np.unique(
        np.concatenate([edges, np.stack([lo, hi], axis=1)]), axis=0
    )
    return edges


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--hub-frac", type=float, default=0.1)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.operators.graph import triangle_counts
    from udacity_dend_capstone_immigration_spark.session import get_spark_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="triangle-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(7)
    e = gen_edges(args.edges, args.hub_frac, rng)
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": e[:, 0], "id_b": e[:, 1]})
    ).localCheckpoint(eager=True)

    # analytic wedge audit: sum od^2 and max od per orientation
    deg = (
        edges.select(F.col("id_a").alias("v"))
        .unionAll(edges.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        edges.join(deg.withColumnRenamed("v", "id_a").withColumnRenamed("d", "da"), "id_a")
        .join(deg.withColumnRenamed("v", "id_b").withColumnRenamed("d", "db"), "id_b")
        .localCheckpoint(eager=True)
    )

    def audit(df, src_col):
        od = df.groupBy(F.col(src_col).alias("s")).agg(F.count(F.lit(1)).alias("od"))
        r = od.agg(
            F.max("od").alias("max_od"),
            F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("wedges"),
        ).collect()[0]
        return {"max_out_degree": int(r["max_od"]), "wedge_pairs": int(r["wedges"])}

    # id orientation: src = id_a (rows are canonical a<b)
    id_audit = audit(ed, "id_a")
    # degree orientation: src = lower-(degree,id) endpoint
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    ed_deg = ed.withColumn(
        "src", F.when(a_first, F.col("id_a")).otherwise(F.col("id_b"))
    )
    deg_audit = audit(ed_deg, "src")

    reps = []
    n_tri_docs = None
    for _ in range(args.reps):
        t0 = time.time()
        n_tri_docs = triangle_counts(edges).count()
        reps.append(round(time.time() - t0, 2))

    print(
        json.dumps(
            {
                "n_edges": edges.count(),
                "hub_frac": args.hub_frac,
                "id_oriented": id_audit,
                "degree_oriented": deg_audit,
                "triangle_counts_sec": {"reps": reps, "min": min(reps)},
                "nodes_in_triangles": n_tri_docs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
