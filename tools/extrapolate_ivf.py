"""IVF driver-gate scale reading: where does the driver arm stop paying?

Times an IVF-flat index build and a direct append (the two store
steps of the ``event_streams`` vector cycle) at several multiples of
the sf0.1 embeddings corpus under BOTH arms of
``operators/cumsum.py:DRIVER_BYTES``, interleaved within one session
(arm order alternating per rep) so box drift hits both equally:

  - ``driver`` — the input collected once with ``toArrow()`` and the
    per-batch kernels run in-process (gate forced open)
  - ``dist``   — Arrow map stages over ``local[N]`` tasks (gate -1)

A ``xK`` corpus is K copies of the sf0.1 ``(vec_id, embedding)``
relation unioned with disjoint ``vec_id`` ranges, so Catalyst's
estimate grows K-fold (the value the gate compares) while the
vectors stay real; the append batch is another K copies. The index
keeps the shipped ``N_CELLS``. Each row reports both arms' times and
whether the shipped gate would pick the driver arm at that size.

The union spreads a corpus over K one-row-group scans, one task
each, which charges the ``dist`` arm K tasks' fixed costs per job.
For a real layout at size, pass a corpus dir that
``tools/extrapolate_embeddings.py`` generated (one multi-row-group
file) with ``--scales 1``.

Usage: SPARK_GRAFT_CPUS=4 python tools/extrapolate_ivf.py <sf0.1 dir> [--reps 2] [--scales 1 25 50 100]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", help="testdata dir holding embeddings.parquet (sf0.1)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--scales", type=int, nargs="+", default=[1, 25, 50, 100])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.operators import cumsum as C
    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import vectors as V

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark_session(
        app_name="ivf-gate-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(64).repartition(cpus).mapInPandas(lambda it: it, "id long").count()

    base = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    span = base.agg(F.max("vec_id")).first()[0] + 1

    def copies(lo: int, k: int):
        out = None
        for i in range(lo, lo + k):
            part = base.withColumn("vec_id", F.col("vec_id") + i * span)
            out = part if out is None else out.unionByName(part)
        return out

    shipped_gate = C.DRIVER_BYTES
    gates = {"driver": 1 << 60, "dist": -1}
    report: dict = {}
    for k in args.scales:
        emb, batch = copies(0, k), copies(k, k)
        res: dict = {f"{arm}_{step}": [] for arm in gates for step in ("build", "append")}
        for rep in range(args.reps):
            for arm in sorted(gates, reverse=rep % 2 == 1):
                C.DRIVER_BYTES = gates[arm]
                d = tempfile.mkdtemp(prefix="ivf_gate_")
                try:
                    t0 = time.time()
                    V.build_ivf_flat_index(spark, args.sf_dir, d, emb=emb)
                    t1 = time.time()
                    V.append_to_ivf_flat_index(spark, batch, d)
                    t2 = time.time()
                finally:
                    C.DRIVER_BYTES = shipped_gate
                    shutil.rmtree(d, ignore_errors=True)
                res[f"{arm}_build"].append(round(t1 - t0, 2))
                res[f"{arm}_append"].append(round(t2 - t1, 2))
        est = C.estimated_bytes(emb)
        row = {
            "vectors": k * span,
            "estimate_bytes": est,
            "driver_arm_shipped": est is not None and est <= shipped_gate,
            **res,
            **{f"{key}_min": min(v) for key, v in res.items()},
        }
        report[f"x{k}"] = row
        print(json.dumps({f"x{k}": row}), flush=True)
    print(json.dumps(report), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
