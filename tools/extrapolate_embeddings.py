"""One-off sf-extrapolation for the embeddings tier (r8 verdict item 6).

Generates embedding corpora at 10x and 100x the sf0.1 row count
(20k / 200k vectors) and times ``knn_ivf`` and
``semantic_dedup_representatives`` against them with N_CELLS retuned
per its own corpus-sizing note (N_CELLS ~ sqrt(N), `workload/vectors.py`
`_IVF_CELLS`), to confirm the two scale models:

- IVF training/assignment: each Lloyd/assign pass is one BLAS map scan
  whose only exchange carries N_CELLS x 64 cells — wall-time should
  grow ~linearly in corpus size;
- SemDeDup pair generation: within-cell pairs ~ corpus^2 / N_CELLS =
  N^1.5 at N_CELLS = sqrt(N) — the candidate count is measured
  directly, and the skew cap (16x mean cell size) bounds any hot cell.

Corpus generation resamples REAL sf0.1 vectors (keeps the coordinate
distribution / cosine geometry the tau=0.4 threshold was tuned on)
with per-dim Gaussian jitter at 0.3x the real per-dim std so resampled
copies are not exact dups, then plants ~2% near-clones (0.05x-std
jitter) so the dedup stage has real within-cell work at every scale.

Usage: python tools/extrapolate_embeddings.py [--scales 10 100] [--reps 2]
Writes corpora under /tmp/emb_extrap/ (scratch; regenerated on rerun).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

BASE_SF_DIR = "/root/testdata/sf0.1"
BASE_VECS = 2_000
OUT_ROOT = "/tmp/emb_extrap"


def real_matrix() -> tuple[np.ndarray, np.ndarray]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{BASE_SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    mat = np.array([r[1] for r in rows], dtype=np.float32)
    labels = duckdb.sql(
        f"SELECT label FROM '{BASE_SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchnumpy()["label"]
    return mat, np.asarray(labels, dtype=np.int32)


def generate(scale: int, rng: np.random.Generator, base: np.ndarray, labels: np.ndarray) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = BASE_VECS * scale
    src = rng.integers(0, len(base), size=n)
    std = base.std(axis=0)
    mat = base[src] + (rng.standard_normal((n, base.shape[1])) * 0.3 * std).astype(np.float32)
    # ~2% near-clones of earlier rows: tiny jitter -> high-cosine pairs
    n_clones = n // 50
    dst = rng.integers(n // 2, n, size=n_clones)
    frm = rng.integers(0, n // 2, size=n_clones)
    mat[dst] = mat[frm] + (
        rng.standard_normal((n_clones, base.shape[1])) * 0.05 * std
    ).astype(np.float32)
    out_dir = f"{OUT_ROOT}/x{scale}"
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": pa.array(labels[src], pa.int32()),
        }
    )
    # multi-row-group layout so the scan splits at every scale (the
    # driver testdata's one-row-group shape serializes map stages)
    pq.write_table(
        tbl, f"{out_dir}/embeddings.parquet", row_group_size=max(4_096, n // 32)
    )
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument(
        "--queries",
        nargs="+",
        default=None,
        help="override the default query list (skips the candidate-pair "
        "model check, which belongs to the SemDeDup tier)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.operators.similarity import assign_nearest_arrow
    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import QUERIES
    from udacity_dend_capstone_immigration_spark.workload import vectors as V

    rng = np.random.default_rng(42)
    base, labels = real_matrix()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="embeddings-extrapolation",
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

    to_time = args.queries or [
        "knn_ivf",
        "semantic_dedup_representatives",
        "semantic_dedup_diverse_reps",
        # r10: ingestion-time dedup (stream assign + stream-static
        # within-cell cosine) — measured 4.0/4.3/15.3s x1/x10/x100
        "embeddings_stream_dedup_status",
    ]
    report: dict[str, dict] = {q: {} for q in to_time}
    if args.queries is None:
        report["semdedup_candidate_pairs"] = {}

    def measure(sf_dir: str, tag: str, n_cells: int) -> None:
        with V.ivf_cells_override(n_cells):
            for name in to_time:
                reps, rows = [], None
                for _ in range(args.reps):
                    t0 = time.time()
                    rows = QUERIES[name](spark, sf_dir).count()
                    reps.append(round(time.time() - t0, 2))
                report[name][tag] = {"sec": min(reps), "reps": reps, "rows": rows, "n_cells": n_cells}
                print(f"  {name} {tag}: reps {reps}, {rows} rows (N_CELLS={n_cells})", flush=True)
            if args.queries is not None:
                return
            # candidate-pair count: the corpus^2/N_CELLS model check
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
            _, cb = V._ivf_train(emb)
            assign = assign_nearest_arrow(emb, cb, "vec_id", keep_embedding=True)
            t0 = time.time()
            pairs = V.semdedup_candidate_pairs(emb, assign).count()
            report["semdedup_candidate_pairs"][tag] = {
                "sec": round(time.time() - t0, 2),
                "pairs": pairs,
                "n_cells": n_cells,
            }
            print(f"  semdedup_candidate_pairs {tag}: {pairs} pairs", flush=True)

    measure(BASE_SF_DIR, "x1 (sf0.1)", V._IVF_CELLS)
    for scale in args.scales:
        out_dir = f"{OUT_ROOT}/x{scale}"
        if args.skip_gen and os.path.exists(f"{out_dir}/embeddings.parquet"):
            print(f"reusing x{scale}", flush=True)
        else:
            t0 = time.time()
            out_dir = generate(scale, rng, base, labels)
            print(
                f"generated x{scale} ({BASE_VECS * scale} vecs) in {round(time.time() - t0, 1)}s",
                flush=True,
            )
        n_cells = int(round(math.sqrt(BASE_VECS * scale)))
        measure(out_dir, f"x{scale}", n_cells)

    spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
