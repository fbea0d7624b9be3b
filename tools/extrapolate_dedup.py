"""One-off sf-extrapolation for the steepest-growing dedup queries.

Generates document corpora at 10x and 100x the sf0.1 row count
(50k / 500k docs) and times ``dedup_ngram_jaccard`` and
``dedup_prefix_filter_jaccard`` against them, to confirm the capped
candidate count stays ~linear where the cost model predicts
(BASELINE.md round-7 scale table: 2.1x / 3.1x growth at 10x data).

Why not just clone the driver testdata 100x: its 31-word vocabulary is
trigram-SATURATED at sf0.1 (27,213 of 31^3=29,791 possible trigrams
already occur; mean df 9.6). Cloning rows 100x would push every
shingle's document frequency ~100x past the df<=50 stop-shingle cap and
the candidate stage would go trivially empty — measuring nothing. A
real 100x corpus grows vocabulary (Heaps' law), so this generator
scales vocab with cbrt(docs) to HOLD the df regime of the real data
(expected trigram df = docs x tokens_per_doc / vocab^3 ~ 9, matching
sf0.1), samples doc lengths from the real sf0.1 length distribution,
and clones ~2% of docs with 10% token noise so the Jaccard-verify
stage has real near-dup work at every scale.

Usage: python tools/extrapolate_dedup.py [--scales 10 100] [--reps 2]
Writes corpora under /tmp/dedup_extrap/ (scratch; regenerated on rerun).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

QUERIES_TO_TIME = ["dedup_ngram_jaccard", "dedup_prefix_filter_jaccard"]
BASE_SF_DIR = "/root/testdata/sf0.1"
BASE_DOCS = 5_000
BASE_VOCAB = 31
OUT_ROOT = "/tmp/dedup_extrap"


def real_token_lengths() -> np.ndarray:
    import duckdb

    return np.array(
        duckdb.sql(
            f"SELECT len(string_split(text, ' ')) AS n FROM '{BASE_SF_DIR}/documents.parquet'"
        ).fetchnumpy()["n"],
        dtype=np.int64,
    )


def generate(scale: int, rng: np.random.Generator, lengths: np.ndarray) -> str:
    """Write a documents.parquet at ``scale``x sf0.1 rows; returns dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_docs = BASE_DOCS * scale
    vocab_n = int(round(BASE_VOCAB * scale ** (1 / 3)))
    vocab = np.array([f"w{i:04d}" for i in range(vocab_n)])
    doc_len = rng.choice(lengths, size=n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        toks = vocab[rng.integers(0, vocab_n, size=doc_len[i])]
        texts.append(" ".join(toks))
    # ~2% near-dup clones: copy an earlier doc, resample 10% of tokens
    n_clones = n_docs // 50
    clone_to = rng.integers(n_docs // 2, n_docs, size=n_clones)
    clone_from = rng.integers(0, n_docs // 2, size=n_clones)
    for dst, src in zip(clone_to, clone_from):
        toks = texts[src].split(" ")
        for j in rng.integers(0, len(toks), size=max(1, len(toks) // 10)):
            toks[j] = vocab[rng.integers(0, vocab_n)]
        texts[dst] = " ".join(toks)
    out_dir = f"{OUT_ROOT}/x{scale}"
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.where(np.arange(n_docs) % 5 == 0, "zh", "en")),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # multi-row-group layout like a production table (NOT the driver's
    # one-row-group-per-file shape) so the scan splits naturally at
    # EVERY scale — a fixed row-group size left the 10x corpus as one
    # row group, serializing its shingle explode onto one core and
    # inverting the x10/x100 timing ratio
    pq.write_table(
        tbl, f"{out_dir}/documents.parquet", row_group_size=max(4_096, n_docs // 32)
    )
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--skip-gen",
        action="store_true",
        help="reuse existing /tmp/dedup_extrap/x{N} corpora (re-timing runs)",
    )
    ap.add_argument(
        "--queries",
        nargs="+",
        default=None,
        help="override the default query list (e.g. dedup_edit_distance)",
    )
    args = ap.parse_args()
    queries_to_time = args.queries or QUERIES_TO_TIME

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    rng = np.random.default_rng(42)
    lengths = real_token_lengths()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="dedup-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the per-round bench runs in the default 1g local heap; a
            # 100x corpus needs executor-scale memory (this box: 128 GiB)
            "spark.driver.memory": "64g",
            # local-mode broadcast builds ship through task results; the
            # default 1g cap aborts otherwise-fine x100 runs
            "spark.driver.maxResultSize": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    report: dict[str, dict] = {}
    for name in queries_to_time:
        base_reps = []
        rows = None
        for _ in range(args.reps):
            t0 = time.time()
            # count(), matching the scaled runs below (same action for
            # honest ratios; pair count is part of the check anyway)
            rows = QUERIES[name](spark, BASE_SF_DIR).count()
            base_reps.append(round(time.time() - t0, 2))
        report[name] = {"x1 (sf0.1)": {"sec": min(base_reps), "pairs": rows}}

    for scale in args.scales:
        out_dir = f"{OUT_ROOT}/x{scale}"
        if args.skip_gen and os.path.exists(f"{out_dir}/documents.parquet"):
            print(f"reusing x{scale}", flush=True)
        else:
            t0 = time.time()
            out_dir = generate(scale, rng, lengths)
            gen_s = round(time.time() - t0, 1)
            print(f"generated x{scale} ({BASE_DOCS * scale} docs) in {gen_s}s", flush=True)
        for name in queries_to_time:
            reps = []
            rows = None
            for _ in range(args.reps):
                t0 = time.time()
                q = QUERIES[name](spark, out_dir)
                rows = q.count()  # count, not noop: pair count is part of the check
                reps.append(round(time.time() - t0, 2))
            report[name][f"x{scale}"] = {"sec": min(reps), "reps": reps, "pairs": rows}
            print(f"  {name} x{scale}: reps {reps}, {rows} pairs", flush=True)

    spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
