"""One-off sf-extrapolation for the events tier (r9 verdict item 6).

Generates events tables at 10x and 100x the sf0.1 row count (1M / 10M
rows) and times the three per-user-window queries whose partitions are
the realistic scale hazard — ``events_sessionize``,
``events_user_running_total``, ``events_moving_agg_1h`` — plus
``events_hourly_by_type`` as the shuffle-agg control. Each scale runs
TWICE: uniform users (user count grows with rows, holding ~66
events/user like the real sf0.1 data) and with a HOT-USER skew knob —
one user owning ``--hot-frac`` (default 10%) of all rows, i.e. a 1M-row
single window partition at 100x. Per-user windows cannot parallelize
inside a partition, so the hot variant measures exactly the
single-task-sort ceiling AQE cannot split (window, not join, so
skew-join splitting does not apply).

Time span stays the real data's 30 days at every scale (denser traffic,
like real growth), so sessionize's 30-minute gap and the 1h moving
frame see realistic per-user densities.

Usage: python tools/extrapolate_events.py [--scales 10 100] [--reps 2]
       [--hot-frac 0.1]
Writes tables under /tmp/events_extrap/ (scratch; regenerated on rerun).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

QUERIES_TO_TIME = [
    "events_sessionize",
    "events_user_running_total",
    "events_moving_agg_1h",
    "events_moving_agg_1h_expiry",
    "events_hourly_by_type",
]
BASE_SF_DIR = "/root/testdata/sf0.1"
BASE_ROWS = 100_000
BASE_USERS = 1_500
SPAN_US = 30 * 24 * 3_600_000_000  # 30 days, microseconds
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
TYPES = np.array(["click", "view", "signup", "purchase", "error"])


def generate(scale: int, hot_frac: float, rng: np.random.Generator) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = BASE_ROWS * scale
    users = BASE_USERS * scale
    uid = rng.integers(1, users, size=n)
    if hot_frac > 0:
        uid[rng.random(n) < hot_frac] = 0  # the hot user
    ts = np.sort(rng.integers(0, SPAN_US, size=n)) + T0_US
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), size=n)]),
            "value": pa.array(np.round(rng.random(n) * 500.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    tag = f"x{scale}_hot{int(hot_frac * 100)}"
    out_dir = f"/tmp/events_extrap/{tag}"
    os.makedirs(out_dir, exist_ok=True)
    # multi-row-group layout so the scan splits (driver parquet is one
    # row group per file — the spread_scan note in CLAUDE.md)
    pq.write_table(tbl, f"{out_dir}/events.parquet", row_group_size=max(8_192, n // 32))
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--hot-frac", type=float, default=0.1)
    ap.add_argument(
        "--queries", nargs="+", default=QUERIES_TO_TIME, help="subset of queries to time"
    )
    ap.add_argument(
        "--reuse",
        action="store_true",
        help="reuse /tmp/events_extrap tables from a prior run (same seed) instead of regenerating",
    )
    args = ap.parse_args()
    queries_to_time = args.queries

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    rng = np.random.default_rng(42)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="events-extrapolation",
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

    report: dict[str, dict] = {q: {} for q in queries_to_time}

    def measure(sf_dir: str, tag: str) -> None:
        for name in queries_to_time:
            # noop sink like bench.py — a count() would let Catalyst
            # PRUNE the window expressions entirely (a count never
            # reads them and Window preserves cardinality), timing an
            # empty plan instead of the per-user windows under test
            reps = []
            for _ in range(args.reps):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                reps.append(round(time.time() - t0, 2))
            report[name][tag] = {"sec": min(reps), "reps": reps}
            print(f"  {name} {tag}: reps {reps}", flush=True)

    measure(BASE_SF_DIR, "x1 (sf0.1)")
    for scale in args.scales:
        for hf in (0.0, args.hot_frac):
            tag = f"x{scale}_hot{int(hf * 100)}"
            out_dir = f"/tmp/events_extrap/{tag}"
            if args.reuse and os.path.exists(f"{out_dir}/events.parquet"):
                print(f"reusing {out_dir}", flush=True)
            else:
                t0 = time.time()
                out_dir = generate(scale, hf, rng)
                print(
                    f"generated x{scale} hot={hf} ({BASE_ROWS * scale} rows) "
                    f"in {round(time.time() - t0, 1)}s",
                    flush=True,
                )
            measure(out_dir, tag)

    spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
