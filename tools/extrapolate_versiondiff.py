"""One-off sf-extrapolation for the snapshot version diff (r13 s3).

The claim: `publish_version_diff` — two WAP publishes + a full-outer
key SMJ classifying insert/update/delete — is LINEAR in snapshot size
(no broadcast of either SF-scaling side, no quadratic pair shape).
Generates orders tables at 10x/100x the sf0.1 row count by replicating
the real rows with disjoint key ranges (update/delete/insert mod
classes scale with the table, like a real day-over-day diff).

Usage: python tools/extrapolate_versiondiff.py [--scales 10 100] [--reps 2]
Writes corpora under /tmp/orders_extrap/ (scratch).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF_DIR = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/orders_extrap"
#: Replica spacing. Two constraints (r13 advice — the old 1M stride
#: collided at x100): replicas must be disjoint (STRIDE > the base key
#: span, 150k at sf0.1), AND the query's FIXED +10,000,000 insert
#: offset must never map a replicated key onto another replica —
#: i.e. both 10M mod STRIDE and STRIDE − (10M mod STRIDE) must exceed
#: the span (10M mod 1.3M = 900k, 1.3M − 900k = 400k, span 150k: no
#: integer replica index lands inside any shifted range). Asserted in
#: the generator, per the check-id-headroom-at-extrapolation-scale rule.
KEY_STRIDE = 1_300_000
INSERT_OFFSET = 10_000_000  # publish_version_diff's o_orderkey + 10M


def generate(scale: int) -> str:
    import duckdb

    out_dir = f"{OUT_ROOT}/x{scale}"
    os.makedirs(out_dir, exist_ok=True)
    dst = f"{out_dir}/orders.parquet"
    if os.path.exists(dst):
        return out_dir
    reps = " UNION ALL ".join(
        f"SELECT o_orderkey + {i * KEY_STRIDE} AS o_orderkey, o_orderstatus, "
        f"o_totalprice, o_orderpriority, o_custkey, o_orderdate "
        f"FROM base"
        for i in range(scale)
    )
    duckdb.sql(
        f"CREATE OR REPLACE TEMP VIEW base AS "
        f"SELECT * FROM read_parquet('{BASE_SF_DIR}/orders.parquet')"
    )
    duckdb.sql(f"COPY ({reps}) TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 131072)")
    # key-disjointness guarantees: unique keys, and the query's +10M
    # insert shift never lands on a real key (else the x-scale 'cur'
    # snapshot holds duplicate o_orderkey values and the diff measures
    # a semantically different workload)
    dup, coll = duckdb.sql(
        f"""
        SELECT (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey)
                FROM read_parquet('{dst}')),
               (SELECT COUNT(*)
                FROM read_parquet('{dst}') a
                JOIN read_parquet('{dst}') b
                  ON a.o_orderkey + {INSERT_OFFSET} = b.o_orderkey
                WHERE a.o_orderkey % 97 = 0)
        """
    ).fetchone()
    assert dup == 0 and coll == 0, (
        f"x{scale} generator key collision: {dup} duplicate keys, "
        f"{coll} insert-shift collisions — retune KEY_STRIDE"
    )
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.session import get_spark_session
    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="versiondiff-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    report: dict[str, dict] = {}
    for tag, sf_dir in [("x1", BASE_SF_DIR)] + [
        (f"x{s}", generate(s)) for s in args.scales
    ]:
        reps, rows = [], None
        for _ in range(args.reps):
            t0 = time.time()
            rows = QUERIES["publish_version_diff"](spark, sf_dir).count()
            reps.append(round(time.time() - t0, 2))
        report[tag] = {"sec": min(reps), "reps": reps, "rows": rows}
        print(f"  publish_version_diff {tag}: reps {reps}, {rows} rows", flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
