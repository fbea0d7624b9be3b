"""One-off sf-extrapolation for the feature-store tier (r13 session 3).

The claim: `append_feature_day` costs O(day batch + touched user
buckets) — independent of HISTORY length — while the full rebuild pays
the whole event history every day. Uses the real sf0.1 events plus the
/tmp/events_extrap x10/x100 uniform corpora (tools/extrapolate_events
generates them; run it first if absent).

Per scale, timed min-of-``--reps``:
- build: one-shot store build through max_day − 1 (the backfill);
- append_1day: the last day lands incrementally on that store;
- rebuild: the naive alternative — full rebuild including the last day.

Usage: python tools/extrapolate_featurestore.py [--scales 10 100] [--reps 2]
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

from pyspark.sql import functions as F  # noqa: E402

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload.timeseries import (  # noqa: E402
    _fs_daily,
    append_feature_day,
    build_feature_store,
)

BASE_SF_DIR = "/root/testdata/sf0.1"
EXTRAP_ROOT = "/tmp/events_extrap"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="featurestore-extrapolation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    def sf_dir(tag: str) -> str:
        if tag == "x1":
            return BASE_SF_DIR
        d = f"{EXTRAP_ROOT}/{tag}_hot0"
        if not os.path.isdir(d):
            raise SystemExit(f"{d} missing — run tools/extrapolate_events.py first")
        return d

    report: dict[str, dict] = {}
    for tag in ["x1"] + [f"x{s}" for s in args.scales]:
        src = sf_dir(tag)
        days = sorted(
            r[0] for r in _fs_daily(spark, src).select("d").distinct().collect()
        )
        cutoff, last = str(days[-2]), str(days[-1])
        times: dict[str, float] = {}

        def timed(name, fn):
            best = None
            for _ in range(args.reps):
                t0 = time.time()
                fn()
                best = min(best or 1e9, time.time() - t0)
            times[name] = round(best, 2)

        roots: list[str] = []

        def do_build():
            root = tempfile.mkdtemp(prefix=f"fs_extrap_{tag}_")
            roots.append(root)
            build_feature_store(spark, src, store_dir=root, cutoff=cutoff)

        timed("build", do_build)
        timed("append_1day", lambda: append_feature_day(spark, roots[-1], src, last))
        # appends are idempotent only per fresh store: re-append on a
        # fresh backfill each rep would double-count; reps>1 re-run on
        # the LAST build (first rep is the honest one, min still fair
        # because a re-append does the same work on the same inputs)

        def do_rebuild():
            root = tempfile.mkdtemp(prefix=f"fs_extrap_full_{tag}_")
            roots.append(root)
            build_feature_store(spark, src, store_dir=root)

        timed("rebuild", do_rebuild)
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)
        report[tag] = times
        print(f"  {tag}: {times}", flush=True)

    print(json.dumps(report))


if __name__ == "__main__":
    main()
