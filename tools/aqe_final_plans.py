"""Probe whether AQE partition coalescing actually fires on the batch
exchanges at sf0.1 (r16 verdict item 5: the initial plans pin
hashpartitioning(..., 32) on KB-sized relations; the question is what
the FINAL adaptive plan runs with).

For each named query: execute it (noop sink is a separate query
execution, so we collect() the frame itself), then re-explain — an
executed AdaptiveSparkPlan prints isFinalPlan=true with AQEShuffleRead
nodes showing the coalesced partition specs.

Usage: python tools/aqe_final_plans.py [--sf-dir DIR] [--default-session] q [q ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--default-session", action="store_true")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if args.default_session:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    else:
        from udacity_dend_capstone_immigration_spark.session import get_spark_session

        spark = get_spark_session(
            app_name="aqe-final-plans", master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.driver.memory": "8g"},
        )
    spark.sparkContext.setLogLevel("ERROR")

    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    for name in args.queries:
        df = QUERIES[name](spark, args.sf_dir)
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        n_ex = len(re.findall(r"\bExchange\b", txt))
        n_aqe = len(re.findall(r"AQEShuffleRead", txt))
        final = "isFinalPlan=true" in txt
        coalesced = re.findall(r"AQEShuffleRead \[?(\w+)", txt)
        print(f"=== {name}: final={final} Exchange={n_ex} AQEShuffleRead={n_aqe} "
              f"kinds={coalesced}")
        for line in txt.splitlines():
            if "AQEShuffleRead" in line or "Arguments: " in line and "coalesced" in line:
                print("   ", line.strip())
    spark.stop()


if __name__ == "__main__":
    main()
