"""Capture .explain("formatted") for named queries into an output dir.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ... | all]

Writes <out_dir>/<query>_<suffix>.txt for each named query (default:
every bench.py headliner; ``all``: every registered query). The judge
reads these files to verify plan claims in OPTIMIZATION_r*.md, so
capture them under the same session config bench.py uses (tuned
factory, ``local[$SPARK_GRAFT_CPUS]`` — default 32 — with as many
shuffle partitions). Note explain() shows the INITIAL AQE plan
(isFinalPlan=false); claims about AQE-final shapes cite the SQL-tab
metrics or measured numbers instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload import QUERIES  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if names == ["all"]:
        names = sorted(QUERIES)
    elif not names:
        import bench

        names = bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e}"
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
