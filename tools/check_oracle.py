"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive canonical value comparison (exact on bits for floats —
the workload is engineered for bit-identical aggregates, see
workload/base.py).

Usage: python tools/check_oracle.py [--default-session] [sf_dir] [query ...]

The session runs at ``local[$SPARK_GRAFT_CPUS]`` (default 8).

``--default-session`` builds the SparkSession the way the DRIVER does —
plain ``builder.getOrCreate()`` with Spark 4 defaults (ANSI on, 200
shuffle partitions, no tz pin) — instead of the repo's tuned factory.
A query green under the factory but unchecked under a default session
is unverified: the workload must pin its own semantic confs via
``pin_session`` at query entry, and this flag proves it.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.sources.readers import STAR_TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # dates/timestamps → ISO text so datetime vs date vs pandas types align
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t),
    )


def main() -> int:
    args = sys.argv[1:]
    default_session = "--default-session" in args
    if default_session:
        args = [a for a in args if a != "--default-session"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    if default_session:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    else:
        spark = get_spark_session(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s) — no oracle")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            sm = rows_to_multiset(scols, srows)
            om = rows_to_multiset(ocols, orows)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
