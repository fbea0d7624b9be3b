"""Workload registry + cross-engine determinism helpers.

Two hard constraints shape everything here (driver contract in
``__spark_entry__.py``):

1. The driver runs each query with **its own** SparkSession (unknown
   config). Every query pins the runtime confs it depends on —
   ANSI off (reference coercion semantics, SURVEY.md §7.3 risk 2) and
   UTC session timezone — via :func:`pin_session`.

2. Results are compared to DuckDB by order-insensitive value hash, so
   floating-point aggregates must be **bit-identical**, not just close.
   Per-row IEEE double arithmetic is deterministic across engines; only
   aggregation order isn't. So: compute scalars in double, then
   ``SUM(CAST(x AS DECIMAL(28,10)))`` — the decimal cast of a double can
   never land on a rounding midpoint (midpoints at scale 10 have 5^11 in
   the denominator, unrepresentable in binary), so Spark's HALF_UP and
   DuckDB's HALF_EVEN agree; decimal addition is exact and
   order-independent; the final cast back to double is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def pin_session(spark: SparkSession) -> None:
    """Pin the runtime confs the workload semantics depend on — the
    driver runs queries on ITS session (ANSI on, 200 shuffle partitions,
    unknown tz). ANSI/tz are semantic; shuffle partitions matter for the
    streaming queries, whose state-store stages use the static setting
    (AQE only coalesces batch shuffles)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, with optional
    DuckDB oracle SQL (omitted → driver does a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return wrapped

    return deco


#: (realpath, mtime_ns, size) -> StructType. Schema inference reads a
#: parquet footer per ``spark.read.parquet`` call (~0.08-0.15s
#: measured); the serving compositions construct 8-10 store scans per
#: invocation, so inference alone was ~0.8s of pure plan-construction
#: latency per serve (r17). The memo is process-local METADATA keyed on
#: the path's stat signature: a store rewrite (renamed into place) or
#: regenerated testdata bumps the mtime and re-infers; appends into
#: partition subdirs never change a relation's schema (writer-fixed).
_PQ_SCHEMA_MEMO: dict = {}


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with a process-local schema memo. NOT for
    schema-evolving reads (publish/WAP versions live at new paths
    anyway) nor ``events.parquet`` (`read_events` probes the footer for
    its physical-type normalization)."""
    import os

    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    sch = _PQ_SCHEMA_MEMO.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _PQ_SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet_memo(spark, f"{sf_dir}/{name}.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` physical type has varied across driver
    testdata generations: TIMESTAMP(NANOS) (which Spark's reader rejects
    outright without the legacy flag) or TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ). Normalize both to session-tz TIMESTAMP:

    - nanos → read as long (legacy flag) and floor-divide to micros.
      ``DIV`` (integer division) because a double division would lose
      precision above 2^53 ns — matching DuckDB's nanos→micros
      truncation exactly.
    - micros NTZ → cast to TIMESTAMP (identity under a UTC session
      timezone, matching DuckDB's plain-TIMESTAMP read). The tz is
      pinned HERE, not just in pin_session, so non-query callers
      (bench warm-up, test star loads) get identical values too.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if df.schema["ts"].dataType.simpleString() == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_events` — the file source needs an
    explicit schema, so probe the batch footer once (driver-side, no
    scan) and declare the schema matching the testdata generation:

    - nanos (inferred ``bigint`` under the legacy flag) → declare
      ``ts: long`` and floor-divide to micros, exactly like the batch
      path.
    - micros NTZ (inferred ``timestamp_ntz``) → declare that and cast
      to TIMESTAMP under the UTC session tz.
    - micros UTC-adjusted (inferred ``timestamp``) → declare that;
      identity cast.

    The declared streaming schema mirrors the batch reader's *inferred*
    type exactly — declaring NTZ over a UTC-adjusted column (or vice
    versa) would silently shift values by the session offset.

    Every streaming query MUST ingest through this helper; a hard-coded
    schema silently compresses timestamps 1000× when the generation
    flips (the round-3 regression: 4 streaming queries returned garbage
    because streamq.py pinned the nanos schema over micros data).
    """
    from pyspark.sql.types import StructField, StructType

    from udacity_dend_capstone_immigration_spark.streaming import read_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_type = batch_schema["ts"].dataType
    nanos = ts_type.simpleString() == "bigint"
    schema = StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in batch_schema.fields]
    )
    raw = read_stream(
        spark,
        sf_dir,
        schema,
        path_glob_filter="events.parquet",
        max_files_per_trigger=max_files_per_trigger,
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def dsum_expr(col: Column) -> Column:
    """Unaliased order-independent double sum — the composable form for
    queries that arithmetic over several decimal sums (ratios, cosine
    numerator/denominator) before aliasing."""
    return F.sum(col.cast("decimal(28,10)")).cast("double")


def dsum(col: Column, alias: str) -> Column:
    """Order-independent, engine-portable double sum (see module doc)."""
    return dsum_expr(col).alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Portable average: exact decimal sum / count, divided in double."""
    return (dsum_expr(col) / F.count(col).cast("double")).alias(alias)


#: SQL fragments mirroring dsum/davg for the DuckDB side. DuckDB's direct
#: decimal→double cast is not correctly rounded once the scaled int128
#: mantissa exceeds 2^53; routing through VARCHAR (exact digits → parsed
#: with correct rounding) matches Spark's BigDecimal.doubleValue.
def sql_dsum_expr(expr: str) -> str:
    """Unaliased mirror of :func:`dsum_expr` for oracle SQL."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, alias: str) -> str:
    return f"{sql_dsum_expr(expr)} AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"{sql_dsum_expr(expr)} / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
