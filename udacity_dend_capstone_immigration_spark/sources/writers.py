"""Sink layer (S6; reference etl.py:67-79).

The reference writes the fact table partitioned by
``(entry_year, entry_month, port_code)`` — with one month of data and
~580 ports that is ~580 directories for 3M rows, and at 100 TB it is a
small-files catastrophe (millions of KB-size files, one task per file on
read). This writer:

- defaults the fact layout to ``(entry_year, entry_month)`` with
  port-level partitioning opt-in (SURVEY.md §7.3 risk 3);
- refuses partitioned writes that would explode the directory count.
  A write into a path that does not exist yet (a fresh build, a store
  stage or temp dir) is guarded in the same single pass over its
  input: it writes, counts the ``col=value`` leaf directories it
  created through the Hadoop FileSystem API (one glob, no job), and on
  overflow deletes the path and raises. This holds for every fresh
  path, pipeline outputs (``write_parquet``/``write_table``, e.g. the
  opt-in port-level fact layout) included, so a refused layout costs
  its whole write (every one of its directories) plus a recursive
  delete, not one sketch pass; a write that passes (the usual case)
  makes one pass over its input instead of two. A write into an
  existing path cannot be undone that way, so it is estimated first
  (``approx_count_distinct`` over the partition tuple — one map-side
  sketch pass over the input, no shuffle of data columns) and refused
  before any existing file changes;
- compacts output by hash-repartitioning on the partition columns first,
  so each output directory is written by exactly one task → one file per
  directory instead of ``shuffle.partitions`` files per directory;
- uses dynamic partition overwrite (set in the session factory) so
  re-runs only rewrite the partitions present in the incoming batch —
  an idempotent daily-load pattern.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Refuse partitioned writes above this many estimated directories.
DEFAULT_MAX_PARTITIONS = 10_000


class PartitionExplosionError(ValueError):
    """The requested partition layout would create too many directories."""


def estimate_partition_count(df: DataFrame, partition_by: Sequence[str]) -> int:
    """Approximate distinct partition-tuple count (±5%) in one sketch pass."""
    return df.select(
        F.approx_count_distinct(F.struct(*[F.col(c) for c in partition_by])).alias("n")
    ).first()["n"]


def _write_guarded(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: Sequence[str] | None,
    mode: str,
    max_partitions: int,
    compact: bool,
) -> None:
    """Shared guarded-write path for the native columnar formats
    (explosion guardrail + per-directory compaction, see module doc)."""
    if not partition_by:
        df.write.mode(mode).format(fmt).save(path)
        return
    # the Hadoop FileSystem API, so the guard holds for any scheme Spark writes to
    spark = df.sparkSession
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fresh = not fs.exists(jpath)
    if not fresh:
        _refuse(partition_by, estimate_partition_count(df, partition_by), max_partitions)
    writer = df.repartition(*[F.col(c) for c in partition_by]) if compact else df
    writer.write.mode(mode).partitionBy(*partition_by).format(fmt).save(path)
    if fresh:
        leaves = fs.globStatus(jpath.suffix("/" + "/".join(f"{c}=*" for c in partition_by)))
        n = len(leaves or ())
        if n > max_partitions:
            fs.delete(jpath, True)
        _refuse(partition_by, n, max_partitions)


def _refuse(partition_by, n: int, max_partitions: int) -> None:
    if n > max_partitions:
        raise PartitionExplosionError(
            f"partitionBy({list(partition_by)}) makes ~{n} "
            f"directories (> {max_partitions}); coarsen the layout or "
            f"raise max_partitions explicitly"
        )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
    compact: bool = True,
) -> None:
    """Partitioned parquet write with explosion guardrail + compaction.

    ``compact=True`` repartitions by the partition columns so each output
    directory gets one file. For very large single partitions (skew), pass
    ``compact=False`` and let AQE/maxPartitionBytes size the tasks instead.
    """
    _write_guarded(df, path, "parquet", partition_by, mode, max_partitions, compact)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
    compact: bool = True,
) -> None:
    """ORC twin of :func:`write_parquet` (same guardrail + compaction) —
    the interchange format for Hive/Trino-resident consumers."""
    _write_guarded(df, path, "orc", partition_by, mode, max_partitions, compact)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed external table write — the layout that makes a
    fact⋈fact join SHUFFLE-FREE on read.

    At 100 TB neither side of a fact⋈fact join is broadcast-able, so
    every query pays a full shuffle of both tables on the join key —
    unless the layout already agrees with the key. ``bucketBy(n, key)``
    persists that agreement in the catalog: two tables bucketed on
    their join key with the SAME bucket count sort-merge-join with ZERO
    Exchange on either side (each scan task reads exactly one bucket;
    only post-join aggregation exchanges). `tests/test_bucketing.py`
    pins that plan shape.

    The input is repartitioned to exactly ``num_buckets`` partitions on
    the bucket columns first, so each bucket is written by one task →
    one file per bucket (the small-files guardrail: the default writer
    emits ``tasks × buckets`` files, and a 1000-executor write would
    leave ~32k files per bucket for the scan to reconcat).

    ``path`` makes the table EXTERNAL — data lands under the caller's
    directory, only metadata enters the session catalog, and
    ``mode="overwrite"`` keeps re-runs idempotent.
    """
    writer = df.repartition(num_buckets, *[F.col(c) for c in bucket_by]).write
    writer = writer.mode(mode).option("path", path).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table_name)


#: Reference output layout (etl.py:71-79) with the port-level fact
#: partitioning made opt-in.
FACT_PARTITIONING = ("entry_year", "entry_month")
FACT_PARTITIONING_WITH_PORT = ("entry_year", "entry_month", "port_code")


def write_star_outputs(
    out_dir: str,
    fact: DataFrame,
    city_demographics: DataFrame,
    dims: dict[str, DataFrame],
    partition_fact_by_port: bool = False,
) -> None:
    """Write the full star schema (reference etl.py:67-79): partitioned
    fact, state-partitioned demographics dim, unpartitioned label dims."""
    layout = FACT_PARTITIONING_WITH_PORT if partition_fact_by_port else FACT_PARTITIONING
    write_parquet(fact, f"{out_dir}/fact_immigrations", partition_by=layout)
    write_parquet(
        city_demographics,
        f"{out_dir}/dim_city_demographics",
        partition_by=("state_code",),
    )
    for name, dim in dims.items():
        write_parquet(dim, f"{out_dir}/dim_{name}")


def delta_available() -> bool:
    """True if the delta-spark package is importable in this runtime."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
) -> None:
    """Format-dispatching overwrite of ``path``: ``parquet`` / ``orc``
    (always available) or ``delta`` (requires the delta-spark package;
    raises ImportError with guidance when absent — BASELINE.json names
    Parquet/Delta as the sink pair, and the delta path is the same
    writer call with ACID/OPTIMIZE semantics layered by the format)."""
    if fmt in ("parquet", "orc"):
        _write_guarded(df, path, fmt, partition_by, "overwrite", max_partitions, compact=True)
        return
    if fmt == "delta":
        if not delta_available():
            raise ImportError(
                "delta-spark is not installed in this runtime; install it and "
                "add the delta catalog/extension confs to the session, or use "
                "fmt='parquet'"
            )
        if partition_by:
            _refuse(partition_by, estimate_partition_count(df, partition_by), max_partitions)
            df.write.format("delta").mode("overwrite").partitionBy(*partition_by).save(path)
        else:
            df.write.format("delta").mode("overwrite").save(path)
        return
    raise ValueError(f"unsupported sink format: {fmt!r}")


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """JSON-Lines sink (the export format for corpus hand-off).

    ``target_files`` coalesces the output to a bounded file count —
    JSONL consumers (tokenizer runs, upload tools) choke on
    one-file-per-task explosions; coalesce (not repartition) avoids a
    shuffle when reducing. Compression stays off: JSONL interchange is
    usually re-read by line-oriented tools that can't split gzip.
    """
    out = df.coalesce(target_files) if target_files else df
    out.write.mode(mode).json(path)
