"""Source layer (SURVEY.md §2.1, S1-S4).

All readers return lazy DataFrames; scans stay declarative so Catalyst can
push filters and prune columns down to the parquet footer level — critical
at 100 TB where a full-column scan is the difference between minutes and
hours.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Tables shipped by the driver testdata (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S2; reference etl.py:136-138).

    Vectorized columnar read with predicate pushdown and column pruning
    handled by Catalyst — no engine work needed beyond staying declarative.
    """
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized read / pushdown / pruning posture as
    parquet (both are native columnar sources with Catalyst filter and
    partition pruning); the interchange format for Hive/Trino-resident
    inputs."""
    return spark.read.orc(path)


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (S3; reference etl.py:141-158).

    An explicit StructType skips the inference pass (one fewer full read)
    and pins types independent of file content — at scale, schema inference
    over TB-size CSV is a full extra job.
    """
    return spark.read.csv(path, sep=sep, header=header, schema=schema)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType | None = None,
) -> DataFrame:
    """The one way to turn driver-side rows into a DataFrame.

    ``rows`` are positional tuples (``Row`` objects qualify) in
    ``schema`` order; ``schema`` is a DDL string or a ``StructType``.
    A ``pyarrow.Table`` enters as it is, with its own schema (no
    ``schema`` needed). The rows travel as one ``pyarrow.Table``:
    Spark plans it as a ``LocalRelation`` (below ``spark.sql.
    execution.arrow.localRelationThreshold``) or a JVM-side
    ``LogicalRDD`` above it —
    never the pickled Python RDD that ``createDataFrame(<list>)``
    builds, whose every scan (each broadcast of a 5-row dim included)
    runs a job through a Python worker. A ``LocalRelation`` also
    carries exact size statistics, so Catalyst can plan small frames
    as broadcast builds on its own, and the optimizer folds filters and
    projections over it into the rows (no Filter node is left for
    rules such as dynamic partition pruning to key on).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def from_pairs(
    spark: SparkSession,
    pairs: Iterable[tuple[str, str]],
    col_names: tuple[str, str],
) -> DataFrame:
    """Local-collection source (S4; reference etl.py:169-172 and siblings).

    Driver-side tuples → 2-column string DataFrame. These are tiny dim
    tables (≤660 rows) — they broadcast in every join they participate in.
    """
    schema = StructType()
    for name in col_names:
        schema = schema.add(name, "string")
    return local_frame(spark, pairs, schema)


def first_available(spark: SparkSession, candidates: Sequence[tuple[str, str]]) -> DataFrame:
    """Existence-fallback source (S1 generalized; reference etl.py:128-138).

    The reference reads SAS7BDAT if the file exists, else a parquet dir.
    Generalized: ``candidates`` is an ordered list of (format, path); the
    first path that exists wins. ``format`` is any Spark datasource name
    ("parquet", "csv", ...) or the built-in ``"sas7bdat"``, which routes
    through :mod:`udacity_dend_capstone_immigration_spark.sources.sas7bdat` — a pure-Python
    executor-side reader, no ``saurfang:spark-sas7bdat`` JAR needed.
    """
    for fmt, path in candidates:
        if os.path.exists(path):
            if fmt in ("sas7bdat", "com.github.saurfang.sas.spark"):
                from udacity_dend_capstone_immigration_spark.sources.sas7bdat import read_sas7bdat

                return read_sas7bdat(spark, path)
            return spark.read.format(fmt).load(path)
    raise FileNotFoundError(f"No candidate source exists: {[p for _, p in candidates]}")


def load_star(spark: SparkSession, sf_dir: str, tables: Sequence[str] = STAR_TABLES) -> dict[str, DataFrame]:
    """Load the driver's star-schema testdata and register temp views (S7).

    ``events`` routes through
    :func:`~udacity_dend_capstone_immigration_spark.workload.base.read_events`:
    its parquet stores TIMESTAMP(NANOS), which a default session's reader
    rejects — the plain path would throw on the full default table list.
    """
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    out: dict[str, DataFrame] = {}
    for name in tables:
        if name == "events":
            df = read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_jsonl_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """JSON-Lines scan with explicit schema — the interchange format LLM
    corpora actually ship in (one JSON document per line).

    An explicit StructType is non-negotiable at scale: inference reads
    the whole input once before the real job, and JSONL corpora are
    TB-sized. Malformed lines land in the PERMISSIVE-mode
    ``_corrupt_record`` column when the schema declares one, instead of
    failing the scan — add ``StructField("_corrupt_record", StringType())``
    to opt in. Line-split JSON is splittable, so parallelism matches
    file blocks like any text source.
    """
    reader = spark.read
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.json(path, schema=schema)
