"""SAS7BDAT source (S1; reference etl.py:89, 133-135).

The reference loads ``i94_apr16_sub.sas7bdat`` through the JVM-side
``saurfang:spark-sas7bdat`` connector when the file exists, else falls
back to parquet.  This module makes the SAS branch real without a JVM
JAR: file discovery on the driver, then ``pandas.read_sas`` (a complete
public-format SAS7BDAT parser) running **on the executors** inside an
Arrow-batched ``mapInPandas`` over a one-row-per-file DataFrame.

Scale design (100 TB story):
- SAS7BDAT is page-chained with metadata up front — it is NOT
  block-splittable like parquet/CSV, so the parallelism unit is the
  file.  A one-file-per-task repartition gives N-file datasets N-way
  parallelism; a single monolithic .sas7bdat is inherently one task
  (same limit the saurfang connector has) — the first thing a real
  pipeline does is this one pass converting to parquet (exactly the
  reference's ``sas_data/`` parquet fallback).
- ``chunk_rows`` streams each file through pandas' chunked iterator so
  executor memory is bounded by chunk size, not file size.
- Only doubles and fixed-width strings exist in the format, so the
  Spark schema is exact (no inference pass over data pages: the schema
  comes from the metadata page alone via a header-only read).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from udacity_dend_capstone_immigration_spark.sources.readers import local_frame


def _discover(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(".sas7bdat") and not f.startswith(".")
        )
    else:
        files = [path]
    if not files or not all(os.path.exists(f) for f in files):
        raise FileNotFoundError(f"No .sas7bdat files at {path}")
    return files


def sas7bdat_schema(path: str) -> StructType:
    """Exact Spark schema from the SAS metadata page (header-only read;
    no data pages are touched).  SAS has two physical types: 8-byte
    doubles ('d') and fixed-width strings ('s')."""
    from pandas.io.sas.sas7bdat import SAS7BDATReader

    rdr = SAS7BDATReader(path, convert_header_text=True, encoding="infer")
    try:
        fields = [
            StructField(str(name), DoubleType() if ctype == b"d" else StringType())
            for name, ctype in zip(rdr.column_names, rdr.column_types())
        ]
    finally:
        rdr.close()
    return StructType(fields)


def _parse_sas_chunks(file_path: str, names, str_cols, chunk_rows: int):
    """The ONE SAS decode contract both readers share: chunked
    pandas parse, reindex to the schema's column order, SAS
    blank-missing normalization (empty strings are nulls)."""
    with pd.read_sas(
        file_path,
        format="sas7bdat",
        encoding="infer",
        chunksize=chunk_rows,
        iterator=True,
    ) as reader:
        for chunk in reader:
            out = chunk.reindex(columns=names)
            for c in str_cols:
                col = out[c]
                out[c] = col.where(col.notna() & (col != ""), None)
            yield out


def read_sas7bdat(
    spark: SparkSession,
    path: str,
    chunk_rows: int = 100_000,
) -> DataFrame:
    """Distributed SAS7BDAT read: one executor task per file, pandas
    parsing the public format, Arrow batches back to the JVM.

    ``path`` is a single .sas7bdat file or a directory of them (all
    files must share a schema, parquet-directory style).
    """
    files = _discover(path)
    schema = sas7bdat_schema(files[0])
    names = [f.name for f in schema.fields]

    paths_df = local_frame(spark, [(f,) for f in files], "path string").repartition(
        len(files), "path"
    )

    str_cols = [f.name for f in schema.fields if isinstance(f.dataType, StringType)]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for file_path in pdf["path"]:
                yield from _parse_sas_chunks(file_path, names, str_cols, chunk_rows)

    return paths_df.mapInPandas(parse, schema=schema)


# --- Spark 4 Python Data Source API wrapper: the same executor-side
# parse surfaced as a REGISTERABLE format, so the reference's
#     spark.read.format("com.github.saurfang.sas.spark").load(path)
# line (etl.py:133-135) has a true drop-in shape here:
#     spark.dataSource.register(SAS7BDATDataSource)
#     spark.read.format("sas7bdat").load(path)
# Scale contract is identical to read_sas7bdat (the format is not
# block-splittable, so the planning unit is the file): partitions()
# emits one InputPartition per discovered file, each read() streams
# its file through pandas' chunked parser and yields Arrow
# RecordBatches (the zero-copy path through the Python source API).
# Import-gated so the module stays importable on Spark < 4.
try:  # pragma: no cover - trivially true on the pinned runtime
    from pyspark.sql.datasource import DataSource as _DS
    from pyspark.sql.datasource import DataSourceReader as _DSR
    from pyspark.sql.datasource import InputPartition as _IP

    class _SASReader(_DSR):
        def __init__(self, schema, path):
            self._names = [f.name for f in schema.fields]
            self._str_cols = [
                f.name for f in schema.fields if f.dataType.typeName() == "string"
            ]
            self._path = path

        def partitions(self):
            return [_IP(f) for f in _discover(self._path)]

        def read(self, partition):
            import pyarrow as pa

            # The declared schema must be passed explicitly: an
            # all-null string chunk would otherwise INFER Arrow type
            # null and fail the read with a type mismatch (the
            # mapInPandas path coerces per the Spark schema; this API
            # hands Spark the Arrow batch as-is). SAS has exactly two
            # physical types, so the mapping is total.
            arrow_schema = pa.schema(
                [
                    (n, pa.string() if n in set(self._str_cols) else pa.float64())
                    for n in self._names
                ]
            )
            for out in _parse_sas_chunks(
                partition.value, self._names, self._str_cols, 100_000
            ):
                yield pa.RecordBatch.from_pandas(
                    out, schema=arrow_schema, preserve_index=False
                )

    class SAS7BDATDataSource(_DS):
        """``spark.read.format("sas7bdat")`` via the Python Data
        Source API (register with ``spark.dataSource.register``)."""

        @classmethod
        def name(cls):
            return "sas7bdat"

        def schema(self):
            return sas7bdat_schema(_discover(self.options["path"])[0])

        def reader(self, schema):
            return _SASReader(schema, self.options["path"])

except ImportError:  # pragma: no cover

    class SAS7BDATDataSource:  # type: ignore[no-redef]
        """Placeholder: the Python Data Source API needs Spark >= 4."""

        def __init__(self, *a, **k):
            raise ImportError(
                "pyspark.sql.datasource is unavailable — "
                "spark.read.format('sas7bdat') needs Spark 4+; "
                "use read_sas7bdat() instead"
            )
