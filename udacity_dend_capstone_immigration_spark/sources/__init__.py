from udacity_dend_capstone_immigration_spark.sources.readers import (
    first_available,
    read_csv_with_schema,
    read_parquet,
    from_pairs,
    load_star,
    local_frame,
)
from udacity_dend_capstone_immigration_spark.sources.sas7bdat import read_sas7bdat, sas7bdat_schema
from udacity_dend_capstone_immigration_spark.sources.sas_labels import parse_sas_labels
from udacity_dend_capstone_immigration_spark.sources.writers import (
    write_parquet,
    write_star_outputs,
    write_table,
)

__all__ = [
    "first_available",
    "read_csv_with_schema",
    "read_parquet",
    "from_pairs",
    "load_star",
    "local_frame",
    "parse_sas_labels",
    "read_sas7bdat",
    "sas7bdat_schema",
    "write_parquet",
    "write_star_outputs",
    "write_table",
]
