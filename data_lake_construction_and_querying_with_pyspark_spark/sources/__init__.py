from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
    read_lake,
    read_csv_allstring,
    read_parquet,
    TABLE_NAMES,
)
from data_lake_construction_and_querying_with_pyspark_spark.sources.sinks import write_lake

__all__ = [
    "read_lake",
    "read_csv_allstring",
    "read_parquet",
    "write_lake",
    "TABLE_NAMES",
]
