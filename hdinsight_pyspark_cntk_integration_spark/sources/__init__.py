"""Sources: table catalog over the test fixtures + generic IO.

Generalizes the reference's ingest surface (SURVEY.md §2.1 S1-S7): the
reference downloads a tarball, unpickles it on the driver, and
``sc.parallelize``s tuples (reference README.md:66-84). Here every source
is a DataFrame reader with an explicit schema, so Catalyst gets column
pruning and predicate pushdown for free.
"""

from hdinsight_pyspark_cntk_integration_spark.sources.catalog import (
    TABLE_NAMES,
    load_table,
)
from hdinsight_pyspark_cntk_integration_spark.sources.io import (
    read_csv,
    read_parquet,
    write_parquet,
    write_single_csv,
)

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "read_csv",
    "read_parquet",
    "write_parquet",
    "write_single_csv",
]
