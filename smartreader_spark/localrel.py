"""Driver-side rows as a DataFrame: the one way the engine turns values
held on the driver into a Spark relation.

`spark.createDataFrame(<list of rows>)` pickles the rows into a Python
RDD: the plan reads `Scan ExistingRDD`, and every query over it runs a
stage whose tasks start Python workers only to unpickle rows (measured:
4 tasks of 240-290 ms each with 4-13 ms of JVM CPU, and 5 more Python
processes of about 61 MB each under the driver). Handed over as an
Arrow table instead, the same rows become a `LocalRelation`
(`LocalTableScan`): the JVM holds them, and no Python worker runs until
an operator needs one.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(spark: SparkSession, rows: Sequence[Sequence] | pa.Table,
                schema: StructType | str) -> DataFrame:
    """`rows` as an Arrow-backed local relation of `schema`. `rows` is an
    Arrow table or a sequence of tuples or Rows, positional in the
    schema's field order. The schema, nullability included, is the one
    `spark.createDataFrame(rows, schema)` gives (from a DDL string: every
    field nullable)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, schema=schema)
