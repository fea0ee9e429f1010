"""Driver-side state: lineage manifest, admission, obsreport metrics
and component status."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side table as a DataFrame over a ``LocalRelation``.

    The rows go through a pyarrow table typed from the DDL ``schema``,
    so writing the frame runs no Python worker (a list handed straight
    to ``createDataFrame`` becomes a Python RDD, and its write pays a
    Python-worker round trip per task).
    """
    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table)
