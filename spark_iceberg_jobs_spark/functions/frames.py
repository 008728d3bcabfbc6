"""Driver rows → DataFrame, as an Arrow-backed local relation.

``spark.createDataFrame(<python rows>, ddl)`` parallelizes the rows as a
PythonRDD: its plan leaf is ``Scan ExistingRDD``, and every job that
reads it (a broadcast of a 1-row stats frame included) starts Python
workers to unpickle the rows. ``local_frame`` builds a ``pa.Table`` on
the driver instead and hands it to ``createDataFrame``; the plan leaf is
a ``LocalTableScan`` that runs in the JVM with no job of its own.

This is the one place in the package that calls ``createDataFrame``
(``tests/test_frames.py`` guards it).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence] | pa.Table,
    schema: str | StructType,
) -> DataFrame:
    """``rows`` (tuples in schema order, or an Arrow table already in
    that shape) as a DataFrame with exactly ``schema`` — a DDL string
    such as ``"doc_id long, term string"`` or a ``StructType``. Values
    convert the way ``createDataFrame(rows, schema)`` would take them:
    ints, floats, strings, bools, ``datetime.date``, lists and ``None``;
    a value of the wrong type raises."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(struct)
        columns = list(zip(*rows)) if rows else [() for _ in arrow]
        rows = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(rows, schema=struct)
