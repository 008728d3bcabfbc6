"""functions/frames.local_frame: driver rows become a LocalTableScan with
the same schema and rows ``createDataFrame(rows, ddl)`` gives."""

from __future__ import annotations

import datetime as dt
import os
import re

import pyarrow as pa
import pytest

from spark_iceberg_jobs_spark.functions.frames import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "spark_iceberg_jobs_spark")

DDL = "id long, name string, score double, ok boolean, day date, vec array<double>"
ROWS = [
    (1, "a", 0.5, True, dt.date(2024, 2, 29), [1.0, -2.5]),
    (2, None, None, None, None, None),  # every column NULL but the key
    (None, "", float("-inf"), False, dt.date(1900, 1, 1), []),
    (-(2**63), "ü ß", 1e-300, True, dt.date(9999, 12, 31), [None, 0.0]),
]


def _leaves(plan):
    kids = plan.children()
    if kids.size() == 0:
        return [plan.nodeName()]
    return [n for i in range(kids.size()) for n in _leaves(kids.apply(i))]


@pytest.mark.parametrize(
    "rows", [ROWS, ROWS[:1], []], ids=["mixed_with_nulls", "one_row", "zero_rows"]
)
def test_local_frame_equals_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows, DDL)
    got = local_frame(spark, rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    got.collect()  # the executed plan below is the one that ran
    assert _leaves(got._jdf.queryExecution().executedPlan()) == ["LocalTableScan"]


def test_local_frame_takes_struct_type_and_arrow_table(spark):
    struct = spark.createDataFrame([], DDL).schema
    assert local_frame(spark, ROWS, struct).collect() == local_frame(spark, ROWS, DDL).collect()
    table = pa.table({"k": pa.array([3, None], pa.int64()), "s": ["x", "y"]})
    got = local_frame(spark, table, "k long, s string")
    assert [tuple(r) for r in got.collect()] == [(3, "x"), (None, "y")]


def test_local_frame_rejects_a_value_of_the_wrong_type(spark):
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_frame(spark, [("not a number",)], "n long")


def test_no_create_dataframe_outside_the_helper():
    """Every driver-rows frame in the package goes through local_frame
    (a bare createDataFrame of Python rows is a PythonRDD scan that starts
    Python workers whenever a job reads it)."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path.endswith(os.path.join("functions", "frames.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if re.search(r"createDataFrame\(", line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert hits == []
