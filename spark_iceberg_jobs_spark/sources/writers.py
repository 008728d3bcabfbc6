"""Writers.

The reference writes with ``df.write.mode("overwrite").saveAsTable(...)``
(job1:295,305,315,325,335) — on a v2 catalog that is a *replace table* which
clobbers the DDL-declared schema/partition spec with the DataFrame's inferred
one (SURVEY.md §1.3). This module keeps two plain sinks: format-generic
files (``write_table``) and a Hive-style bucketed table
(``write_bucketed_table``). Versioned snapshot tables — commits, branches,
tags, audited appends, time travel — live in ``sources/filetable.py``.

Scale notes: bucketed writes co-locate join keys so repeated fact-fact joins
on the bucket key run with **no shuffle Exchange** (the point of the
reference's ``bucket(16, match_id)`` layout, job1:224,239,248 + README.md:18).
At 100 TB you would also size files via ``write.targetFileSize`` (Iceberg) or
``maxRecordsPerFile`` and sort within partitions for encoding wins
(README.md:24-25; see plans/layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Format-generic sink (parquet/json/orc/csv). Parquet/ORC for anything
    analytical — JSON/CSV sinks exist for interchange, not for scans."""
    w = df.write.mode(mode).format(fmt.lower())
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Hive-style bucketed table — the non-Iceberg analogue of the reference's
    ``PARTITIONED BY (bucket(16, match_id))`` (job1:224).

    Two tables bucketed identically on the join key sort-merge-join with no
    Exchange on either side (verified by tests/test_plans.py).
    """
    w = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)
