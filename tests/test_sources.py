"""Readers/validation (reference S1/S8 semantics — job1:33-88, done right)."""

from __future__ import annotations

import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from spark_iceberg_jobs_spark.schemas import FIXTURE_SCHEMAS, FIXTURE_TABLES
from spark_iceberg_jobs_spark.sources.readers import (
    load_tables,
    read_csv,
    read_fixture,
    validate_all_or_raise,
    validate_dataframe,
)


def test_all_fixture_tables_readable(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    assert set(t) == set(FIXTURE_TABLES)
    for name, df in t.items():
        assert df.count() > 0, name


def test_fixture_schemas_match_disk(spark, sf_dir):
    """Schemas in schemas.py are the documented contract — verify against
    the actual parquet footers (events.ts intentionally differs: we
    normalize ns → µs timestamp)."""
    for name in FIXTURE_TABLES:
        df = read_fixture(spark, sf_dir, name)
        expected = FIXTURE_SCHEMAS[name]
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in expected.fields}
        assert got == want, name


def test_events_ts_is_microsecond_timestamp(spark, sf_dir):
    df = read_fixture(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    row = df.orderBy("event_id").first()
    assert row.ts.year == 2024


def test_read_fixture_unknown_table(spark, sf_dir):
    with pytest.raises(KeyError):
        read_fixture(spark, sf_dir, "nope")


def test_read_csv_requires_schema_or_optin(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    with pytest.raises(ValueError):
        read_csv(spark, p)
    schema = StructType([StructField("a", LongType()), StructField("b", StringType())])
    df = read_csv(spark, p, schema)
    assert df.schema == schema
    assert df.count() == 2
    inferred = read_csv(spark, p, infer_schema=True)
    assert inferred.count() == 2


def test_read_jsonl_modes_and_corrupt_capture(spark, tmp_path):
    """JSONL corpus ingestion: good lines parse against the explicit
    schema; a malformed line is captured (PERMISSIVE + corrupt_col),
    dropped (DROPMALFORMED), or fatal (FAILFAST)."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from spark_iceberg_jobs_spark.sources.readers import read_jsonl

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "hello world"}\n')
        f.write('{"doc_id": 2, "text": "second doc"}\n')
        f.write("{not json at all\n")
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])

    kept = read_jsonl(spark, p, schema, mode="DROPMALFORMED")
    assert [r.doc_id for r in kept.orderBy("doc_id").collect()] == [1, 2]

    tagged = read_jsonl(spark, p, schema, corrupt_col="_bad")
    rows = tagged.orderBy("doc_id").collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._bad is not None]
    assert len(bad) == 1 and bad[0].doc_id is None and "not json" in bad[0]._bad

    with pytest.raises(Exception):
        read_jsonl(spark, p, schema, mode="FAILFAST").collect()
    with pytest.raises(ValueError):
        read_jsonl(spark, p, schema, mode="YOLO")


def test_json_orc_roundtrip(spark, sf_dir, tmp_path):
    """Format-generic read/write: parquet fixture → ORC and JSON → identical
    rows back (JSON with explicit schema; timestamps excluded — JSON's ISO
    text round-trip is exercised via the string projection)."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.sources.readers import read_table
    from spark_iceberg_jobs_spark.sources.writers import write_table

    nation = read_fixture(spark, sf_dir, "nation")
    orc_path = str(tmp_path / "nation_orc")
    json_path = str(tmp_path / "nation_json")
    write_table(nation, orc_path, fmt="orc")
    write_table(nation, json_path, fmt="json")

    orc_back = read_table(spark, orc_path, fmt="orc")
    json_back = read_table(
        spark, json_path, fmt="json", schema=FIXTURE_SCHEMAS["nation"]
    )
    expected = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, orc_back.collect())) == expected
    assert sorted(map(tuple, json_back.collect())) == expected
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, json_path, fmt="json")


def test_validation_gate(spark):
    good = spark.range(3)
    empty = spark.range(0)
    assert validate_dataframe(good, "good")
    assert not validate_dataframe(empty, "empty")
    assert not validate_dataframe(None, "none")
    with pytest.raises(ValueError, match="empty"):
        validate_all_or_raise({"good": good, "empty": empty})
    validate_all_or_raise({"good": good})


def test_observation_metrics_ride_the_ingest_scan(spark, sf_dir):
    """df.observe(): pipeline health metrics (row count, null keys, value
    bounds) collected DURING the normal action — no second scan, the
    production pattern for ingest monitoring (vs a separate validation
    pass). The observed numbers must agree with a direct aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    obs = Observation("ingest_health")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_keys"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    n = observed.count()  # the one action both consumes rows and fills obs
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_keys"] == 0
    [direct] = orders.agg(F.round(F.max("o_totalprice"), 2)).collect()
    assert got["max_price"] == direct[0]


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC source parity: parquet fixture -> ORC -> read back identical;
    predicate + projection reach the ORC scan (PushedFilters / narrow
    ReadSchema) just like the parquet path."""
    from spark_iceberg_jobs_spark.sources.readers import read_fixture, read_orc

    docs = read_fixture(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_orc")
    docs.write.orc(out)
    back = read_orc(spark, out, docs.schema)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)
    a = sorted(r.doc_id for r in docs.select("doc_id").collect())
    b = sorted(r.doc_id for r in back.select("doc_id").collect())
    assert a == b

    narrow = back.filter(back.n_chars > 100).select("doc_id", "n_chars")
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "n_chars" in plan and "text" not in plan.split("ReadSchema")[-1], plan
    assert "PushedFilters: [" in plan, plan


def test_python_datasource_partitions_and_determinism(spark):
    """The custom Python data source must expose REAL input partitions
    (one task per declared split) and generate identical rows regardless
    of the partition count (index-pure generator)."""
    from spark_iceberg_jobs_spark.sources.pygen import register

    register(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_events")
            .option("rows", 1000)
            .option("partitions", parts)
            .load()
        )

    df8 = load(8)
    assert df8.rdd.getNumPartitions() == 8
    rows8 = sorted(map(tuple, df8.collect()))
    rows3 = sorted(map(tuple, load(3).collect()))
    assert rows8 == rows3 and len(rows8) == 1000


def test_read_binary_files_blob_ingestion_feeds_decode(spark, tmp_path):
    """binaryFile source: each blob is one (path, length, content) row;
    pathGlobFilter prunes at LISTING time; selecting metadata only never
    reads contents (column pruning). The content column feeds the
    multimodal decode tier directly — a real PGM written as a loose file
    round-trips through read_binary_files -> decode_image pixel-exactly."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.operators.multimodal import decode_image
    from spark_iceberg_jobs_spark.sources.readers import read_binary_files

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    raster = bytes(range(256))  # 16x16, every gray level once
    (blob_dir / "img_7.pgm").write_bytes(b"P5\n16 16\n255\n" + raster)
    (blob_dir / "ignore.txt").write_bytes(b"not an image")

    blobs = read_binary_files(spark, str(blob_dir), pattern="*.pgm")
    rows = blobs.select("path", "length").collect()
    assert len(rows) == 1 and rows[0]["path"].endswith("img_7.pgm")
    assert rows[0]["length"] == len(b"P5\n16 16\n255\n" + raster)

    mm = blobs.select(
        F.regexp_extract(F.element_at(F.split("path", "/"), -1), r"img_(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    got = decode_image(mm).collect()
    assert [tuple(r) for r in got] == [(7, 16, 16, 127.5, 0, 255)]


def test_read_xml_explicit_schema(spark, tmp_path):
    """Spark 4 built-in XML source: one row per rowTag element, explicit
    schema required (inference is opt-in, mirroring read_csv)."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from spark_iceberg_jobs_spark.sources.readers import read_xml

    xml = tmp_path / "corpus.xml"
    xml.write_text(
        "<docs>"
        "<doc><doc_id>1</doc_id><text>alpha beta</text></doc>"
        "<doc><doc_id>2</doc_id><text>gamma</text></doc>"
        "</docs>"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    got = sorted(
        tuple(r) for r in read_xml(spark, str(xml), schema, row_tag="doc").collect()
    )
    assert got == [(1, "alpha beta"), (2, "gamma")]
    with pytest.raises(ValueError, match="explicit schema"):
        read_xml(spark, str(xml), row_tag="doc")
    # inference opt-in works for exploration
    inferred = read_xml(spark, str(xml), row_tag="doc", infer_schema=True)
    assert inferred.count() == 2


def test_read_avro_gates_loudly_or_roundtrips(spark, tmp_path):
    """Avro ships as a separate jar; absent -> loud RuntimeError (never a
    silent empty frame), present -> roundtrip. The skip flips green the
    day the spark-avro jar ships (same posture as the Iceberg runtime)."""
    import pytest

    from spark_iceberg_jobs_spark.sources.readers import avro_available, read_avro

    if not avro_available(spark):
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_avro(spark, str(tmp_path / "nope"))
        pytest.skip("spark-avro module absent in this container")
    out = str(tmp_path / "t.avro")
    spark.range(5).write.format("avro").save(out)
    assert read_avro(spark, out).count() == 5
