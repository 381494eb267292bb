"""The scan front end every format reader shares (sources/partplan.py
+ datasource.spark_schema): the same option means the same thing in
every format. Files come from our own writers — no external corpus."""

from __future__ import annotations

import os

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "sas7bdat")
ROW_INDEX_FORMATS = ["dta", "sav", "xpt", "sas7bdat", "por"]
TIME_FORMATS = ["sas7bdat", "xpt", "sav", "zsav", "por"]
TIME_TAG = {"time": "ns_since_midnight"}
# whole seconds since midnight, as ns: 00:00:00, 01:00:00, 12:34:56,
# 23:59:59, and a missing value
TIME_NS = [0, 3_600_000_000_000, 45_296_000_000_000, 86_399_000_000_000, None]


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _scan(spark, path, **opts):
    r = spark.read.format("readstat")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(str(path))


@pytest.fixture(scope="module")
def twenty_rows(spark, tmp_path_factory):
    """{fmt: path} of one 20-row frame (ID = 0..19, S) per format."""
    import polars_readstat_spark as prs

    d = tmp_path_factory.mktemp("front_end")
    df = spark.range(20).selectExpr(
        "cast(id as double) as ID", "concat('s', cast(id as string)) as S"
    ).coalesce(1)
    out = {}
    for fmt in ROW_INDEX_FORMATS:
        out[fmt] = str(d / f"t.{fmt}")
        prs.write_readstat(df, out[fmt])
    return out


@pytest.mark.parametrize("fmt", ROW_INDEX_FORMATS)
def test_row_index_offset_is_result_relative(spark, twenty_rows, fmt):
    path = twenty_rows[fmt]
    rows = _scan(
        spark, path, offset="5", n_rows="3", row_index_name="ri",
        row_index_offset="10",
    ).collect()
    assert [r.ID for r in rows] == [5.0, 6.0, 7.0]
    assert [r.ri for r in rows] == [10, 11, 12]
    rows = _scan(
        spark, path, offset="5", n_rows="3", row_index_name="ri"
    ).collect()
    assert [r.ri for r in rows] == [0, 1, 2]


@pytest.mark.parametrize("fmt", ROW_INDEX_FORMATS)
def test_row_index_name_clash_raises(twenty_rows, fmt):
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    ds = ReadstatDataSource({"path": twenty_rows[fmt], "row_index_name": "S"})
    with pytest.raises(ValueError, match="collides"):
        ds.schema()


@pytest.mark.parametrize("fmt", ROW_INDEX_FORMATS)
def test_unknown_column_raises_naming_it(twenty_rows, fmt):
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    ds = ReadstatDataSource({"path": twenty_rows[fmt], "columns": "ID,NOPE"})
    with pytest.raises(ValueError, match="NOPE"):
        ds.schema()
    with pytest.raises(ValueError, match="NOPE"):
        ds.reader(None)


def test_repeated_column_raises_naming_it():
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    path = os.path.join(FIXTURES, "types.sas7bdat")
    ds = ReadstatDataSource({"path": path, "columns": "vint,vint"})
    with pytest.raises(ValueError, match="'vint'.* more than once"):
        ds.schema()
    with pytest.raises(ValueError, match="'vint'.* more than once"):
        ds.reader(None)


@pytest.mark.parametrize("fmt", ["sav", "por"])
def test_missing_string_as_null_nulls_empty_strings(spark, tmp_path, fmt):
    import polars_readstat_spark as prs

    path = str(tmp_path / f"e.{fmt}")
    df = spark.createDataFrame([(1.0, "a"), (2.0, ""), (3.0, "c")], "ID double, S string")
    prs.write_readstat(df.coalesce(1), path)
    plain = [r.S for r in _scan(spark, path).orderBy("ID").collect()]
    assert plain == ["a", "", "c"]
    nulled = _scan(spark, path, missing_string_as_null="true").orderBy("ID")
    assert [r.S for r in nulled.collect()] == ["a", None, "c"]


@pytest.mark.parametrize("fmt", TIME_FORMATS)
def test_time_tag_survives_read_write_read(spark, tmp_path, fmt):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(TIME_NS)],
        StructType(
            [
                StructField("ID", LongType()),
                StructField("T", LongType(), True, TIME_TAG),
            ]
        ),
    ).coalesce(1)
    first = tmp_path / f"first.{fmt}"
    prs.write_readstat(df, str(first))
    scanned = _scan(spark, first)
    assert scanned.schema["T"].metadata.get("time") == "ns_since_midnight"
    assert scanned.schema["T"].dataType == LongType()

    second = tmp_path / f"second.{fmt}"
    prs.write_readstat(scanned, str(second))
    again = _scan(spark, second)
    assert again.schema["T"].dataType == LongType()
    got = [
        r.T for r in again.orderBy(F.col("ID")).select("T").collect()
    ]
    assert got == TIME_NS
