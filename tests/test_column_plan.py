"""The one column plan (writers/__init__.py: column_kinds, prepass_aggs,
str_widths, to_disk) shared by the single-file writers, the
partitioned exporters and the ``df.write.format("readstat")`` sink:
the same Spark type gets the same verdict, width limit and on-disk
bytes on every path."""

from __future__ import annotations

import datetime
import glob
import os
import re
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _write_single(df, path, fmt):
    import polars_readstat_spark as prs

    out = f"{path}.{fmt}"
    prs.write_readstat(df, out)
    return out


def _write_partitioned(df, path, fmt):
    from polars_readstat_spark import write_readstat_partitioned

    write_readstat_partitioned(df, path, ext=fmt)
    return path


def _write_sink(df, path, fmt):
    df.write.format("readstat").option("format", fmt).mode(
        "overwrite"
    ).save(path)
    return path


_PATHS = {
    "single": _write_single,
    "partitioned": _write_partitioned,
    "sink": _write_sink,
}

_BAD = {
    "binary": "cast('x' as binary)",
    "array<int>": "array(1, 2)",
    "interval day": "INTERVAL '3' DAY",
}


def _bad_frame(spark, t):
    return spark.range(5).select(
        F.col("id").cast("double").alias("ok"), F.expr(_BAD[t]).alias("badcol")
    )


@pytest.mark.parametrize("t", list(_BAD))
@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "sas7bdat", "por", "dta"])
def test_unsupported_type_rejected_single(spark, tmp_path, fmt, t):
    df = _bad_frame(spark, t)
    assert df.schema["badcol"].dataType.simpleString() == t
    with pytest.raises(ValueError, match="badcol"):
        _write_single(df, str(tmp_path / "o"), fmt)


@pytest.mark.parametrize("t", list(_BAD))
@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "sas7bdat", "dta"])
def test_unsupported_type_rejected_partitioned(spark, tmp_path, fmt, t):
    with pytest.raises(ValueError, match="badcol"):
        _write_partitioned(_bad_frame(spark, t), str(tmp_path / "o"), fmt)


@pytest.mark.parametrize("t", list(_BAD))
@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "sas7bdat", "dta"])
def test_unsupported_type_rejected_sink(spark, tmp_path, fmt, t):
    # the planning worker's ValueError reaches the driver wrapped
    with pytest.raises(Exception, match=f"unsupported type {t} for column '?badcol"):
        _write_sink(_bad_frame(spark, t), str(tmp_path / "o"), fmt)


def _load(spark, path):
    return spark.read.format("readstat").load(path)


@pytest.mark.parametrize("path_kind", ["single", "partitioned"])
@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt"])
def test_void_column_roundtrips_as_null_double(spark, tmp_path, fmt, path_kind):
    df = spark.range(40, numPartitions=2).select(
        F.col("id").cast("double").alias("x"), F.lit(None).alias("v")
    )
    assert df.schema["v"].dataType.simpleString() == "void"
    out = _PATHS[path_kind](df, str(tmp_path / "o"), fmt)
    back = _load(spark, out)
    v = "V" if fmt == "xpt" else "v"
    assert back.schema[v].dataType.simpleString() == "double"
    rows = back.select(v).collect()
    assert len(rows) == 40 and all(r[0] is None for r in rows)


def test_void_column_still_rejected_by_dta(spark, tmp_path):
    # dta plans its own integer narrowing and has no void mapping;
    # it keeps rejecting the column up front
    df = spark.range(4).select(F.col("id"), F.lit(None).alias("v"))
    with pytest.raises(ValueError, match="unsupported column type void"):
        _write_single(df, str(tmp_path / "o"), "dta")


_LIMITS = {"sav": 255, "zsav": 255, "xpt": 200, "sas7bdat": 32767}


@pytest.mark.parametrize("path_kind", list(_PATHS))
@pytest.mark.parametrize("fmt", list(_LIMITS))
def test_string_width_limit(spark, tmp_path, fmt, path_kind):
    limit = _LIMITS[fmt]
    write = _PATHS[path_kind]

    def frame(w):
        return spark.range(3, numPartitions=1).select(
            F.col("id").cast("double").alias("x"),
            F.when(F.col("id") == 1, F.lit("y" * w))
            .otherwise(F.lit("a"))
            .alias("wide"),
        )

    out = write(frame(limit), str(tmp_path / "at"), fmt)
    back = _load(spark, out)
    wide = "WIDE" if fmt == "xpt" else "wide"
    got = sorted(r[0] for r in back.select(wide).collect())
    assert got == ["a", "a", "y" * limit]

    # the sink raises in its write task: the ValueError arrives wrapped
    err = Exception if path_kind == "sink" else ValueError
    with pytest.raises(err, match=f"wide.* wider than {limit} bytes"):
        write(frame(limit + 1), str(tmp_path / "over"), fmt)


@pytest.fixture(scope="module")
def cross_frame(spark):
    df = spark.range(3000, numPartitions=1).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 1.25)
        .alias("num"),
        (F.col("id") + F.lit(3_000_000_000)).alias("big"),
        (F.col("id") % 3 == 0).alias("flag"),
        F.date_add(
            F.lit(datetime.date(2019, 5, 6)), (F.col("id") % 500).cast("int")
        ).alias("d"),
        F.timestamp_seconds(F.col("id") * 3671 + 1_500_000_000).alias("ts"),
        F.concat(
            F.lit("s"), F.col("id"), F.repeat(F.lit("z"), (F.col("id") % 9).cast("int"))
        ).alias("str"),
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _masked(path: str) -> bytes:
    b = bytearray(open(path, "rb").read())
    if path.endswith((".sav", ".zsav")):
        b[92:109] = bytes(17)  # header creation date + time
    elif path.endswith(".xpt"):
        b = bytearray(
            re.sub(rb"\d\d[A-Z]{3}\d\d:\d\d:\d\d:\d\d", b"#" * 16, bytes(b))
        )
    return bytes(b)


def _only_part(d: str, fmt: str) -> str:
    parts = glob.glob(os.path.join(d, f"part-*.{fmt}"))
    assert len(parts) == 1, parts
    return parts[0]


@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "sas7bdat", "dta"])
def test_cross_path_bytes_identical(spark, tmp_path, cross_frame, fmt):
    single = _masked(_write_single(cross_frame, str(tmp_path / "single"), fmt))
    part = _masked(
        _only_part(
            _write_partitioned(cross_frame, str(tmp_path / "part"), fmt), fmt
        )
    )
    sink = _masked(
        _only_part(_write_sink(cross_frame, str(tmp_path / "sink"), fmt), fmt)
    )
    assert single == part
    assert single == sink


def test_import_and_plan_without_spark_session():
    """The sink plans in a Python worker with no SparkSession; and the
    package import must not pay for loading the sink module."""
    code = """
import sys
import polars_readstat_spark
assert "polars_readstat_spark.writers.spark_sink" not in sys.modules
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType, DateType, DoubleType, LongType, StringType,
    StructField, StructType, TimestampType,
)
from polars_readstat_spark.writers.spark_sink import plan_write
schema = StructType([
    StructField("x", DoubleType()), StructField("n", LongType()),
    StructField("b", BooleanType()), StructField("d", DateType()),
    StructField("ts", TimestampType()), StructField("s", StringType()),
    StructField("t", LongType(), metadata={"time": "ns_since_midnight"}),
])
for fmt in ("sas7bdat", "sav", "zsav", "xpt", "dta"):
    got, fields, names, shorts, kinds = plan_write(schema, {"format": fmt})
    assert got == fmt and names == [f.name for f in schema.fields]
    assert kinds == ["num", "num", "num", "date", "datetime", "str", "time"]
assert SparkSession.getActiveSession() is None
print("ok")
"""
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().endswith("ok")
