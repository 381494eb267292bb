"""The two single-file export transports are interchangeable: with
``writers._TRANSPORT`` forced to the ordered all-cores protocol and
then to the narrow per-partition one, every writer emits the same
bytes (creation timestamps masked), and the file reads back as the
input rows."""

from __future__ import annotations

import datetime
import re

import pytest

from pyspark.sql import functions as F

import polars_readstat_spark.writers as w

CASES = {
    "sav": ("sav", {}),
    "zsav": ("zsav", {}),
    "xpt5": ("xpt", {"tagged_missing": {"num": "t"}}),
    "xpt8": ("xpt", {"tagged_missing": {"num": "t"}, "version": 8}),
    "por": ("por", {}),
    "dta": ("dta", {"tagged_missing": {"num": "t"}}),
    "dta_strl": ("dta", {}),
    "sas7bdat": ("sas7bdat", {"tagged_missing": {"num": "t"}}),
    "sas7bdat_rle": ("sas7bdat", {"tagged_missing": {"num": "t"}, "compress": "rle"}),
}


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _columns(ids):
    return ids.select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 1.25)
        .alias("num"),
        (F.col("id") + F.lit(3_000_000_000)).alias("big"),
        F.date_add(
            F.lit(datetime.date(2019, 5, 6)), (F.col("id") % 500).cast("int")
        ).alias("d"),
        F.timestamp_seconds(F.col("id") * 3671 + 1_500_000_000).alias("ts"),
        F.concat(
            F.lit("s"), F.col("id"), F.repeat(F.lit("z"), (F.col("id") % 9).cast("int"))
        ).alias("str"),
        F.when(
            F.col("id") % 5 == 1,
            F.concat(F.lit("."), F.char((F.lit(97) + F.col("id") % 26).cast("int"))),
        )
        .when(F.col("id") % 5 == 2, F.lit("."))
        .otherwise(F.lit(""))  # SPSS strings have no null
        .alias("t"),
    )


def with_strl(df):
    """``df`` plus a ``long`` string column past 2045 bytes (dta
    writes it as strL), empty where ``num`` is null. One strL column:
    <strls> holds each chunk's GSO records column by column, so with
    two the record order follows the chunking."""
    return df.withColumn(
        "long",
        F.when(F.col("num").isNull(), F.lit("")).otherwise(
            F.concat(F.repeat(F.lit("q"), 2046), F.col("str"))
        ),
    )


@pytest.fixture(scope="module")
def frame(spark):
    df = _columns(spark.range(4000, numPartitions=3)).cache()
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
    elif path.endswith(".por"):
        i = bytes(b).index(b"SPSSPORTA")  # header date + time digits
        b[i : i + 40] = re.sub(rb"\d", b"#", bytes(b[i : i + 40]))
    return bytes(b)


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(microsecond=0)
    return v


def _expected(frame, tagged: bool):
    rows = []
    for r in frame.collect():
        r = list(r)
        if tagged:
            if r[5]:  # a tag (or '.') writes a missing value
                r[0] = None
            r = r[:5]  # the indicator column is consumed
        rows.append(tuple(_norm(v) for v in r))
    return rows


def _write_both(frame, ext, kw, tmp_path, monkeypatch) -> dict:
    """{mode: path} of one export forced through each transport."""
    import polars_readstat_spark as prs

    floor, narrow_rows, ordered_rows = w._TRANSPORT[ext]
    out = {}
    # uneven chunk sizes, so the two runs cut chunks at different rows
    for mode, rows in (
        ("ordered", (narrow_rows, 700)),
        ("narrow", (1000, ordered_rows)),
    ):
        monkeypatch.setattr(w, "_fans_out", lambda *a, _o=mode == "ordered": _o)
        monkeypatch.setitem(w._TRANSPORT, ext, (floor, *rows))
        path = str(tmp_path / f"{mode}.{ext}")
        prs.write_readstat(frame, path, **kw)
        out[mode] = path
    return out


def _read_back(spark, path):
    return [
        tuple(_norm(v) for v in r)
        for r in spark.read.format("readstat").load(path).collect()
    ]


@pytest.mark.parametrize("case", list(CASES))
def test_ordered_and_narrow_transports_write_identical_files(
    spark, tmp_path, monkeypatch, frame, case
):
    ext, kw = CASES[case]
    df = with_strl(frame) if case == "dta_strl" else frame
    out = _write_both(df, ext, kw, tmp_path, monkeypatch)
    assert _masked(out["ordered"]) == _masked(out["narrow"])
    assert _read_back(spark, out["narrow"]) == _expected(df, "tagged_missing" in kw)


def test_many_partition_drain_keeps_input_order(spark, tmp_path, monkeypatch):
    """More partitions than the drain keeps in flight (3 x cores + 1),
    a quarter of them empty: the narrow drain still yields them in
    input order, byte-identical to the ordered path."""
    parts = 3 * spark.sparkContext.defaultParallelism + 1
    ids = spark.range(4000, numPartitions=parts)
    per = -(-4000 // parts)  # range() partitions are contiguous id blocks
    many = _columns(ids.where(F.floor(F.col("id") / per) % 4 != 1))
    assert many.rdd.getNumPartitions() == parts
    ext, kw = CASES["xpt5"]
    out = _write_both(many, ext, kw, tmp_path, monkeypatch)
    assert _masked(out["ordered"]) == _masked(out["narrow"])
    assert _read_back(spark, out["narrow"]) == _expected(many, True)
