"""One layout per format: a single-file export, a partitioned export
and the ``df.write.format("readstat")`` sink lay out the same bytes
for the same one-partition frame (creation timestamps masked) — in
every codec and version each path can write."""

from __future__ import annotations

import datetime
import glob
import os

import pytest

from pyspark.sql import functions as F

from tests.test_transport_equivalence import _masked, with_strl

# case -> (extension, single-file / partitioned keyword arguments)
CASES = {
    "sav": ("sav", {}),
    "zsav": ("zsav", {}),
    "xpt5": ("xpt", {}),
    "xpt8": ("xpt", {"version": 8}),
    "sas7bdat": ("sas7bdat", {}),
    "sas7bdat_rle": ("sas7bdat", {"compress": "rle"}),
    "sas7bdat_rdc": ("sas7bdat", {"compress": "rdc"}),
    "dta": ("dta", {}),
    "dta_strl": ("dta", {}),
}
SINK_CASES = ("sav", "xpt5", "sas7bdat")


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


@pytest.fixture(scope="module")
def frame(spark):
    df = spark.range(5000, numPartitions=1).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 1.25)
        .alias("num"),
        (F.col("id") % 1000).cast("int").alias("code"),
        F.date_add(
            F.lit(datetime.date(2019, 5, 6)), (F.col("id") % 500).cast("int")
        ).alias("d"),
        F.timestamp_seconds(F.col("id") * 3671 + 1_500_000_000).alias("ts"),
        F.concat(
            F.lit("s"), F.col("id"), F.repeat(F.lit(" "), (F.col("id") % 9).cast("int"))
        ).alias("str"),
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def single(frame, tmp_path_factory):
    """The single-file export of each case, written once per module."""
    import polars_readstat_spark as prs

    out, root = {}, tmp_path_factory.mktemp("single")

    def get(case):
        if case not in out:
            ext, kw = CASES[case]
            out[case] = str(root / f"{case}.{ext}")
            prs.write_readstat(_input(frame, case), out[case], **kw)
        return _masked(out[case])

    return get


def _input(frame, case):
    return with_strl(frame) if case == "dta_strl" else frame


def _only_part(d: str, ext: str) -> str:
    parts = glob.glob(os.path.join(d, f"*.{ext}"))
    assert len(parts) == 1, parts
    return parts[0]


@pytest.mark.parametrize("case", list(CASES))
def test_partitioned_export_writes_the_single_file_bytes(
    frame, single, tmp_path, case
):
    import polars_readstat_spark as prs

    ext, kw = CASES[case]
    d = str(tmp_path / "part")
    prs.write_readstat_partitioned(_input(frame, case), d, ext=ext, **kw)
    assert _masked(_only_part(d, ext)) == single(case)


@pytest.mark.parametrize("case", SINK_CASES)
def test_sink_writes_the_single_file_bytes(frame, single, tmp_path, case):
    ext, _ = CASES[case]
    d = str(tmp_path / "sink")
    frame.write.format("readstat").option("format", ext).mode(
        "overwrite"
    ).save(d)
    assert _masked(_only_part(d, ext)) == single(case)
