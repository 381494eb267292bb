"""Distributed partitioned export: dir-write -> dir-read roundtrips,
parts share one schema from the global pre-pass, and tasks (not the
driver) write the files."""

from __future__ import annotations

import glob
import os

import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _src(spark, n=10_000, parts=6):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2.5).alias("v"),
            F.concat(F.lit("row"), F.col("id")).alias("s"),
            F.to_date(F.lit("2020-01-01")).alias("d"),
        )
    )


def test_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_dta")
    res = prs.write_readstat_partitioned(_src(spark), d)
    files = sorted(glob.glob(os.path.join(d, "part-*.dta")))
    assert len(files) == len(res) >= 2  # actually parallel, many files
    assert sum(r["n_rows"] for r in res) == 10_000
    assert not glob.glob(os.path.join(d, "*.tmp*"))  # atomic renames

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {r.k: r for r in back.collect()}
    assert rows[9999].s == "row9999" and rows[9999].v == 9999 * 2.5
    assert str(rows[0].d) == "2020-01-01"


def test_parts_share_global_schema(spark, tmp_path):
    """A bigint column that is int-ranged overall must downcast the
    same way in every part even if one part holds only small values."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.dta.meta import parse_dta_meta

    df = (
        spark.range(1000)
        .select((F.col("id") + 2_200_000_000).alias("big"))
        .repartition(4)
    )
    d = str(tmp_path / "big")
    prs.write_readstat_partitioned(df, d)
    kinds = set()
    for f in glob.glob(os.path.join(d, "part-*.dta")):
        meta = parse_dta_meta(f)
        kinds.add(meta.variables[0].kind)
    assert kinds == {"double"}  # out-of-int32 range ⇒ double everywhere
    total = spark.read.format("readstat").load(d).count()
    assert total == 1000


def test_empty_partitions_skipped(spark, tmp_path):
    import polars_readstat_spark as prs

    df = _src(spark, n=3, parts=8)  # more partitions than rows
    d = str(tmp_path / "sparse")
    res = prs.write_readstat_partitioned(df, d)
    assert sum(r["n_rows"] for r in res) == 3
    assert len(glob.glob(os.path.join(d, "part-*.dta"))) == len(res) <= 3
    assert spark.read.format("readstat").load(d).count() == 3


def test_unsupported_format_raises(spark, tmp_path):
    import polars_readstat_spark as prs

    with pytest.raises(NotImplementedError):
        prs.write_readstat_partitioned(_src(spark, 10, 1), str(tmp_path), ext="por")


def test_sav_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_sav")
    res = prs.write_readstat_partitioned(_src(spark), d, ext="sav")
    files = sorted(glob.glob(os.path.join(d, "part-*.sav")))
    assert len(files) == len(res) >= 2
    assert sum(r["n_rows"] for r in res) == 10_000

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {int(r.k): r for r in back.collect()}
    assert rows[9999].s == "row9999" and rows[9999].v == 9999 * 2.5
    assert str(rows[0].d) == "2020-01-01"


def test_sav_parts_share_string_width(spark, tmp_path):
    """String width must come from the global pre-pass: a part that
    only holds short strings still declares the corpus-wide width."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    df = (
        spark.range(100)
        .select(F.concat(F.lit("x"), F.expr("repeat('y', cast(id % 40 as int))")).alias("s"))
        .repartition(4)
    )
    d = str(tmp_path / "w")
    prs.write_readstat_partitioned(df, d, ext="sav")
    widths = set()
    for f in glob.glob(os.path.join(d, "part-*.sav")):
        m = parse_sav_meta(f)
        widths.add(m.variables[0].string_len or 0)
    assert len(widths) == 1  # one global width everywhere
    assert spark.read.format("readstat").load(d).count() == 100


def test_xpt_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_xpt")
    res = prs.write_readstat_partitioned(_src(spark), d, ext="xpt")
    assert len(res) >= 2 and sum(r["n_rows"] for r in res) == 10_000

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {int(r.K): r for r in back.collect()}
    assert rows[9999].S == "row9999" and rows[9999].V == 9999 * 2.5
    assert str(rows[0].D) == "2020-01-01"


@pytest.mark.parametrize("ext", ["sav", "dta"])
def test_labels_reach_every_part(spark, tmp_path, ext):
    """data_label, variable labels and value labels pass through to
    every part-file's own metadata, not just the first."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.dta.meta import parse_dta_meta
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    df = (
        spark.range(400)
        .repartition(4)
        .select(
            (F.col("id") % 2 + 1).cast("int").alias("sex"),
            F.concat(F.lit("r"), F.col("id")).alias("name"),
        )
    )
    d = str(tmp_path / f"labels_{ext}")
    res = prs.write_readstat_partitioned(
        df, d, ext=ext,
        data_label="Survey wave 3",
        variable_labels={"sex": "Respondent sex", "name": "Full name"},
        value_labels={"sex": {1: "Male", 2: "Female"}},
    )
    files = sorted(glob.glob(os.path.join(d, f"part-*.{ext}")))
    assert len(files) == len(res) == 4
    for f in files:
        if ext == "sav":
            m = parse_sav_meta(f)
            assert m.file_label == "Survey wave 3"
            v = {x.name: x for x in m.variables}
            assert v["sex"].label == "Respondent sex"
            assert v["name"].label == "Full name"
            assert v["sex"].value_labels == {1.0: "Male", 2.0: "Female"}
        else:
            m = parse_dta_meta(f)
            assert m.data_label == "Survey wave 3"
            v = {x.name: x for x in m.variables}
            assert v["sex"].varlabel == "Respondent sex"
            assert v["name"].varlabel == "Full name"
            assert m.value_labels[v["sex"].lblname] == {1: "Male", 2: "Female"}


def test_bad_compress_rejected_before_any_job(spark, tmp_path):
    """A sas7bdat ``compress`` other than rle/rdc is refused by the
    shared plan step, before the pre-pass or any write job — on the
    partitioned, sink and single-file paths alike."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id").cast("double").alias("x"), F.lit("a").alias("s")
    )
    sc = spark.sparkContext
    sc.setJobGroup("prs-bad-compress", "no job may start")
    try:
        with pytest.raises(ValueError, match="compress='zip'"):
            prs.write_readstat_partitioned(
                df, str(tmp_path / "p"), ext="sas7bdat", compress="zip"
            )
        with pytest.raises(ValueError, match="compress='zip'"):
            prs.write_readstat(df, str(tmp_path / "s.sas7bdat"), compress="zip")
        # the sink's planning worker raises; it reaches the driver wrapped
        with pytest.raises(Exception, match="compress='zip'"):
            df.write.format("readstat").option("format", "sas7bdat").option(
                "compress", "zip"
            ).mode("overwrite").save(str(tmp_path / "k"))
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("prs-bad-compress") == []
