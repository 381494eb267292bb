"""Write-read roundtrip tests for SAV / XPT / POR / SAS-CSV writers
(reference test model: tests/test_write_roundtrip.py matrix, SURVEY §5.5).

Each writer streams partitions through a pre-pass + driver-side
assembly; the roundtrip goes out through `write_readstat` and back in
through the public `spark.read.format("readstat")` API. XPT gets an
extra external oracle: pandas.read_sas reads our transport files.
"""

from __future__ import annotations

import datetime
import math
import os

import numpy as np
import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


@pytest.fixture(scope="module")
def sample_df(spark):
    from pyspark.sql import Row

    rows = [
        Row(
            name="alice", age=30, score=1.5,
            d=datetime.date(2020, 1, 2),
            ts=datetime.datetime(2021, 3, 4, 5, 6, 7),
            grp=1,
        ),
        Row(name="bob", age=None, score=None, d=None, ts=None, grp=2),
        Row(
            name="", age=25, score=-1234.56789,
            d=datetime.date(1959, 6, 1),
            ts=datetime.datetime(1960, 1, 1),
            grp=1,
        ),
        Row(
            name="carol", age=99, score=0.0,
            d=datetime.date(1970, 1, 1),
            ts=datetime.datetime(2038, 1, 19, 3, 14, 7),
            grp=2,
        ),
    ]
    return spark.createDataFrame(rows).repartition(3)


def test_sav_roundtrip(spark, sample_df, tmp_path):
    import polars_readstat_spark as prs

    p = str(tmp_path / "rt.sav")
    prs.write_readstat(
        sample_df, p,
        variable_labels={"age": "Age in years"},
        value_labels={"grp": {1: "one", 2: "two"}},
    )
    back = spark.read.format("readstat").load(p)
    rows = sorted(back.collect(), key=lambda r: r.name)
    src = sorted(sample_df.collect(), key=lambda r: r.name)
    for s, b in zip(src, rows):
        assert b.name == s.name
        assert b.age == (float(s.age) if s.age is not None else None)
        assert b.score == s.score
        assert b.d == s.d
        assert b.ts == s.ts
    # labels survive
    md = {f.name: f.metadata for f in back.schema.fields}
    assert md["age"]["label"] == "Age in years"
    lab = spark.read.format("readstat").option(
        "value_labels_as_strings", "true"
    ).load(p)
    assert {r.grp for r in lab.collect()} == {"one", "two"}


def test_sav_roundtrip_of_reference_fixture(spark, tmp_path):
    """read corpus file → write → read: data survives our own writer."""
    src_path = (
        "/root/reference/crates/polars_readstat_rs/tests/spss/data/sample.sav"
    )
    if not os.path.isfile(src_path):
        pytest.skip("corpus missing")
    import polars_readstat_spark as prs

    src = spark.read.format("readstat").load(src_path)
    p = str(tmp_path / "re.sav")
    prs.write_readstat(src, p)
    back = spark.read.format("readstat").load(p)
    a = [tuple(r) for r in src.collect()]
    b = [tuple(r) for r in back.collect()]
    # mytime column is Long ns — identical; floats identical
    assert a == b


def test_xpt_roundtrip_with_pandas_oracle(spark, sample_df, tmp_path):
    import pandas as pd

    import polars_readstat_spark as prs

    p = str(tmp_path / "rt.xpt")
    prs.write_readstat(sample_df, p)
    back = spark.read.format("readstat").load(p)
    ours = sorted(back.collect(), key=lambda r: r.NAME)
    src = sorted(sample_df.collect(), key=lambda r: r.name)
    for s, b in zip(src, ours):
        assert b.NAME == s.name
        assert b.SCORE == s.score
        assert b.D == s.d
        assert b.TS == s.ts
    # external oracle: pandas' xport reader sees the same numerics
    pdf = pd.read_sas(p)
    ps = sorted(pdf["SCORE"].tolist(), key=lambda x: (math.isnan(x), x))
    ss = sorted(
        [r.score if r.score is not None else float("nan") for r in src],
        key=lambda x: (math.isnan(x), x),
    )
    assert np.allclose(ps[:-1], ss[:-1]) and math.isnan(ps[-1])


def test_por_roundtrip(spark, sample_df, tmp_path):
    import polars_readstat_spark as prs

    p = str(tmp_path / "rt.por")
    prs.write_readstat(sample_df, p)
    back = spark.read.format("readstat").load(p)
    rows = sorted(back.collect(), key=lambda r: r.NAME)
    src = sorted(sample_df.collect(), key=lambda r: r.name)
    for s, b in zip(src, rows):
        assert b.NAME == s.name
        assert b.SCORE == s.score  # base-30 roundtrip is exact
        assert b.D == s.d
        assert b.TS == s.ts


def test_dta_sav_cross_format(spark, sample_df, tmp_path):
    """Same data through two writers → two readers must agree."""
    import polars_readstat_spark as prs

    pd_, ps_ = str(tmp_path / "x.dta"), str(tmp_path / "x.sav")
    prs.write_readstat(sample_df, pd_)
    prs.write_readstat(sample_df, ps_)
    a = spark.read.format("readstat").load(pd_)
    b = spark.read.format("readstat").load(ps_)
    ra = sorted(
        [(r.name, float(r.age) if r.age is not None else None, r.score, r.d, r.ts)
         for r in a.collect()]
    )
    rb = sorted(
        [(r.name, r.age, r.score, r.d, r.ts) for r in b.collect()]
    )
    assert ra == rb


def test_sas_csv_import_bundle(spark, sample_df, tmp_path):
    import polars_readstat_spark as prs

    csv_path, sas_path = prs.write_sas_csv_import(
        sample_df, str(tmp_path / "bundle"),
        dataset_name="mydata",
        value_labels={"grp": {1: "one", 2: "two"}},
        variable_labels={"age": "Age in years"},
    )
    assert os.path.isfile(csv_path) and os.path.isfile(sas_path)
    # CSV has a single header + all rows, readable by Spark's csv
    got = spark.read.option("header", "true").csv(csv_path)
    assert got.count() == sample_df.count()
    script = open(sas_path).read()
    assert "proc format;" in script
    assert 'label age = "Age in years";' in script
    assert "format d yymmdd10.;" in script
    assert "format ts datetime19.;" in script
    assert "length name $" in script


def test_zsav_roundtrip(spark, sample_df, tmp_path):
    """ZSAV writer: zlib-block container holding bytecode-framed
    cases; roundtrip must equal the uncompressed sav write."""
    import polars_readstat_spark as prs

    pz = str(tmp_path / "rt.zsav")
    ps = str(tmp_path / "rt.sav")
    prs.write_readstat(sample_df, pz)
    prs.write_readstat(sample_df, ps)
    za = sorted([tuple(r) for r in spark.read.format("readstat").load(pz).collect()])
    sa = sorted([tuple(r) for r in spark.read.format("readstat").load(ps).collect()])
    assert za == sa and len(za) == 4
    # container actually is the $FL3 zlib variant
    assert open(pz, "rb").read(4) == b"$FL3"


def test_xpt_v8_long_names(spark, tmp_path):
    """V8 transport: LABELV8 records carry >8-char names and >40-char
    labels; our reader's LABELV8 parser restores both."""
    import datetime

    import polars_readstat_spark as prs
    from pyspark.sql import Row

    rows = [
        Row(a_very_long_variable_name=float(i), short=f"s{i}",
            d=datetime.date(2020, 1, 1 + i))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    p = str(tmp_path / "v8.xpt")
    prs.write_readstat(
        df, p, version=8,
        variable_labels={"a_very_long_variable_name": "L" * 60},
    )
    back = spark.read.format("readstat").load(p)
    assert back.columns[0] == "a_very_long_variable_name"
    md = {f.name: f.metadata for f in back.schema.fields}
    assert len(md["a_very_long_variable_name"]["label"]) == 60
    assert [r[0] for r in back.select("a_very_long_variable_name").collect()] == [
        float(i) for i in range(10)
    ]
