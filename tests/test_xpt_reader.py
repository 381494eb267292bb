"""Differential tests for the XPT (SAS transport) data source.

Oracle: pandas.read_sas(format="xport") for v5; v8 (which pandas
cannot read) self-validates against in-file string twin columns.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

import polars_readstat_spark as prs

X = "/root/reference/crates/polars_readstat_rs/tests/sas/data/xpt/"
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(X), reason="corpus missing"
)


@needs_corpus
@pytest.mark.parametrize("fn", ["ACQ_G.xpt", "sample.xpt"])
def test_v5_matches_pandas(fn, spark):
    p = X + fn
    ref = pd.read_sas(p, format="xport")
    sdf = prs.scan_readstat(spark, p)
    # avoid toPandas ns-overflow on extreme dates: compare via collect
    names = sdf.columns
    rows = sdf.collect()
    got = pd.DataFrame(
        {c: [r[i] for r in rows] for i, c in enumerate(names)}
    )
    assert len(got) == len(ref)
    assert list(got.columns) == list(ref.columns)
    from polars_readstat_spark.sources.xpt.meta import parse_xpt_meta

    meta = parse_xpt_meta(p)
    for v in meta.variables:
        if not v.is_numeric or v.time_kind is not None:
            continue  # promoted columns covered by the dates test
        a = got[v.name].astype(float).values
        b = ref[v.name].values.astype(float)
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), v.name


@needs_corpus
def test_v5_date_promotion(spark):
    # collect(), not toPandas(): the file carries year-1583 dates that
    # overflow datetime64[ns]
    rows = prs.scan_readstat(spark, X + "sample.xpt").collect()
    assert str(rows[0]["MYDATE"]) == "2018-05-06"
    assert str(rows[0]["DTIME"]).startswith("2018-05-06 10:10:10")
    assert str(rows[3]["MYDATE"]) == "1583-01-01"
    assert rows[4]["MYDATE"] is None


@needs_corpus
def test_v8_reads_with_string_twins(spark):
    rows = prs.scan_readstat(spark, X + "dates_xpt_v8.xpt").collect()
    assert len(rows) == 19
    # every date value equals its string twin (self-validating file)
    for r in rows:
        d, s = r[3], r[4]
        if d is not None and isinstance(s, str) and s:
            assert str(d) == s


@needs_corpus
def test_options_and_partitions(spark):
    p = X + "ACQ_G.xpt"
    full = prs.scan_readstat(spark, p).toPandas()
    sub = prs.scan_readstat(
        spark, p, columns=["SEQN"], offset=10, n_rows=100,
        rows_per_partition=1000, row_index_name="ri",
    ).toPandas().sort_values("ri")
    assert list(sub.columns) == ["SEQN", "ri"]
    assert len(sub) == 100
    assert (sub["SEQN"].values == full["SEQN"].values[10:110]).all()


def test_labelv9_records(spark, tmp_path):
    """V9 label records (10-byte entry headers adding format/informat
    lengths) restore long names and labels exactly like LABELV8 —
    reference read_labels_v9, sas/xpt.rs:216-250. Synthesized by
    transcoding a written LABELV8 section into LABELV9 layout."""
    import struct

    import polars_readstat_spark as prs
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(an_extremely_long_column_name=float(i), other=float(i * 2))
         for i in range(7)]
    )
    p8 = str(tmp_path / "v8.xpt")
    prs.write_readstat(
        df, p8, version=8,
        variable_labels={"an_extremely_long_column_name": "label " * 10},
    )
    raw = open(p8, "rb").read()

    # locate the LABELV8 header record and the following OBSV8 header
    tag = raw.index(b"HEADER RECORD*******LABELV8")
    obs = raw.index(b"HEADER RECORD*******OBSV8", tag)
    hdr = raw[tag : tag + 80]
    n_lbl = int(hdr[48:53].strip() or b"0")
    assert n_lbl >= 1

    # walk the 6-byte v8 entries, rebuild as 10-byte v9 entries with
    # zero-length format/informat fields
    body = raw[tag + 80 : obs]
    out = bytearray()
    pos = 0
    for _ in range(n_lbl):
        vn, nl, ll = struct.unpack(">3h", body[pos : pos + 6])
        payload = body[pos + 6 : pos + 6 + nl + ll]
        pos += 6 + nl + ll
        out += struct.pack(">5h", vn, nl, ll, 0, 0) + payload
    out += b" " * ((-len(out)) % 80)

    p9 = str(tmp_path / "v9.xpt")
    with open(p9, "wb") as f:
        f.write(raw[:tag])
        f.write(hdr.replace(b"LABELV8", b"LABELV9"))
        f.write(bytes(out))
        f.write(raw[obs:])

    back = spark.read.format("readstat").load(p9)
    assert back.columns[0] == "an_extremely_long_column_name"
    md = {f.name: f.metadata for f in back.schema.fields}
    assert md["an_extremely_long_column_name"]["label"] == "label " * 10
    vals = [r[0] for r in back.select("an_extremely_long_column_name").collect()]
    assert sorted(vals) == [float(i) for i in range(7)]
