"""SAS-family tagged missings + informative nulls (M2-M4 for
sas7bdat/xpt — reference decode_numeric_bytes_mask_tagged,
src/sas/value.rs:142-194, and is_xpt_missing, src/sas/xpt.rs:396-408;
expected values from tests/informative_nulls.rs
test_sas_linux_informative_nulls_tag_decode)."""

from __future__ import annotations

import os

import numpy as np
import pytest

SAS_CORPUS = "/root/reference/crates/polars_readstat_rs/tests/sas/data"
INFO_NULLS = os.path.join(SAS_CORPUS, "info_nulls.sas7bdat")
INFO_NULLS_TD = os.path.join(SAS_CORPUS, "info_nulls_test_data.sas7bdat")

needs_info_nulls = pytest.mark.skipif(
    not os.path.isfile(INFO_NULLS), reason="reference corpus not present"
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _scan(spark, path, **opts):
    r = spark.read.format("readstat")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


# ── vectorized tag classification (unit) ───────────────────────────


def _tagged_double(tb: int) -> float:
    return np.array(
        [0xFFFF_0000_0000_0000 | (tb << 40)], dtype=np.uint64
    ).view(np.float64)[0]


def test_numeric_missing_tags_patterns():
    from polars_readstat_spark.sources.sas7bdat.decode import (
        numeric_missing_tags,
    )

    vals = np.array(
        [
            1.5,  # valid
            _tagged_double(0xD1),  # '.' system missing (complement 0x2E)
            _tagged_double(0xE6),  # .X under the alternate 2..27 scheme
            _tagged_double(0xFF),  # '._' (complement 0)
            _tagged_double(0xBE),  # .A as literal complement of 'A'
            _tagged_double(0xA0),  # '._' as literal complement of '_'
            np.inf,  # plain missing, no tag
            np.nan,  # quiet NaN → plain missing
        ]
    )
    mask, offs = numeric_missing_tags(vals)
    assert mask.tolist() == [False, True, True, True, True, True, True, True]
    assert offs.tolist() == [0, 0, 24, 27, 1, 27, 0, 0]


def test_sas_indicator_strings():
    from polars_readstat_spark.sources.columns import SAS_TAGS, indicator

    mask = np.array([True, True, True, False])
    offs = np.array([0, 26, 27, 0], dtype=np.uint8)
    # plain system missing carries no indicator in the SAS family
    # (reference src/lib.rs:113); only tags surface
    codes = np.where(mask, offs, 0)
    assert indicator(SAS_TAGS, codes).to_pylist() == [None, ".Z", "._", None]


# ── real-SAS fixture decode (absolute truth) ───────────────────────


@needs_info_nulls
def test_sas_fixture_tag_decode_matches_reference(spark):
    rows = (
        _scan(spark, INFO_NULLS, informative_nulls="separate")
        .orderBy("x")
        .limit(5)
        .collect()
    )
    assert [r["y_null"] for r in rows] == [".X", ".U", ".V", ".O", None]
    assert [r["z_null"] for r in rows] == [".X", ".K", ".G", "._", None]
    # tagged rows decode the value cell to null
    assert all(r["y"] is None for r in rows[:4])
    assert rows[4]["y"] is not None


@needs_info_nulls
def test_sas_no_indicators_without_option(spark):
    df = _scan(spark, INFO_NULLS)
    assert not [c for c in df.columns if c.endswith("_null")]


@needs_info_nulls
def test_sas_struct_and_merged_modes(spark):
    st = (
        _scan(
            spark, INFO_NULLS,
            informative_nulls="struct", informative_null_columns="y",
        )
        .orderBy("x")
        .limit(2)
        .collect()
    )
    assert st[0]["y"]["null_indicator"] == ".X"
    assert st[0]["y"]["y"] is None
    mg = (
        _scan(
            spark, INFO_NULLS,
            informative_nulls="merged", informative_null_columns="z",
        )
        .orderBy("x")
        .limit(5)
        .collect()
    )
    assert [r["z"] for r in mg] == [".X", ".K", ".G", "._", "45"]


@pytest.mark.skipif(
    not os.path.isfile(INFO_NULLS_TD), reason="fixture not present"
)
def test_sas_schema_grows_and_indicator_population(spark):
    base = _scan(spark, INFO_NULLS_TD)
    ind = _scan(spark, INFO_NULLS_TD, informative_nulls="separate")
    assert len(ind.columns) > len(base.columns)
    ind_cols = [c for c in ind.columns if c.endswith("_null")]
    assert ind_cols
    from pyspark.sql import functions as F

    counts = ind.agg(
        *[F.count(F.col(c)).alias(c) for c in ind_cols]
    ).collect()[0]
    assert any(counts[c] > 0 for c in ind_cols)
    # every indicator value has the two-char '.T' shape (or '._')
    for c in ind_cols:
        vals = [
            r[0]
            for r in ind.select(c).where(F.col(c).isNotNull()).distinct().collect()
        ]
        assert all(v.startswith(".") and len(v) == 2 for v in vals)


# ── writer → scan roundtrips (sas7bdat + xpt) ──────────────────────


def _tag_frame(spark):
    from pyspark.sql import functions as F

    return spark.range(40).select(
        F.col("id").cast("double").alias("x"),
        F.when(F.col("id") % 4 == 0, F.col("id") * 1.5).alias("y"),
        F.when(
            F.col("id") % 4 == 1,
            F.concat(
                F.lit("."),
                F.char((F.lit(65) + F.col("id") % 26).cast("int")),
            ),
        )
        .when(F.col("id") % 4 == 2, F.lit("._"))
        .when(F.col("id") % 4 == 3, F.lit("."))
        .alias("y_tag"),
    )


@pytest.mark.parametrize("ext", ["sas7bdat", "xpt"])
def test_tagged_write_scan_roundtrip(spark, tmp_path, ext):
    import polars_readstat_spark as prs

    src = _tag_frame(spark)
    p = str(tmp_path / f"tagged.{ext}")
    prs.write_readstat(src, p, tagged_missing={"y": "y_tag"})
    back = (
        _scan(spark, p, informative_nulls="separate")
        .orderBy(_first_col(spark, p))
        .collect()
    )
    exp = src.orderBy("x").collect()
    assert len(back) == len(exp)
    for b, e in zip(back, exp):
        bd = {k.lower().split("_null")[0] + ("_null" if k.endswith("_null") else ""): v
              for k, v in b.asDict().items()}
        if e["y_tag"] in (None, "."):
            # no tag or explicit system missing → plain '.' or value
            if e["y"] is None:
                assert bd["y"] is None
                assert bd["y_null"] in (None, ".")
            else:
                assert bd["y"] == e["y"]
                assert bd["y_null"] is None
        else:
            assert bd["y"] is None
            assert bd["y_null"] == e["y_tag"]


def _first_col(spark, path):
    # xpt v5 uppercases/truncates names; order by the first column
    import polars_readstat_spark as prs

    return prs.scan_readstat(spark, path).columns[0]


def test_tagged_missing_validation(spark, tmp_path):
    import polars_readstat_spark as prs

    src = _tag_frame(spark)
    with pytest.raises(ValueError, match="not a numeric data column"):
        prs.write_readstat(
            src, str(tmp_path / "bad.sas7bdat"),
            tagged_missing={"y_tag": "y_tag"},
        )
    with pytest.raises(ValueError, match="indicator column"):
        prs.write_readstat(
            src, str(tmp_path / "bad2.sas7bdat"),
            tagged_missing={"y": "nope"},
        )
    # indicator VALUES are validated where the data lives (executor
    # pack stage), so the error surfaces as a Spark job failure whose
    # message carries the ValueError text
    with pytest.raises(Exception, match="invalid indicator"):
        from pyspark.sql import functions as F

        bad = src.withColumn("y_tag", F.lit("xx"))
        prs.write_readstat(
            bad, str(tmp_path / "bad3.sas7bdat"),
            tagged_missing={"y": "y_tag"},
        )


# ── xpt byte-0 unit coverage ───────────────────────────────────────


def test_xpt_missing_offsets_unit():
    from polars_readstat_spark.sources.xpt.meta import xpt_missing_offsets

    b0 = np.array([0x2E, ord("A"), ord("Z"), ord("_"), 0x41], dtype=np.int64)
    mask = np.array([True, True, True, True, False])
    assert xpt_missing_offsets(b0, mask).tolist() == [0, 1, 26, 27, 0]


# ── Stata write-side tags (round 4): every numeric storage kind ───


def test_dta_tagged_write_scan_roundtrip(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(60).select(
        F.col("id").cast("int").alias("rowid"),
        F.when(F.col("id") % 3 == 0, (F.col("id") % 100).cast("tinyint"))
        .alias("b"),
        F.when(F.col("id") % 3 == 0, F.col("id").cast("bigint") * 100000)
        .alias("l"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 1.25).alias("d"),
        F.when(
            F.col("id") % 3 != 0,
            F.concat(
                F.lit("."),
                F.char((F.lit(97) + F.col("id") % 26).cast("int")),
            ),
        ).alias("tag"),
    )
    p = str(tmp_path / "tagged.dta")
    prs.write_readstat(
        df, p, tagged_missing={"b": "tag", "l": "tag", "d": "tag"}
    )
    back = (
        spark.read.format("readstat")
        .option("informative_nulls", "separate")
        .load(p)
        .orderBy("rowid")
        .collect()
    )
    exp = df.orderBy("rowid").collect()
    assert len(back) == 60
    for b, e in zip(back, exp):
        for c in ("b", "l", "d"):
            if e["tag"] is None:
                assert b[c] == e[c]
                assert b[f"{c}_null"] is None
            else:
                assert b[c] is None
                assert b[f"{c}_null"] == e["tag"]


def test_dta_tagged_rejects_underscore(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id").cast("double").alias("x"),
        F.lit("._").alias("t"),
    )
    # value validation happens in the executor pack stage, so the
    # ValueError text arrives wrapped in a Spark job failure
    with pytest.raises(Exception, match="no '._' tag"):
        prs.write_readstat(
            df, str(tmp_path / "bad.dta"), tagged_missing={"x": "t"}
        )


@pytest.mark.parametrize("comp", ["rle", "rdc"])
def test_sas7bdat_tagged_missing_survives_compression(spark, tmp_path, comp):
    """Tag sentinels are NaN-payload bit patterns; the RLE/RDC
    encoders must carry them byte-exactly through compression."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").cast("double").alias("x"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 1.5).alias("y"),
        F.when(F.col("id") % 3 == 1, F.lit(".Q"))
        .when(F.col("id") % 3 == 2, F.lit("._"))
        .alias("t"),
    )
    p = str(tmp_path / f"tagcomp_{comp}.sas7bdat")
    prs.write_readstat(df, p, tagged_missing={"y": "t"}, compress=comp)
    back = (
        spark.read.format("readstat")
        .option("informative_nulls", "separate")
        .load(p)
        .orderBy("x")
        .collect()
    )
    exp = df.orderBy("x").collect()
    assert len(back) == 200
    for b, e in zip(back, exp):
        assert b["y_null"] == e["t"]
        assert (b["y"] is None) == (e["y"] is None)
