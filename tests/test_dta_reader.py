"""Differential tests for the Stata DTA data source.

Oracle: pandas.read_stata (independent public implementation), per the
reference's test strategy (SURVEY.md §5: cross-library differential
testing). Fixtures: pandas-written files (v114/117/118) plus the
public pandas-test-suite corpus mirrored in the reference repo's test
data directory (read-only inputs).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

import polars_readstat_spark as prs
from polars_readstat_spark.sources.columns import (
    STATA_EPOCH_DAYS,
    STATA_EPOCH_MS,
)
from polars_readstat_spark.sources.dta.meta import parse_dta_meta

CORPUS = "/root/reference/crates/polars_readstat_rs/tests/stata/data"


def _corpus_params(paths):
    """Corpus files as parametrize values, or one case that skips
    cleanly at collection when the reference corpus is absent."""
    return paths or [
        pytest.param(
            None, id="corpus", marks=pytest.mark.skip(reason="corpus missing")
        )
    ]


@pytest.fixture(scope="module")
def dta_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dta")
    rs = np.random.RandomState(42)
    df = pd.DataFrame(
        {
            "id": np.arange(2000, dtype=np.int32),
            "sex": pd.Series(np.tile([1, 2], 1000), dtype=np.int8),
            "age": pd.Series(rs.randint(10, 99, 2000), dtype=np.int16),
            "income": np.round(rs.uniform(0, 1e5, 2000), 2),
            "ratio": rs.uniform(0, 1, 2000).astype(np.float32),
            "name": [f"person_{i}" for i in range(2000)],
            "when": pd.to_datetime("2015-06-01")
            + pd.to_timedelta(rs.randint(0, 3000, 2000), "D"),
        }
    )
    df.loc[3, "income"] = np.nan
    df.loc[7, "name"] = ""
    paths = {}
    for v in (114, 117, 118):
        p = str(tmp / f"basic_{v}.dta")
        df.to_stata(
            p,
            version=v,
            write_index=False,
            variable_labels={"id": "Respondent ID"},
            value_labels={"sex": {1: "Male", 2: "Female"}},
        )
        paths[v] = p
    return paths


def _destata_dates(sdf, meta):
    """Convert our date/datetime columns back to Stata numerics
    JVM-side (year-9999 values overflow pandas ns timestamps)."""
    from pyspark.sql import functions as F

    cols = []
    for c in sdf.columns:
        try:
            var = meta.var(c)
        except KeyError:
            cols.append(F.col(c))
            continue
        if var.kind in ("str", "strl") or var.time_kind is None:
            cols.append(F.col(c))
        elif var.time_kind == "date":
            cols.append(
                (
                    F.datediff(F.col(c), F.lit("1970-01-01").cast("date"))
                    - F.lit(STATA_EPOCH_DAYS)
                ).cast("double").alias(c)
            )
        else:  # datetime: µs since epoch → Stata ms
            cols.append(
                (
                    F.unix_micros(F.col(c).cast("timestamp")) / 1000.0
                    - F.lit(STATA_EPOCH_MS)
                ).alias(c)
            )
    return sdf.select(*cols)


def _compare_default_mode(sdf_pd, ref, meta):
    """Compare our default-mode read (dates pre-converted back to
    Stata numerics via _destata_dates) against pandas raw read
    (convert_dates=False)."""
    assert list(sdf_pd.columns) == list(ref.columns)
    assert len(sdf_pd) == len(ref)
    for c in ref.columns:
        a, b = sdf_pd[c], ref[c]
        var = meta.var(c)
        an = pd.isna(a)
        bn = pd.isna(b)
        assert (an.values == bn.values).all(), f"{c}: null masks differ"
        av, bv = a[~an], b[~bn]
        if var.kind in ("str", "strl"):
            assert (av.astype(str).values == bv.astype(str).values).all(), f"{c}: strings differ"
        else:
            assert np.allclose(
                av.astype("float64").values, bv.astype("float64").values, rtol=0, atol=0
            ), f"{c}: values differ"


@pytest.mark.parametrize("version", [114, 117, 118])
def test_basic_roundtrip_matches_pandas(version, dta_dir, spark):
    p = dta_dir[version]
    meta = parse_dta_meta(p)
    sdf = _destata_dates(prs.scan_readstat(spark, p), meta).toPandas()
    ref = pd.read_stata(
        p, convert_dates=False, convert_categoricals=False, preserve_dtypes=True
    )
    _compare_default_mode(sdf, ref, meta)


def test_schema_types(dta_dir, spark):
    sdf = prs.scan_readstat(spark, dta_dir[118])
    types = dict(sdf.dtypes)
    assert types == {
        "id": "int",
        "sex": "tinyint",
        "age": "smallint",
        "income": "double",
        "ratio": "float",
        "name": "string",
        "when": "timestamp_ntz",
    }
    # metadata rides on the schema (reference §1.4)
    f = sdf.schema["id"]
    assert f.metadata.get("label") == "Respondent ID"


def test_value_labels_as_strings(dta_dir, spark):
    sdf = prs.scan_readstat(
        spark, dta_dir[118], columns=["sex"], value_labels_as_strings=True
    ).toPandas()
    ref = pd.read_stata(dta_dir[118], convert_categoricals=True)
    assert (sdf["sex"].values == ref["sex"].astype(str).values).all()


def test_projection_limit_offset(dta_dir, spark):
    sdf = prs.scan_readstat(
        spark, dta_dir[118], columns=["id", "income"], n_rows=50, offset=100
    ).toPandas()
    ref = pd.read_stata(dta_dir[118], convert_categoricals=False)
    assert list(sdf.columns) == ["id", "income"]
    assert len(sdf) == 50
    assert (sdf["id"].values == ref["id"].values[100:150]).all()


def test_multi_partition_equals_single(dta_dir, spark):
    """Partitioned read ≡ serial read (reference
    tests/parallel_reader_integrity.rs)."""
    one = prs.scan_readstat(spark, dta_dir[118]).toPandas()
    many = prs.scan_readstat(
        spark, dta_dir[118], rows_per_partition=97, row_index_name="ri"
    ).toPandas()
    many = many.sort_values("ri").reset_index(drop=True)
    assert (many["id"].values == one["id"].values).all()
    assert (many["ri"].values == np.arange(len(one))).all()


def test_row_index_with_offset(dta_dir, spark):
    df = prs.scan_readstat(
        spark,
        dta_dir[118],
        columns=["id"],
        offset=10,
        n_rows=20,
        row_index_name="idx",
        rows_per_partition=7,
    ).toPandas()
    df = df.sort_values("idx")
    assert (df["idx"].values == np.arange(20)).all()
    assert (df["id"].values == np.arange(10, 30)).all()


def test_missing_string_as_null(dta_dir, spark):
    df = prs.scan_readstat(
        spark, dta_dir[118], columns=["name"], missing_string_as_null=True
    ).toPandas()
    assert df["name"].isna().sum() == 1


def _supported_corpus():
    out = []
    for p in sorted(glob.glob(os.path.join(CORPUS, "*.dta"))):
        try:
            parse_dta_meta(p, load_value_labels=False)
        except Exception:
            continue
        out.append(p)
    return out


# Known-better divergences from pandas (the reference keeps an
# equivalent allowlist, SURVEY §5.1): pandas applies the MODERN missing
# ranges (101+/.a-.z) to pre-113 files, but old Stata formats define
# byte=-128 and 101..126 as VALID values with only the top code
# missing (reference missing_rules, src/stata/value.rs:19-33). We
# follow the old spec; pandas nulls those values.
_PANDAS_DIVERGENT = {
    f"stata_int_validranges_{v}.dta" for v in (102, 103, 104, 105, 108, 110, 111)
}


@pytest.mark.parametrize(
    "path", _corpus_params(_supported_corpus()),
    ids=lambda p: os.path.basename(p),
)
def test_corpus_matches_pandas(path, spark):
    """Whole-corpus differential vs pandas (public pandas test files;
    versions 102-119 incl. big-endian)."""
    if os.path.basename(path) in _PANDAS_DIVERGENT:
        pytest.skip("pre-113 valid-range semantics: pandas nulls valid values")
    meta = parse_dta_meta(path)
    try:
        ref = pd.read_stata(
            path, convert_dates=False, convert_categoricals=False,
            preserve_dtypes=True, convert_missing=False,
        )
    except Exception as e:  # pandas itself can't read it — skip
        pytest.skip(f"pandas failed: {e!r}")
    sdf = _destata_dates(prs.scan_readstat(spark, path), meta).toPandas()
    _compare_default_mode(sdf, ref, meta)


def test_old_version_value_labels(spark):
    """v102-110 value labels (ancient + 9-byte-labname table formats)
    decode identically to the v118 sibling of the same dataset."""
    old = os.path.join(CORPUS, "stata4_105.dta")
    new = os.path.join(CORPUS, "stata4_117.dta")
    if not (os.path.isfile(old) and os.path.isfile(new)):
        pytest.skip("corpus missing")
    a = prs.scan_readstat(spark, old, value_labels_as_strings=True).toPandas()
    b = prs.scan_readstat(spark, new, value_labels_as_strings=True).toPandas()
    assert a.values.tolist() == b.values.tolist()


def test_old_version_missing_ranges(spark):
    """Pre-113: byte -128 and 101..126 are valid values; only the top
    codes are missing (reference src/stata/value.rs:19-33)."""
    p = os.path.join(CORPUS, "stata_int_validranges_105.dta")
    if not os.path.isfile(p):
        pytest.skip("corpus missing")
    df = prs.scan_readstat(spark, p).toPandas()
    assert df["byte"].min() == -128
    assert df["byte"].max() == 126
    p2 = os.path.join(CORPUS, "stata_int_validranges_113.dta")
    d2 = prs.scan_readstat(spark, p2).toPandas()
    # 113+: 101+ are missing codes
    assert d2["byte"].max() == 100


def test_preserve_order_modes(dta_dir, spark):
    """O1-O3: buffered (natural partition order), row_index (exact
    file-order column), sort (order restored then index dropped)."""
    base = prs.scan_readstat(spark, dta_dir[118]).toPandas()
    ri = prs.scan_readstat(
        spark, dta_dir[118], preserve_order="row_index", rows_per_partition=97
    ).toPandas()
    assert "row_index" in ri.columns
    assert (ri.sort_values("row_index")["id"].values == base["id"].values).all()
    srt = prs.scan_readstat(
        spark, dta_dir[118], preserve_order="sort", rows_per_partition=97
    ).toPandas()
    assert "row_index" not in srt.columns and "__row_index__" not in srt.columns
    assert (srt["id"].values == base["id"].values).all()


def test_read_readstat_eager(dta_dir, spark):
    pdf = prs.read_readstat(spark, dta_dir[118], columns=["id"], n_rows=5)
    assert list(pdf["id"]) == [0, 1, 2, 3, 4]


def test_compat_corpus_versions_agree(spark):
    """The stata-compat corpus stores ONE dataset in every version
    102-118 (LE and BE). pandas can't read 102/103/110, so those
    versions have no differential — but every version must decode to
    the same values as the pandas-verified 118 file, which anchors
    the whole family (v102 lacks the s10 string column; all shared
    columns must agree)."""
    import glob

    import numpy as np

    anchor_path = os.path.join(CORPUS, "stata-compat-118.dta")
    if not os.path.isfile(anchor_path):
        pytest.skip("compat corpus missing")
    meta_a = parse_dta_meta(anchor_path)
    anchor = (
        _destata_dates(prs.scan_readstat(spark, anchor_path), meta_a)
        .toPandas()
        .sort_values("index")
        .reset_index(drop=True)
    )
    checked = 0
    for p in sorted(glob.glob(os.path.join(CORPUS, "stata-compat-*.dta"))):
        meta = parse_dta_meta(p)
        got = (
            _destata_dates(prs.scan_readstat(spark, p), meta)
            .toPandas()
            .sort_values("index")
            .reset_index(drop=True)
        )
        for c in got.columns:
            a, g = anchor[c], got[c]
            if a.dtype.kind == "f" or g.dtype.kind == "f":
                ga = g.astype(float).to_numpy()
                aa = a.astype(float).to_numpy()
                # f column: verify at float32 precision (older files
                # store the same logical values; float storage width
                # never changed, but guard anyway)
                assert np.allclose(ga, aa, rtol=1e-6, equal_nan=True), (
                    p, c, ga, aa,
                )
            else:
                assert g.tolist() == a.tolist(), (p, c)
        checked += 1
    assert checked >= 19  # 10 LE + 9 BE variants in the corpus


def test_v116_never_existed_message(tmp_path):
    """Stata never released a v116 dta format (the jump was 115→117);
    the error must say so rather than imply a support gap vs the
    reference's '102-119' claim (reference src/stata/metadata.rs:171)."""
    p = tmp_path / "fake116.dta"
    p.write_bytes(bytes([116, 0x02, 0x01, 0x00]) + b"\x00" * 64)
    with pytest.raises(ValueError, match="116 was never a released Stata"):
        parse_dta_meta(str(p))


def test_unreleased_internal_versions_message(tmp_path):
    """106/109 etc. were internal formats no writer emitted; the
    message names them instead of reading as a coverage gap."""
    p = tmp_path / "fake109.dta"
    p.write_bytes(bytes([109, 0x02, 0x01, 0x00]) + b"\x00" * 64)
    with pytest.raises(ValueError, match="never released Stata formats"):
        parse_dta_meta(str(p))
