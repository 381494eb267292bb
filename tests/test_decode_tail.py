"""The shared decode tail (sources/columns.py) without any external
corpus: informative-null reads of files our own writers tag, and the
SPSS declared-missing tag-code kernel on synthetic variables.

Expected indicators come from the tags written, not from a read:
Stata writes `.a`-`.z` and `.` and reads each back as written (plain
`.` included); the SAS family writes `.A`-`.Z`, `._` and `.`, and
plain `.` reads back as a bare null (reference src/lib.rs:113).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

N = 60
_D0 = dt.date(1999, 12, 25)


# every 4th row holds a value; the missing rows, counted in order,
# run through every letter and then the plain '.'


def _stata_tag(i: int) -> str | None:
    if i % 4 == 0:
        return None
    k = (i - i // 4 - 1) % 27
    return "." if k == 26 else "." + chr(ord("a") + k)


def _sas_tag(i: int) -> str | None:
    if i % 4 == 0:
        return None
    k = (i - i // 4 - 1) % 28
    return {26: "._", 27: "."}.get(k) or "." + chr(ord("A") + k)


def _rows(tag):
    """(X, Y, YTAG, D, DTAG): Y present every 4th row, D every 3rd;
    each missing cell carries the tag of its row."""
    out = []
    for i in range(N):
        y = i + 0.5 if i % 4 == 0 else None
        d = _D0 + dt.timedelta(days=37 * i - 900) if i % 3 == 0 else None
        dtag = None if i % 3 == 0 else tag(i + 1 if (i + 1) % 4 else i + 2)
        out.append((float(i), y, tag(i), d, dtag))
    return out


# Stata (dta), SAS transport v5/v8 and sas7bdat, with their tag sets
CASES = {
    "dta": ("tagged.dta", {}, _stata_tag, True),
    "xpt5": ("tagged.xpt", {}, _sas_tag, False),
    "xpt8": ("tagged.xpt", {"version": 8}, _sas_tag, False),
    "sas7bdat": ("tagged.sas7bdat", {}, _sas_tag, False),
}


def _expected_indicator(tag, plain_dot_kept: bool):
    if tag == "." and not plain_dot_kept:
        return None
    return tag


@pytest.fixture(scope="module")
def tagged_files(spark, tmp_path_factory):
    import polars_readstat_spark as prs

    prs.register(spark)
    d = tmp_path_factory.mktemp("decode_tail")
    out = {}
    for key, (fname, kw, tag, _) in CASES.items():
        df = spark.createDataFrame(
            _rows(tag), "X double, Y double, YTAG string, D date, DTAG string"
        ).coalesce(1)
        p = str(d / f"{key}_{fname}")
        prs.write_readstat(
            df, p, tagged_missing={"Y": "YTAG", "D": "DTAG"}, **kw
        )
        out[key] = p
    return out


def _read(spark, path, **opts):
    r = spark.read.format("readstat")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


@pytest.mark.parametrize("fmt", list(CASES))
def test_separate_struct_merged_match_written_tags(spark, tagged_files, fmt):
    from pyspark.sql import functions as F

    _, _, tag, kept = CASES[fmt]
    src = _rows(tag)
    path = tagged_files[fmt]

    sep = _read(spark, path, informative_nulls="separate").orderBy("X")
    assert sep.columns == ["X", "X_null", "Y", "Y_null", "D", "D_null"]
    rows = sep.collect()
    assert len(rows) == N
    for r, (x, y, ytag, d, dtag) in zip(rows, src):
        assert r["X"] == x and r["X_null"] is None
        assert r["Y"] == y
        assert r["Y_null"] == _expected_indicator(ytag, kept)
        assert r["D"] == d
        assert r["D_null"] == _expected_indicator(dtag, kept)

    st = _read(spark, path, informative_nulls="struct").orderBy("X").collect()
    for r, (x, y, ytag, d, dtag) in zip(st, src):
        assert r["Y"]["Y"] == y
        assert r["Y"]["null_indicator"] == _expected_indicator(ytag, kept)
        assert r["D"]["D"] == d
        assert r["D"]["null_indicator"] == _expected_indicator(dtag, kept)

    # merged X is a string: order by its number
    mg = (
        _read(spark, path, informative_nulls="merged")
        .orderBy(F.col("X").cast("double"))
        .collect()
    )
    for r, (x, y, ytag, d, dtag) in zip(mg, src):
        # present values render as strings: integral floats without .0
        assert r["X"] == str(int(x))
        want_y = str(y) if y is not None else _expected_indicator(ytag, kept)
        want_d = (
            d.isoformat() if d is not None else _expected_indicator(dtag, kept)
        )
        assert r["Y"] == want_y
        assert r["D"] == want_d


@pytest.mark.parametrize("fmt", list(CASES))
def test_subset_suffix_projection_and_slice(spark, tagged_files, fmt):
    _, _, tag, kept = CASES[fmt]
    src = _rows(tag)
    df = _read(
        spark, tagged_files[fmt],
        informative_nulls="separate",
        informative_null_columns="D",
        informative_null_suffix="_why",
        columns="X,D",
        offset=7,
        n_rows=25,
    )
    assert df.columns == ["X", "D", "D_why"]
    rows = df.orderBy("X").collect()
    assert [r["X"] for r in rows] == [s[0] for s in src[7:32]]
    for r, (_, _, _, d, dtag) in zip(rows, src[7:32]):
        assert r["D"] == d
        assert r["D_why"] == _expected_indicator(dtag, kept)


def test_indicator_free_read_is_unchanged(spark, tagged_files):
    """Without the option, tagged cells are plain nulls and no
    indicator column appears."""
    rows = _read(spark, tagged_files["dta"]).orderBy("X").collect()
    assert _read(spark, tagged_files["dta"]).columns == ["X", "Y", "D"]
    assert [r["Y"] for r in rows] == [s[1] for s in _rows(_stata_tag)]


# ── SPSS declared missings: tag-code kernel + shared indicator ──────
#
# Our sav writer cannot emit declared missing values, and the
# reference corpus (sample_missing.sav) is not part of this repo, so
# the SPSS indicator is pinned on synthetic variables instead.


def _sav_var(missing, rng=False, labels=None):
    from polars_readstat_spark.sources.sav.meta import SavVar

    return SavVar(
        name="q",
        short_name="Q",
        is_str=False,
        string_len=0,
        width_el=1,
        start_el=0,
        missing_doubles=tuple(missing),
        missing_range=rng,
        value_labels=dict(labels or {}),
    )


def _spss_indicator(var, vals, use_value_labels):
    from polars_readstat_spark.sources.columns import indicator
    from polars_readstat_spark.sources.sav.decode import (
        missing_codes,
        missing_dictionary,
    )

    dictionary = missing_dictionary(var, use_value_labels)
    codes = missing_codes(np.asarray(vals, dtype="<f8"), var)
    return indicator(dictionary, codes).to_pylist()


def _sysmis() -> float:
    from polars_readstat_spark.sources.sav.meta import SYSMIS_BITS

    return np.array([SYSMIS_BITS], dtype=np.uint64).view(np.float64)[0]


LABELS = {8.0: "refused", 9.0: "dk", 96.0: "high", 1.0: "yes"}


@pytest.mark.parametrize(
    "use_value_labels, expected",
    [
        (False, [None, "8", "9", "99", None, None, None]),
        (True, [None, "refused", "dk", "99", None, None, None]),
    ],
)
def test_spss_discrete_missings(use_value_labels, expected):
    var = _sav_var([8.0, 9.0, 99.0], labels=LABELS)
    vals = [1.0, 8.0, 9.0, 99.0, 8.5, np.nan, _sysmis()]
    assert _spss_indicator(var, vals, use_value_labels) == expected


@pytest.mark.parametrize(
    "use_value_labels, expected",
    [
        (False, [None] + ["MISSING"] * 4 + [None, None]),
        (True, [None, "MISSING", "high", "MISSING", "MISSING", None, None]),
    ],
)
def test_spss_range_missings(use_value_labels, expected):
    # declared as (high, low): the range is still [95, 99]
    var = _sav_var([99.0, 95.0], rng=True, labels=LABELS)
    vals = [1.0, 95.0, 96.0, 97.5, 99.0, 100.0, np.nan]
    assert _spss_indicator(var, vals, use_value_labels) == expected


@pytest.mark.parametrize(
    "use_value_labels, expected",
    [
        (False, [None, "MISSING", "MISSING", "-1", None, "MISSING"]),
        (True, [None, "MISSING", "high", "-1", None, "MISSING"]),
    ],
)
def test_spss_range_plus_discrete_missing(use_value_labels, expected):
    var = _sav_var([95.0, 99.0, -1.0], rng=True, labels=LABELS)
    vals = [1.0, 95.0, 96.0, -1.0, -2.0, 99.0]
    assert _spss_indicator(var, vals, use_value_labels) == expected


def test_spss_no_declared_missings_all_null():
    var = _sav_var([], labels=LABELS)
    assert _spss_indicator(var, [1.0, np.nan, 8.0], True) == [None] * 3
