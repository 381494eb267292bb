"""Differential tests for the SAS7BDAT data source.

Oracle: pandas.read_sas (independent public implementation). The
whole-corpus sweep runs the decode pipeline directly (no Spark session
per file — 442 files); Spark-level behavior (partitions, options,
pushdown) is covered on representative files.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

import polars_readstat_spark as prs
from polars_readstat_spark.sources.columns import (
    SAS_EPOCH_DAYS,
    ColumnSpec,
    build_batch,
)
from polars_readstat_spark.sources.sas7bdat.decode import decode_columns
from polars_readstat_spark.sources.sas7bdat.meta import parse_sas_meta
from polars_readstat_spark.sources.sas7bdat.pages import page_row_bytes

CORPUS = "/root/reference/crates/polars_readstat_rs/tests/sas/data"
ALL_FILES = sorted(
    glob.glob(os.path.join(CORPUS, "**", "*.sas7bdat"), recursive=True)
)

FIXTURES = sorted(
    glob.glob(
        os.path.join(os.path.dirname(__file__), "fixtures", "sas7bdat", "*.sas7bdat")
    )
)

needs_corpus = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason="corpus missing"
)


def _corpus_params(paths):
    """Corpus files as parametrize values, or one case that skips
    cleanly at collection when the reference corpus is absent."""
    return paths or [
        pytest.param(
            None, id="corpus", marks=pytest.mark.skip(reason="corpus missing")
        )
    ]


def read_with_pipeline(path):
    m = parse_sas_meta(path)
    chunks = []
    rows = 0
    with open(path, "rb") as f:
        f.seek(m.header_length)
        for _ in range(m.page_count):
            page = f.read(m.page_length)
            if len(page) < m.page_length:
                break
            rb = page_row_bytes(m, page, rows)
            rows += len(rb) // max(m.row_length, 1)
            chunks.append(rb)
    cols = list(range(len(m.columns)))
    specs = [ColumnSpec(c.name, "sas", c.time_kind) for c in m.columns]
    batch = build_batch(decode_columns(m, b"".join(chunks), cols, specs))
    return m, batch


def _to_stata_numeric(m, col, arr):
    """Our typed output → raw SAS numerics for comparison."""
    tk = col.time_kind
    vals = arr.to_pylist()
    if tk == "date":
        return [
            np.nan
            if v is None
            else (pd.Timestamp(v) - pd.Timestamp("1970-01-01")).days - SAS_EPOCH_DAYS
            for v in vals
        ]
    if tk == "datetime":
        out = []
        for v in vals:
            if v is None:
                out.append(np.nan)
            else:
                out.append(
                    (pd.Timestamp(v) - pd.Timestamp("1960-01-01")).total_seconds()
                )
        return out
    if tk == "time":
        return [np.nan if v is None else v / 1e9 for v in vals]
    return [np.nan if v is None else v for v in vals]


@pytest.mark.parametrize(
    "path", _corpus_params(ALL_FILES), ids=lambda p: p.split("/data/")[-1]
)
def test_corpus_matches_pandas(path):
    _assert_matches_pandas(path)


@pytest.mark.parametrize("path", FIXTURES, ids=os.path.basename)
def test_fixture_matches_pandas(path):
    """The corpus oracle on the checked-in fixtures, so the decode
    pipeline helper also runs where the corpus is absent."""
    _assert_matches_pandas(path)


def _assert_matches_pandas(path):
    from pandas.io.sas.sas7bdat import SAS7BDATReader

    try:
        rdr = SAS7BDATReader(path, convert_dates=False, convert_text=False)
        ref = rdr.read()
        rdr.close()
    except Exception as e:
        pytest.skip(f"pandas failed: {e!r}")
    m, batch = read_with_pipeline(path)
    assert batch.num_rows == len(ref), "row count"
    assert [c.name for c in m.columns] == list(ref.columns), "column names"
    for i, col in enumerate(m.columns):
        b = ref[col.name]
        if col.ctype == "s":
            a = batch.column(i).to_pylist()
            bl = [
                x.decode(m.encoding, errors="replace") if isinstance(x, bytes) else x
                for x in b.tolist()
            ]
            # normalize: pandas renders empty strings as nan; trailing
            # spaces vary by path
            a = [None if x in (None, "") else x.rstrip() for x in a]
            bl = [
                None
                if (x is None or (isinstance(x, float) and np.isnan(x)) or x == "")
                else str(x).rstrip()
                for x in bl
            ]
            diffs = [(x, y) for x, y in zip(a, bl) if x != y]
            assert not diffs, f"{col.name}: strings differ, e.g. {diffs[:3]}"
        else:
            a = np.asarray(_to_stata_numeric(m, col, batch.column(i)), dtype="float64")
            bv = b.astype("float64").values
            both_nan = np.isnan(a) & np.isnan(bv)
            assert ((a == bv) | both_nan).all(), f"{col.name}: values differ"


@needs_corpus
def test_spark_read_sas(spark):
    p = os.path.join(CORPUS, "data_poe", "star.sas7bdat")
    sdf = prs.scan_readstat(spark, p)
    ref = pd.read_sas(p, format="sas7bdat")
    got = sdf.toPandas()
    assert len(got) == len(ref)
    assert list(got.columns) == list(ref.columns)
    c = ref.columns[0]
    assert np.allclose(got[c].values, ref[c].values, equal_nan=True)


@needs_corpus
def test_spark_multi_partition_equals_single(spark):
    p = os.path.join(CORPUS, "data_poe", "star.sas7bdat")
    one = prs.scan_readstat(spark, p).toPandas()
    many = prs.scan_readstat(
        spark, p, rows_per_partition=500, row_index_name="ri"
    ).toPandas()
    many = many.sort_values("ri").reset_index(drop=True)
    assert len(many) == len(one)
    c = one.columns[0]
    a = many[c].values
    b = one[c].values
    assert ((a == b) | (pd.isna(a) & pd.isna(b))).all()
    assert (many["ri"].values == np.arange(len(one))).all()


@needs_corpus
def test_spark_limit_offset_projection(spark):
    p = os.path.join(CORPUS, "data_poe", "star.sas7bdat")
    full = prs.scan_readstat(spark, p).toPandas()
    cols = list(full.columns[:2])
    sub = prs.scan_readstat(
        spark, p, columns=cols, offset=100, n_rows=50, rows_per_partition=300
    ).toPandas()
    assert list(sub.columns) == cols
    assert len(sub) == 50
    a = sub[cols[0]].values
    b = full[cols[0]].values[100:150]
    assert ((a == b) | (pd.isna(a) & pd.isna(b))).all()


@needs_corpus
def test_spark_compressed_files(spark):
    """RLE and RDC compressed reads through Spark (serial partition)."""
    hits = []
    for p in ALL_FILES:
        m = parse_sas_meta(p)
        if m.compression and m.row_count > 0:
            hits.append((m.compression, p))
    seen = {}
    for compression, p in hits:
        if compression in seen:
            continue
        seen[compression] = p
    assert seen, "corpus has no compressed files?"
    for compression, p in seen.items():
        try:
            ref = pd.read_sas(p, format="sas7bdat", convert_dates=False)
        except Exception:
            continue
        got = prs.scan_readstat(spark, p).count()
        assert got == len(ref), f"{p} ({compression})"


def test_compressed_page_parallel_equals_serial(spark):
    """RLE/RDC rows decompress per-row inside self-contained pages, so
    plain full scans partition by page range — same rows as the serial
    path, just parallel (the reference reads compressed files serially;
    this is the Spark-native improvement)."""
    import polars_readstat_spark as prs

    prs.register(spark)
    for name in ("data_AHS2013/rmov.sas7bdat", "test.sas7bdat"):
        p = f"{CORPUS}/{name}"
        if not os.path.isfile(p):
            pytest.skip("corpus missing")
        serial = (
            spark.read.format("readstat")
            .option("pages_per_partition", "100000")
            .load(p)
        )
        par = (
            spark.read.format("readstat")
            .option("pages_per_partition", "3")
            .load(p)
        )
        from polars_readstat_spark.sources.sas7bdat.reader import SasReader

        n_parts = len(
            SasReader(p, {"path": p, "pages_per_partition": "3"}).partitions()
        )
        assert n_parts > 1  # actually parallel
        a = sorted(map(tuple, serial.collect()), key=repr)
        b = sorted(map(tuple, par.collect()), key=repr)
        assert a == b and len(a) > 0


def test_compressed_slicing_stays_serial_and_exact(spark):
    p = f"{CORPUS}/data_AHS2013/rmov.sas7bdat"
    if not os.path.isfile(p):
        pytest.skip("corpus missing")
    import polars_readstat_spark as prs

    prs.register(spark)
    full = spark.read.format("readstat").load(p).collect()
    sliced = (
        spark.read.format("readstat")
        .option("offset", "10")
        .option("n_rows", "5")
        .load(p)
        .collect()
    )
    assert [tuple(r) for r in sliced] == [tuple(r) for r in full[10:15]]


def test_encoding_table_covers_reference_codes():
    """Every SAS encoding byte the reference maps
    (src/sas/encoding.rs:4-83) resolves to a real Python codec here;
    unknown bytes fall back to cp1252 like the reference's default."""
    import codecs

    from polars_readstat_spark.sources.sas7bdat.meta import ENCODINGS

    reference_codes = [
        20, 28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 39, 40,
        41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55,
        56, 57, 58, 59, 60, 61, 62, 63, 64, 65, 66, 67, 68,
        69, 70, 71, 72, 73, 75, 76,
        118, 119, 123, 125, 126, 128, 134, 136, 137, 138, 140, 141, 142,
        163, 167, 168, 169, 172, 205, 227, 242, 245, 246, 247, 248,
    ]
    missing = [c for c in reference_codes if c not in ENCODINGS]
    assert not missing, f"unmapped SAS encoding bytes: {missing}"
    for code, name in ENCODINGS.items():
        codecs.lookup(name)  # raises LookupError on a bogus codec


def test_encoding_byte_decodes_bytes(tmp_path, spark):
    """Patch the header encoding byte of a written file and confirm
    the scan decodes a codepage-specific byte accordingly (cp1251
    Cyrillic and mac_roman here — one SBCS from each new family)."""
    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sas7bdat.meta import parse_sas_meta

    df = spark.createDataFrame([("abc",)], "s string")
    p = str(tmp_path / "enc.sas7bdat")
    prs.write_readstat(df, p)
    meta = parse_sas_meta(p)
    off = None
    with open(p, "rb") as f:
        head = bytearray(f.read(1024))
    # the writer emits encoding byte 20 (utf-8) at header offset 70
    assert head[70] == 20
    for code, codec, raw, want in [
        (61, "cp1251", b"\xc4", "Д"),   # cp1251 'Д'
        (69, "mac_roman", b"\x8e", "é"),  # mac-roman 'é'
        (246, "mac_cyrillic", b"\x80", "А"),  # 'А'
    ]:
        with open(p, "r+b") as f:
            f.seek(70)
            f.write(bytes([code]))
        m2 = parse_sas_meta(p)
        assert m2.encoding == codec
        assert raw.decode(m2.encoding) == want


PANDAS_UNREADABLE = [
    "flightdelays", "flightschedule", "internationalflights",
    "marchflights", "payrollchanges", "payrollmaster",
    "staffchanges", "staffmaster", "supervisors",
]


@pytest.mark.parametrize("name", PANDAS_UNREADABLE)
def test_corpus_pandas_cannot_read(name):
    """Nine corpus files raise IndexError inside pandas' SAS reader;
    ours decodes them fully. No independent oracle exists for their
    values, so pin the strong invariants: complete decode, row count
    equal to the header's, non-null column names, string cells that
    survive a strict re-encode (no mojibake), finite-or-null
    numerics."""
    import math

    path = (
        "/root/reference/crates/polars_readstat_rs/tests/sas/data/"
        f"sas_to_csv/{name}.sas7bdat"
    )
    if not os.path.isfile(path):
        pytest.skip("corpus missing")
    m, batch = read_with_pipeline(path)
    assert batch.num_rows == m.row_count
    assert all(c.name for c in m.columns)
    for i, col in enumerate(m.columns):
        vals = batch.column(i).to_pylist()
        assert len(vals) == m.row_count
        if col.ctype == "s":
            for v in vals:
                assert v is None or isinstance(v, str)
                if v:
                    v.encode(m.encoding or "utf-8", errors="strict")
        elif col.time_kind is None:
            for v in vals:
                assert v is None or math.isfinite(v)
