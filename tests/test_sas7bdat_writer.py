"""SAS7BDAT writer roundtrips — a capability the reference lacks
entirely (its sas7bdat support is read-only; FIXTURES.md:114 notes no
public engine writes the format).

Verification is two-sided:
- internal: write → scan through the Spark data source;
- external: pandas.read_sas (an independent reader we do not control)
  must decode the same values, proving the emitted bytes follow the
  public spec rather than a private dialect of our own reader.
"""

from __future__ import annotations

import datetime
import math
import os

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
        ),
        Row(name="bébé ✓", age=None, score=None, d=None, ts=None),
        Row(
            name="", age=25, score=-1234.56789,
            d=datetime.date(1959, 6, 1),
            ts=datetime.datetime(1960, 1, 1),
        ),
        Row(
            name="carol", age=99, score=math.pi,
            d=datetime.date(1970, 1, 1),
            ts=datetime.datetime(2038, 1, 19, 3, 14, 7),
        ),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def written(sample_df, tmp_path_factory):
    import polars_readstat_spark as prs

    path = str(tmp_path_factory.mktemp("sas_w") / "sample.sas7bdat")
    prs.write_readstat(sample_df, path, variable_labels={"age": "Age in years"})
    return path


def test_roundtrip_values(spark, written, sample_df):
    back = spark.read.format("readstat").load(written)
    got = {r["name"]: r for r in back.collect()}
    src = {r["name"]: r for r in sample_df.collect()}
    assert set(got) == set(src)
    for k, s in src.items():
        g = got[k]
        assert g["age"] == (None if s["age"] is None else float(s["age"]))
        if s["score"] is None:
            assert g["score"] is None
        else:
            assert g["score"] == pytest.approx(s["score"], abs=0, rel=0)
        assert g["d"] == s["d"]
        assert g["ts"] == s["ts"]


def test_roundtrip_schema(spark, written):
    back = spark.read.format("readstat").load(written)
    types = dict(back.dtypes)
    assert types["name"] == "string"
    assert types["age"] == "double"
    assert types["d"] == "date"
    assert types["ts"].startswith("timestamp")


def test_pandas_differential(written, sample_df):
    """The external oracle: pandas.read_sas decodes our bytes."""
    import numpy as np
    import pandas as pd

    pdf = pd.read_sas(written, encoding="utf-8")
    # pandas surfaces blank SAS strings as NaN; normalize to ""
    pdf["name"] = pdf["name"].fillna("")
    src = sorted(sample_df.collect(), key=lambda r: r["name"])
    pdf = pdf.sort_values("name").reset_index(drop=True)
    assert list(pdf["name"]) == [r["name"] for r in src]
    for i, r in enumerate(src):
        if r["score"] is None:
            assert np.isnan(pdf["score"][i])
        else:
            assert pdf["score"][i] == r["score"]
        if r["d"] is None:
            assert pd.isna(pdf["d"][i])
        else:
            assert pdf["d"][i].date() == r["d"]
        if r["ts"] is None:
            assert pd.isna(pdf["ts"][i])
        else:
            assert pdf["ts"][i].to_pydatetime() == r["ts"]


def test_metadata_surface(spark, written):
    import polars_readstat_spark as prs

    md = prs.read_metadata(written)
    assert md["row_count"] == 4
    labels = {
        v["name"]: v.get("label", "") for v in md["variables"]
    } if "variables" in md else {}
    if labels:
        assert labels.get("age") == "Age in years"


def test_multipage_and_partitioned_scan(spark, tmp_path):
    """Thousands of rows across many small DATA pages; the reader's
    page-range partition planner must fan out over them."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
        F.concat(F.lit("row_"), F.col("id")).alias("tag"),
    )
    path = str(tmp_path / "many.sas7bdat")
    prs.write_readstat(df, path, page_length=4096)

    back = spark.read.format("readstat").load(path)
    assert back.count() == 5000
    s = back.agg(
        F.sum("x").alias("sx"), F.count(F.when(F.col("tag") == "row_4999", 1)).alias("hit")
    ).collect()[0]
    assert s["sx"] == sum(range(5000))
    assert s["hit"] == 1

    # multiple partitions over the page ranges
    parts = (
        spark.read.format("readstat")
        .option("rows_per_partition", 1000)
        .load(path)
    )
    assert parts.rdd.getNumPartitions() > 1
    assert parts.count() == 5000

    import pandas as pd

    pdf = pd.read_sas(path, encoding="utf-8")
    assert len(pdf) == 5000
    assert pdf["x"].sum() == sum(range(5000))


def test_pushdown_on_written_file(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").cast("double").alias("a"),
        F.concat(F.lit("s"), F.col("id")).alias("b"),
    )
    path = str(tmp_path / "push.sas7bdat")
    prs.write_readstat(df, path)
    got = (
        spark.read.format("readstat")
        .option("columns", "b")
        .option("limit", 7)
        .load(path)
    )
    assert got.columns == ["b"]
    assert got.count() == 7


def test_empty_frame(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id").cast("double").alias("v")
    ).filter(F.col("v") < 0)
    path = str(tmp_path / "empty.sas7bdat")
    prs.write_readstat(df, path)
    back = spark.read.format("readstat").load(path)
    assert back.count() == 0
    assert back.columns == ["v"]


def test_partitioned_dir_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from polars_readstat_spark.writers.partitioned import (
        write_readstat_partitioned,
    )

    df = spark.range(3000).repartition(4).select(
        F.col("id").cast("double").alias("k"),
        F.concat(F.lit("u"), F.col("id") % 7).alias("g"),
    )
    d = str(tmp_path / "bulk_sas")
    parts = write_readstat_partitioned(df, d, ext="sas7bdat")
    assert sum(p["n_rows"] for p in parts) == 3000
    assert all(p["path"].endswith(".sas7bdat") for p in parts)
    back = spark.read.format("readstat").load(d)
    assert back.count() == 3000
    assert back.agg(F.sum("k")).collect()[0][0] == sum(range(3000))


def test_rle_roundtrip_both_readers(spark, tmp_path):
    """compress='rle' emits SASYZCRL row subheaders on META pages;
    both our scan and pandas must decode them, and padded text must
    actually shrink the file."""
    import os

    import pandas as pd

    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(4000).select(
        F.col("id").cast("double").alias("x"),
        F.rpad(F.concat(F.lit("cat_"), F.col("id") % 20), 60, " ").alias("pad"),
        F.concat(F.lit("tag"), F.col("id")).alias("tag"),
    )
    p_raw = str(tmp_path / "raw.sas7bdat")
    p_rle = str(tmp_path / "rle.sas7bdat")
    prs.write_readstat(df, p_raw)
    prs.write_readstat(df, p_rle, compress="rle")
    assert os.path.getsize(p_rle) < os.path.getsize(p_raw)

    back = spark.read.format("readstat").load(p_rle)
    assert back.count() == 4000
    assert back.agg(F.sum("x")).collect()[0][0] == sum(range(4000))
    got = back.filter(F.col("tag") == "tag3999").collect()
    assert len(got) == 1 and got[0]["pad"] == "cat_19"

    pdf = pd.read_sas(p_rle, encoding="utf-8")
    assert len(pdf) == 4000
    assert pdf["x"].sum() == sum(range(4000))
    assert set(pdf["pad"]) == {f"cat_{i}" for i in range(20)}


def test_rle_multipage_parallel_scan(spark, tmp_path):
    """Small pages force many compressed META pages; the reader's
    compressed page-range fan-out must parallelize the scan."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(6000).select(
        F.col("id").cast("double").alias("v"),
        F.rpad(F.lit("z"), 120, "z").alias("fill"),
    )
    path = str(tmp_path / "многостр.sas7bdat")
    prs.write_readstat(df, path, compress="rle", page_length=4096)
    scan = (
        spark.read.format("readstat")
        .option("pages_per_partition", 16)
        .load(path)
    )
    assert scan.rdd.getNumPartitions() > 1
    assert scan.count() == 6000
    assert scan.agg(F.sum("v")).collect()[0][0] == sum(range(6000))


def test_rle_incompressible_rows_fall_back_raw(spark, tmp_path):
    """Pure random doubles rarely compress; rows are stored raw inside
    the compressed file (length == row_length) and still roundtrip."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        (F.rand(7) * 1e9).alias("a"), (F.rand(8) - 0.5).alias("b")
    )
    src = {r["a"]: r["b"] for r in df.collect()}
    path = str(tmp_path / "rand.sas7bdat")
    prs.write_readstat(df, path, compress="rle")
    back = spark.read.format("readstat").load(path).collect()
    assert {r["a"]: r["b"] for r in back} == src


def test_name_too_long_raises(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.col("id").cast("double").alias("x" * 40)
    )
    with pytest.raises(ValueError, match="32-byte"):
        prs.write_readstat(df, str(tmp_path / "bad.sas7bdat"))


def test_wide_strings_grow_page(spark, tmp_path):
    """A row wider than the default page must auto-grow page_length."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.rpad(F.concat(F.lit("v"), F.col("id")), 30000, "z").alias("big")
    )
    path = str(tmp_path / "wide.sas7bdat")
    # requested 4 KiB pages can't hold a 30 KB row: must auto-grow
    prs.write_readstat(df, path, page_length=4096)
    back = spark.read.format("readstat").load(path).collect()
    assert sorted(len(r["big"]) for r in back) == [30000] * 3
    assert {r["big"][:2] for r in back} == {"v0", "v1", "v2"}


def test_rle_encoder_property_vs_decoder():
    """The advertised property test: encoder output must decode to the
    exact input via the reader's own rle_decompress, across random,
    run-heavy, constant, and >4112-byte-run rows; the first command
    byte must stay in the literal range (signature guard)."""
    import numpy as np

    from polars_readstat_spark.sources.sas7bdat.pages import rle_decompress
    from polars_readstat_spark.writers.sas7bdat import _rle_encode_rows_scalar

    rng = np.random.default_rng(20260814)
    compressed = 0
    for trial in range(2500):
        n = int(rng.integers(1, 700))
        style = trial % 5
        if style == 0:
            arr = rng.integers(0, 256, n).astype(np.uint8)
        elif style == 1:  # padded-string-like runs
            parts = []
            while sum(map(len, parts)) < n:
                if rng.random() < 0.5:
                    parts.append(
                        np.full(
                            int(rng.integers(1, 90)),
                            int(rng.choice([0, 0x20, 0x40])),
                            np.uint8,
                        )
                    )
                else:
                    parts.append(
                        rng.integers(0, 256, int(rng.integers(1, 20))).astype(
                            np.uint8
                        )
                    )
            arr = np.concatenate(parts)[:n]
        elif style == 2:
            arr = np.zeros(n, np.uint8)
        elif style == 3:
            arr = np.full(n, int(rng.integers(1, 256)), np.uint8)
        else:  # runs longer than the 4112/4113 long-command caps
            arr = np.full(n * 20, int(rng.integers(0, 256)), np.uint8)
        enc = _rle_encode_rows_scalar(arr[None])[0]
        if enc is None:
            continue
        compressed += 1
        assert rle_decompress(enc, len(arr)) == arr.tobytes()
        assert 0x80 <= enc[0] <= 0xBF  # literal-range first command
    assert compressed > 1500  # the suite actually exercised the encoder


def test_rle_signature_collision_guard():
    """An incompressible raw row whose first 8 bytes spell a metadata
    subheader signature must be refused — both the 8-byte and 4-byte
    signature spellings the readers match on."""
    import numpy as np

    from polars_readstat_spark.writers.sas7bdat import (
        _collides_with_signature,
        _rle_encode_rows_scalar,
    )

    rng = np.random.default_rng(7)
    for sig in (
        b"\x00\x00\x00\x00\xf7\xf7\xf7\xf7",  # 8-byte-only row_size
        b"\x00\x00\x00\x00\xf6\xf6\xf6\xf6",  # 8-byte-only col_size
        b"\xf7\xf7\xf7\xf7\x00\x00\x00\x00",
        b"\xfc\xff\xff\xff\xff\xff\xff\xff",
    ):
        row = np.frombuffer(
            sig + bytes(rng.integers(0, 256, 4200).astype(np.uint8)),
            np.uint8,
        )
        if _rle_encode_rows_scalar(row[None])[0] is None:
            assert _collides_with_signature(row.tobytes())
    # honest rows never trip the guard
    assert not _collides_with_signature(b"\x41" * 64)


def test_rle_wavefront_matches_scalar_decompressor(spark, tmp_path):
    """The vectorized batch RLE decoder must be byte-identical to the
    scalar reference walk on every compressed row our writer emits."""
    from polars_readstat_spark.sources.sas7bdat.meta import (
        COMPRESSED_SUBHEADER_ID,
        COMPRESSED_SUBHEADER_TYPE,
        PAGE_META_TYPES,
        TRUNCATED_SUBHEADER_ID,
        _SIGS,
        parse_sas_meta,
        _PageReader,
    )
    from polars_readstat_spark.sources.sas7bdat.pages import (
        rle_decompress,
        rle_decompress_rows,
    )
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    # strings with runs of blanks/zeros/repeats to exercise every fill op
    df = spark.range(4000).select(
        F.col("id").cast("double").alias("x"),
        F.concat(
            F.lit("@@@@@@@@@@"),
            F.rpad(F.conv(F.col("id") % 997, 10, 16), 12, "z"),
            F.lit("          "),
        ).alias("s"),
    )
    path = str(tmp_path / "wave.sas7bdat")
    prs.write_readstat(df, path, compress="rle")
    meta = parse_sas_meta(path)
    rl = meta.row_length
    n_checked = 0
    with open(path, "rb") as f:
        f.seek(meta.header_length)
        for _ in range(meta.page_count):
            page = f.read(meta.page_length)
            pr = _PageReader(meta, page)
            if pr.page_type not in PAGE_META_TYPES:
                continue
            spans = []
            for sh_off, sh_len, comp, styp in pr.subheader_pointers():
                if sh_len == 0 or comp == TRUNCATED_SUBHEADER_ID:
                    continue
                if (
                    comp in (0, COMPRESSED_SUBHEADER_ID)
                    and styp == COMPRESSED_SUBHEADER_TYPE
                ):
                    sig = page[sh_off : sh_off + meta.int_len]
                    if _SIGS.get(sig) or _SIGS.get(sig[:4]):
                        continue
                    if sh_len != rl:
                        spans.append((sh_off, sh_len))
            if not spans:
                continue
            mat = rle_decompress_rows(page, spans, rl)
            for i, (o, ln) in enumerate(spans):
                assert mat[i].tobytes() == rle_decompress(page[o : o + ln], rl)
                n_checked += 1
    assert n_checked >= 10  # the writer actually produced compressed rows


def test_rdc_encoder_property_vs_decoder():
    """RDC mirror of the RLE property test: _rdc_encode_rows_scalar
    output must decode to the exact input via the reader's rdc_decompress,
    across random, run-heavy, constant, and >4114-byte-run rows."""
    import numpy as np

    from polars_readstat_spark.sources.sas7bdat.pages import rdc_decompress
    from polars_readstat_spark.writers.sas7bdat import _rdc_encode_rows_scalar

    rng = np.random.default_rng(20260815)
    compressed = 0
    for trial in range(2500):
        n = int(rng.integers(1, 700))
        style = trial % 5
        if style == 0:
            arr = rng.integers(0, 256, n).astype(np.uint8)
        elif style == 1:
            parts = []
            while sum(map(len, parts)) < n:
                if rng.random() < 0.5:
                    parts.append(
                        np.full(
                            int(rng.integers(1, 90)),
                            int(rng.choice([0, 0x20, 0xF7])),
                            np.uint8,
                        )
                    )
                else:
                    parts.append(
                        rng.integers(0, 256, int(rng.integers(1, 20))).astype(
                            np.uint8
                        )
                    )
            arr = np.concatenate(parts)[:n]
        elif style == 2:
            arr = np.zeros(n, np.uint8)
        elif style == 3:
            arr = np.full(n, int(rng.integers(1, 256)), np.uint8)
        else:  # runs longer than the 4114 long-RLE cap
            arr = np.full(n * 20, int(rng.integers(0, 256)), np.uint8)
        enc = _rdc_encode_rows_scalar(arr[None])[0]
        if enc is None:
            continue
        compressed += 1
        assert len(enc) < arr.shape[0]
        assert rdc_decompress(enc, arr.shape[0]) == arr.tobytes()
    assert compressed > 1000


def test_rdc_roundtrip_both_readers(spark, tmp_path):
    """compress='rdc' emits SASYZCR2 row subheaders readable by our
    reader AND by pandas' independent RDC decompressor."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs

    df = spark.range(3000).select(
        F.col("id").cast("double").alias("x"),
        F.rpad(F.conv(F.col("id") % 97, 10, 36), 160, " ").alias("s"),
        (F.col("id") % 5).cast("double").alias("grp"),
    )
    p_raw = str(tmp_path / "raw.sas7bdat")
    p_rdc = str(tmp_path / "rdc.sas7bdat")
    prs.write_readstat(df, p_raw)
    prs.write_readstat(df, p_rdc, compress="rdc")
    assert os.path.getsize(p_rdc) < os.path.getsize(p_raw)
    back = spark.read.format("readstat").load(p_rdc)
    assert back.count() == 3000
    exp = sorted(r.x for r in df.collect())
    got = sorted(r.x for r in back.collect())
    assert got == exp
    pdf = pd.read_sas(p_rdc, encoding="utf-8")
    assert len(pdf) == 3000
    assert sorted(pdf["x"]) == exp
    assert sorted(pdf["s"].str.rstrip()) == sorted(
        r.s.rstrip() for r in df.collect()
    )


def test_rdc_wavefront_matches_scalar_on_real_sas_file():
    """The vectorized RDC decoder against a REAL SAS-produced RDC file
    (reference corpus fixture, 32-bit cp1252, wide) — this exercises
    the LZ pattern commands (cmd 2/3, incl. overlapping copies) the
    repo's own writer never emits."""
    import os

    from polars_readstat_spark.sources.sas7bdat.meta import (
        COMPRESSED_SUBHEADER_ID,
        COMPRESSED_SUBHEADER_TYPE,
        PAGE_META_TYPES,
        TRUNCATED_SUBHEADER_ID,
        _SIGS,
        parse_sas_meta,
        _PageReader,
    )
    from polars_readstat_spark.sources.sas7bdat.pages import (
        rdc_decompress,
        rdc_decompress_rows,
    )

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "sas7bdat", "rdc_wide.sas7bdat"
    )
    meta = parse_sas_meta(path)
    rl = meta.row_length
    n_checked = 0
    with open(path, "rb") as f:
        f.seek(meta.header_length)
        for _ in range(meta.page_count):
            page = f.read(meta.page_length)
            pr = _PageReader(meta, page)
            if pr.page_type not in PAGE_META_TYPES:
                continue
            spans = []
            for sh_off, sh_len, comp, styp in pr.subheader_pointers():
                if sh_len == 0 or comp == TRUNCATED_SUBHEADER_ID:
                    continue
                if (
                    comp in (0, COMPRESSED_SUBHEADER_ID)
                    and styp == COMPRESSED_SUBHEADER_TYPE
                ):
                    sig = page[sh_off : sh_off + meta.int_len]
                    if _SIGS.get(sig) or _SIGS.get(sig[:4]):
                        continue
                    if sh_len != rl:
                        spans.append((sh_off, sh_len))
            if not spans:
                continue
            mat = rdc_decompress_rows(page, spans, rl)
            for i, (o, ln) in enumerate(spans):
                assert (
                    mat[i].tobytes() == rdc_decompress(page[o : o + ln], rl)
                )
                n_checked += 1
    assert n_checked >= 10  # the fixture's full compressed-row count


def _check_wide_rows(rng, encode, scalar, runs, remnants):
    """``encode`` matches the spec encoder ``scalar`` row by row on
    rows up to 20,000 bytes, each carrying one run of ``k * cap + rem``
    bytes of ``b`` for every (b, cap, k) in ``runs`` and rem in
    ``remnants``: in noise, and opening the row. Then on random rows
    with runs of up to 13,000 bytes, in one matrix."""
    import numpy as np

    for b, cap, k in runs:
        for rem in remnants:
            n = k * cap + rem
            for at in (0, 150):
                row = rng.integers(0, 256, n + 300, dtype=np.uint8)
                row[max(at - 1, 0) : at + n + 1] = b ^ 1  # the run is exactly n
                row[at : at + n] = b
                got = encode(row[None])[0]
                assert got is not None
                assert got == scalar(row[None])[0], (b, cap, k, rem, at)
    rl = int(rng.integers(12_000, 20_000))
    mat = rng.integers(0, 256, size=(12, rl), dtype=np.uint8)
    for _ in range(40):
        i, a = int(rng.integers(0, 12)), int(rng.integers(0, rl))
        n = int(rng.choice([rng.integers(1, 90), rng.integers(4000, 13_000)]))
        mat[i, a : a + n] = rng.choice([0, 0x20, 0x40, int(rng.integers(0, 256))])
    got = encode(mat)
    assert got == scalar(mat)
    for i in range(mat.shape[0]):
        assert got[i] == scalar(mat[i][None])[0], i


def test_rle_encode_rows_matches_scalar_encoder():
    """The batched chunk encoder used by the executor pack stage must
    be byte-identical to the scalar spec encoder, row by row, across
    run shapes (random bytes, zero/blank/'@' runs, constant runs, row
    boundaries, runs and literal spans over several commands in rows
    up to 20,000 bytes)."""
    import numpy as np

    from polars_readstat_spark.writers.sas7bdat import (
        _rle_encode_rows,
        _rle_encode_rows_scalar,
    )

    rng = np.random.default_rng(20260814)
    for _ in range(20):
        r = int(rng.integers(1, 120))
        rl = int(rng.integers(1, 300))
        mat = rng.integers(0, 256, size=(r, rl), dtype=np.uint8)
        for _k in range(r * 2):
            i = int(rng.integers(0, r))
            a = int(rng.integers(0, rl))
            b = min(rl, a + int(rng.integers(1, 90)))
            mat[i, a:b] = rng.choice([0, 0x20, 0x40, int(rng.integers(0, 256))])
        got = _rle_encode_rows(mat)
        for i in range(r):
            assert got[i] == _rle_encode_rows_scalar(mat[i][None])[0], (r, rl, i)
    # biased low-cardinality bytes: runs at the 2/3/17/18/19 form
    # boundaries, rows opened by runs (synthetic-literal path), and
    # opening literal spans > 64 (the capped split)
    for _ in range(60):
        r = int(rng.integers(1, 40))
        rl = int(rng.integers(1, 160))
        mat = rng.choice(
            np.array([0, 0, 0x20, 0x40, 7, 9], np.uint8), size=(r, rl)
        )
        got = _rle_encode_rows(mat)
        for i in range(r):
            assert got[i] == _rle_encode_rows_scalar(mat[i][None])[0], (r, rl, i)
    # rows up to 20,000 bytes: special (4,112) and plain (4,113) runs
    # over 2-4 command caps with remnants of 0-3 and 17-19 bytes (1-2
    # byte remnants become literals), mid-row and opening the row
    _check_wide_rows(
        rng, _rle_encode_rows, _rle_encode_rows_scalar,
        [(b, 4112, k) for b in (0x00, 0x20, 0x40) for k in (2, 3, 4)]
        + [(7, 4113, k) for k in (2, 3, 4)],
        (0, 1, 2, 3, 17, 18, 19),
    )
    # literal spans over 4,159 bytes in rows that still compress, and
    # row-opening spans over 64 + 4,159 bytes
    rl = 20_000
    spans = (4159, 4160, 64 + 4159, 64 + 4160, 2 * 4159 + 7, 12_000)
    mat = rng.integers(0, 256, size=(2 * len(spans), rl), dtype=np.uint8)
    for j, n in enumerate(spans):
        mat[2 * j, :100] = 0x20  # literal span [100, 100 + n)
        mat[2 * j, 100 + n :] = 0x20
        mat[2 * j + 1, n:] = 0  # row-opening literal span [0, n)
    got = _rle_encode_rows(mat)
    assert all(g is not None for g in got)
    for i in range(mat.shape[0]):
        assert got[i] == _rle_encode_rows_scalar(mat[i][None])[0], i


def test_rdc_encode_rows_matches_scalar_encoder():
    """The numpy-vectorized batch RDC encoder must be byte-identical
    to the scalar spec encoder, row by row, across run shapes (random
    bytes, constant runs at the 3/18/19 command-form boundaries, row
    boundaries, runs over several command words in rows up to 20,000
    bytes)."""
    import numpy as np

    from polars_readstat_spark.writers.sas7bdat import (
        _rdc_encode_rows,
        _rdc_encode_rows_scalar,
    )

    rng = np.random.default_rng(20260817)
    for _ in range(20):
        r = int(rng.integers(1, 120))
        rl = int(rng.integers(1, 300))
        mat = rng.integers(0, 256, size=(r, rl), dtype=np.uint8)
        for _k in range(r * 2):
            i = int(rng.integers(0, r))
            a = int(rng.integers(0, rl))
            b = min(rl, a + int(rng.integers(1, 90)))
            mat[i, a:b] = rng.choice([0, 0x20, int(rng.integers(0, 256))])
        got = _rdc_encode_rows(mat)
        for i in range(r):
            assert got[i] == _rdc_encode_rows_scalar(mat[i][None])[0], (r, rl, i)
    # command-form boundaries: runs of exactly 2/3/18/19 bytes
    for run in (2, 3, 18, 19, 30):
        mat = np.zeros((2, 64), np.uint8)
        mat[0, :] = rng.integers(0, 256, 64, dtype=np.uint8)
        mat[0, 10 : 10 + run] = 5
        got = _rdc_encode_rows(mat)
        for i in range(2):
            assert got[i] == _rdc_encode_rows_scalar(mat[i][None])[0], run
    # rows up to 20,000 bytes: runs over 2-4 command caps (4,114) with
    # remnants of 0-3 and 18-19 bytes (1-2 byte remnants become
    # literal items), mid-row and opening the row
    _check_wide_rows(
        rng, _rdc_encode_rows, _rdc_encode_rows_scalar,
        [(b, 4114, k) for b in (0x00, 0x20, 6) for k in (2, 3, 4)],
        (0, 1, 2, 3, 18, 19),
    )


def test_pack_never_reaches_a_scalar_encoder(spark, monkeypatch):
    """The vectorized encoders are the only production rle/rdc path,
    at every row width: ``pack`` of the wide digest frame (5,004-byte
    rows, ~4,596-byte blank runs) runs with both spec encoders raising,
    and writes the bytes it writes when they encode every row."""
    import numpy as np

    import polars_readstat_spark.writers.sas7bdat as sas
    from polars_readstat_spark.writers import plan_export, to_disk
    from tests.test_export_digests import _wide

    df = _wide(spark.range(600, numPartitions=3))

    def refuse(mat):
        raise AssertionError("a production call reached a spec encoder")

    for codec in ("rle", "rdc"):
        full = plan_export(df, "sas7bdat", compress=codec)[0]
        pdf = to_disk(df, "sas7bdat", full.fields, full.kinds).toArrow().to_pandas()
        plan = full.for_pack()
        spec = getattr(sas, f"_{codec}_encode_rows_scalar")
        with monkeypatch.context() as m:
            m.setattr(sas, "_rle_encode_rows_scalar", refuse)
            m.setattr(sas, "_rdc_encode_rows_scalar", refuse)
            got = sas.pack(plan, pdf)
        comps = np.frombuffer(got[-len(pdf):], np.uint8)
        assert 0 < comps.sum() < len(pdf)  # encoded and raw rows
        with monkeypatch.context() as m:
            m.setattr(sas, f"_{codec}_encode_rows", spec)
            assert sas.pack(plan, pdf) == got, codec


@pytest.mark.parametrize("rl", [4112, 8240])
def test_encoder_memory_is_bounded(rl):
    """The encoders work in row blocks, so their traced peak on an
    8,000-row ANES-shape chunk (small integer codes as doubles, 5%
    missing) stays near the encoded output (~14 / ~28 MiB), whatever
    the row width. Encoding the whole matrix at once peaked at 1.6 GiB
    (rle) and 1.3 GiB (rdc) at 4,112 bytes."""
    import tracemalloc

    import numpy as np

    from polars_readstat_spark.writers.sas7bdat import (
        _rdc_encode_rows,
        _rle_encode_rows,
    )

    r = np.arange(8_000, dtype=np.int64)[:, None]
    c = np.arange(rl // 8, dtype=np.int64)[None, :]
    codes = ((r * (2 * c + 7) + c) % (c % 9 + 2)).astype("<f8")
    codes[(r * 31 + c * 17) % 20 == 0] = np.nan
    mat = codes.view(np.uint8)
    assert mat.shape == (8_000, rl)
    for encode in (_rle_encode_rows, _rdc_encode_rows):
        tracemalloc.start()
        try:
            out = encode(mat)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert sum(b is not None for b in out) > 7_000
        assert peak < 64 * 2**20, (encode.__name__, peak)


def test_numeric_lengths_truncated_storage(spark, tmp_path):
    """SAS LENGTH 3-8 truncated numerics: half the bytes for integer
    codes, exact roundtrip through our reader AND pandas for values
    within the kept mantissa, tag/validation guards enforced."""
    import os

    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from polars_readstat_spark.writers.sas7bdat import write_sas7bdat

    df = spark.range(40_000).select(
        (F.col("id") % 97).cast("double").alias("a"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 50).cast("double"))
        .alias("b"),
        (F.col("id") % 100_000).cast("double").alias("big"),
        F.concat(F.lit("s"), (F.col("id") % 9).cast("string")).alias("s"),
    )
    full = str(tmp_path / "full.sas7bdat")
    trunc = str(tmp_path / "trunc.sas7bdat")
    write_sas7bdat(df, full)
    write_sas7bdat(
        df, trunc, numeric_lengths={"a": 4, "b": 3, "big": 5}
    )
    assert os.path.getsize(trunc) < os.path.getsize(full) * 0.7
    a = spark.read.format("readstat").load(full).toPandas()
    b = spark.read.format("readstat").load(trunc).toPandas()
    pd.testing.assert_frame_equal(a, b)
    c = pd.read_sas(trunc)
    assert (c["a"].to_numpy() == a["a"].to_numpy()).all()
    assert int(c["b"].isna().sum()) == int(a["b"].isna().sum())

    with pytest.raises(ValueError, match="3-8"):
        write_sas7bdat(df, str(tmp_path / "x.sas7bdat"),
                       numeric_lengths={"a": 2})
    with pytest.raises(ValueError, match="not a numeric"):
        write_sas7bdat(df, str(tmp_path / "x.sas7bdat"),
                       numeric_lengths={"s": 4})


def _compressed_frame():
    """A (plan, frame) pair for driving pack/assemble without Spark: 24-
    byte rows of three doubles from random bytes, every third row
    opening with a 16-byte blank run, so encoded and raw rows mix."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField

    from polars_readstat_spark.writers import PartPlan

    rows = np.random.RandomState(7).randint(0, 250, size=(3000, 24)).astype(np.uint8)
    rows[::3, :16] = 0x20
    pdf = pd.DataFrame(rows.view("<f8"), columns=["a", "b", "c"])
    plan = PartPlan(
        "sas7bdat", [StructField(c, DoubleType()) for c in pdf.columns],
        list(pdf.columns), None, ["num"] * 3, [8] * 3, page_length=0x2000,
    )
    return plan, pdf


def _assemble(plan, pdf, chunks):
    """The file ``assemble`` writes when ``pdf`` arrives as ``chunks``
    (row counts), each packed on its own."""
    import io

    from polars_readstat_spark.writers import sas7bdat as W

    fh = io.BytesIO()
    starts = [sum(chunks[:i]) for i in range(len(chunks))]
    payloads = (
        (W.pack(plan, pdf.iloc[a : a + c]), c) for a, c in zip(starts, chunks)
    )
    assert W.assemble(fh, plan, payloads) == sum(chunks)
    return fh.getvalue()


def test_write_encoded_chunking_byte_identical():
    """Compressed page assembly through pack/assemble, for both codecs:
    the same bytes however the rows are chunked (the pending tail
    carried between chunks is the risky seam), every row back to its
    packed input through the reader's decompressors, and every page but
    the last greedily full (the next row would not have fit)."""
    import dataclasses
    import struct

    import numpy as np

    from polars_readstat_spark.sources.sas7bdat.pages import (
        rdc_decompress,
        rle_decompress,
    )
    from polars_readstat_spark.writers import sas7bdat as W

    plain, pdf = _compressed_frame()
    n, rl = len(pdf), 24
    packed = W.pack(plain, pdf)
    for comp, decompress in (("rle", rle_decompress), ("rdc", rdc_decompress)):
        plan = dataclasses.replace(plain, compress=comp)
        whole = _assemble(plan, pdf, [n])
        assert _assemble(plan, pdf, [1, 999, 2, 500, 498, 700, 300]) == whole
        pl = struct.unpack_from("<I", whole, 204)[0]
        n_pages = struct.unpack_from("<Q", whole, 208)[0]
        cap = pl - (W.BIT_OFFSET + 8)
        rows, page_lens, flags = [], [], set()
        for p in range(1, n_pages):  # page 0 holds the metadata
            page = whole[W.HEADER_LENGTH + p * pl : W.HEADER_LENGTH + (p + 1) * pl]
            lens = []
            for i in range(struct.unpack_from("<H", page, W.BIT_OFFSET + 2)[0]):
                ptr = W.BIT_OFFSET + 8 + W.PTR_LEN * i
                off, ln = struct.unpack_from("<QQ", page, ptr)
                blob = page[off : off + ln]
                flags.add(page[ptr + 16])
                if page[ptr + 16] == 4:
                    assert ln < rl
                    blob = decompress(blob, rl)
                rows.append(blob)
                lens.append(ln)
            page_lens.append(lens)
        assert b"".join(rows) == packed, comp
        assert flags == {0, 4} and len(page_lens) > 1, comp
        for lens, nxt in zip(page_lens, page_lens[1:]):
            assert sum(lens) + W.PTR_LEN * len(lens) + W.PTR_LEN + nxt[0] > cap


def test_assemble_refuses_malformed_compressed_payload():
    """A truncated payload, or one whose row count disagrees with its
    length arrays, raises RuntimeError before any page of that chunk is
    written."""
    import dataclasses
    import io

    import pytest

    from polars_readstat_spark.writers import sas7bdat as W

    plan, pdf = _compressed_frame()
    plan = dataclasses.replace(plan, compress="rle")
    first = W.pack(plan, pdf.iloc[:1000])
    good = W.pack(plan, pdf.iloc[1000:2000])
    for payload, n in ((good[: len(good) // 2], 1000), (good, 999), (good, 1001)):
        fh = io.BytesIO()
        before = []

        def stream():
            yield first, 1000
            before.append(fh.getvalue())
            yield payload, n

        with pytest.raises(RuntimeError, match="compressed rows"):
            W.assemble(fh, plan, stream())
        assert fh.getvalue() == before[0]
    # intact, the same second chunk lays out pages of its own
    whole = _assemble(plan, pdf.iloc[:2000], [1000, 1000])
    assert len(whole) > len(before[0]) + 2 * plan.page_length
