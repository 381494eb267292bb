"""SPSS SAV/ZSAV reader tests.

Oracle strategy (SURVEY.md §5 — no pyreadstat in this env, pandas has
no native SPSS reader): cross-format differential (sample.sav,
sample.zsav, sample.por are sibling exports of the same data — three
independent code paths must agree), known-value regression on the
publicly documented pyreadstat sample fixtures, plus the reference's
invariants: partitioned ≡ single-partition, projection/limit/offset.
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest

CORPUS = "/root/reference/crates/polars_readstat_rs/tests/spss/data"
SAMPLE = f"{CORPUS}/sample.sav"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason="reference SPSS corpus not present"
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _load(spark, path, **opts):
    r = spark.read.format("readstat")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


def all_sav_files():
    return sorted(glob.glob(f"{CORPUS}/*.sav")) + sorted(
        glob.glob(f"{CORPUS}/*.zsav")
    )


@pytest.mark.parametrize(
    "path", all_sav_files(), ids=[os.path.basename(p) for p in all_sav_files()]
)
def test_corpus_loads(spark, path):
    df = _load(spark, path)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0


def test_sample_known_values(spark):
    """sample.sav content is publicly documented in the pyreadstat
    test suite (mychar a..e, labeled mylabl/myord, EDATE/DATETIME/TIME
    columns)."""
    df = _load(spark, SAMPLE)
    assert df.columns == [
        "mychar", "mynum", "mydate", "dtime", "mylabl", "myord", "mytime",
    ]
    rows = df.collect()
    assert [r.mychar for r in rows] == ["a", "b", "c", "d", "e"]
    assert [r.mynum for r in rows] == [1.1, 1.2, -1000.3, -1.4, 1000.3]
    assert rows[0].mydate == datetime.date(2018, 5, 6)
    assert rows[3].mydate == datetime.date(1583, 1, 1)
    assert rows[4].mydate is None
    assert rows[0].dtime == datetime.datetime(2018, 5, 6, 10, 10, 10)
    assert rows[2].dtime == datetime.datetime(1960, 1, 1, 0, 0)
    # TIME → ns since midnight (10:10:10)
    assert rows[0].mytime == (10 * 3600 + 10 * 60 + 10) * 1_000_000_000
    assert [r.mylabl for r in rows] == [1.0, 2.0, 1.0, 2.0, 1.0]


def test_zsav_equals_sav(spark):
    """zlib-block path vs bytecode path must produce identical data."""
    a = _load(spark, SAMPLE).collect()
    b = _load(spark, f"{CORPUS}/sample.zsav").collect()
    assert a == b


def test_value_labels_as_strings(spark):
    df = _load(spark, SAMPLE, value_labels_as_strings="true")
    rows = df.collect()
    assert [r.mylabl for r in rows] == [
        "Male", "Female", "Male", "Female", "Male",
    ]
    assert [r.myord for r in rows] == ["low", "medium", "high", "low", "low"]
    assert dict(df.dtypes)["mylabl"] == "string"


def test_declared_missing_values(spark):
    """missing_test.sav declares 1.0 missing; sample_missing.sav has a
    2000-3000 range + discrete -1 (reference data.rs:998-1026)."""
    rows = _load(spark, f"{CORPUS}/missing_test.sav").collect()
    assert [r.var1 for r in rows] == [None, 2.0]
    rows = _load(spark, f"{CORPUS}/sample_missing.sav").collect()
    assert [r.mynum for r in rows][:5] == [1.1, 1.2, -1000.3, -1.4, 1000.3]
    assert [r.mynum for r in rows][5:] == [None, None]


def test_very_long_strings(spark):
    """test_width.sav: StartDate declared width 1024 → segmented
    storage reconstructs to a clean timestamp string."""
    rows = _load(spark, f"{CORPUS}/test_width.sav").collect()
    assert rows[0].StartDate == "2020-07-13 23:19:55"
    assert all(len(r.ResponseId) == 17 for r in rows)


def test_unicode_names(spark):
    df = _load(spark, f"{CORPUS}/hebrews.sav")
    assert df.columns == ["ותק_ב"]
    assert len(df.collect()) == 99


def test_partitioned_equals_single(spark):
    """Invariant (reference parallel_reader_integrity.rs): row-range
    partitions concatenate to the single-partition read, in order."""
    p = f"{CORPUS}/sample_large.sav"  # uncompressed → partitionable
    one = _load(spark, p).collect()
    many = _load(spark, p, rows_per_partition="37").collect()
    assert one == many
    df = _load(spark, p, rows_per_partition="37")
    assert df.rdd.getNumPartitions() > 1


def test_projection_limit_offset(spark):
    df = _load(spark, SAMPLE, columns="mynum,mychar", n_rows="3", offset="1")
    rows = df.collect()
    assert df.columns == ["mynum", "mychar"]
    assert [r.mynum for r in rows] == [1.2, -1000.3, -1.4]


def test_row_index(spark):
    rows = _load(spark, f"{CORPUS}/sample_large.sav",
                 row_index_name="idx", rows_per_partition="100").collect()
    assert [r.idx for r in rows] == list(range(len(rows)))


def test_metadata_surface(spark):
    """Labels/formats/measure ride on StructField.metadata (§1.4)."""
    df = _load(spark, SAMPLE)
    md = {f.name: f.metadata for f in df.schema.fields}
    assert md["mydate"].get("format", "").startswith("EDATE")
    assert md["mytime"].get("time") == "ns_since_midnight"


def test_compressed_streaming_bounded_memory(spark, tmp_path):
    """The compressed decode must stream: a bytecode stream bigger than
    the chunk size reads correctly through many small chunks without
    materializing the whole case matrix (round-1 OOM fix), and
    limit/offset spans slice the stream exactly."""
    import dataclasses

    import numpy as np

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sav import decode as d
    from polars_readstat_spark.sources.sav.meta import (
        parse_sav_meta,
        read_compressed_stream,
    )

    n = 20_000
    src = spark.range(n).selectExpr(
        "cast(id as double) as x",
        "cast(id * 0.5 as double) as y",
        "concat('s', cast(id as string)) as s",
    )
    zp = str(tmp_path / "big.zsav")
    prs.write_readstat(src, zp)
    zmeta = parse_sav_meta(zp)
    assert zmeta.compression == 2

    whole = d.decompress_bytecode(read_compressed_stream(zmeta), zmeta)
    cs = zmeta.case_size
    exp = whole[: (whole.shape[0] // cs) * cs].reshape(-1, cs * 8)[:n]

    # zsav path: stream per zlib block, reassembled rows match
    batches = list(d.iter_compressed_rows(zmeta, 0, n, batch_rows=4096))
    assert all(r.shape[0] <= 4096 for _, r in batches)
    assert np.array_equal(np.concatenate([r for _, r in batches]), exp)

    # compression=1 path with tiny chunks exercises the carry logic
    # (command groups split mid-literals): same bytecode as a raw
    # stream file behind a patched meta
    raw_path = str(tmp_path / "raw.bin")
    with open(raw_path, "wb") as f:
        f.write(read_compressed_stream(zmeta))
    bmeta = dataclasses.replace(
        zmeta, path=raw_path, compression=1, data_offset=0, zsav=None
    )
    small = list(d.iter_compressed_elements(bmeta, chunk_bytes=1024))
    assert max(e.shape[0] for e in small) <= 1024  # bounded per chunk
    assert np.array_equal(np.concatenate(small), whole)

    # offset/limit spans slice the stream exactly
    span = list(d.iter_compressed_rows(bmeta, 12_345, 100, batch_rows=64))
    assert np.array_equal(np.concatenate([r for _, r in span]), exp[12_345:12_445])
    assert span[0][0] == 12_345

    # end-to-end through the data source
    df = spark.read.format("readstat").load(zp)
    assert df.count() == n
    row = df.filter("x = 19999.0").collect()[0]
    assert row.s == "s19999" and row.y == 9999.5


def test_sparse_literal_walk_matches_whole_buffer(spark, tmp_path):
    """The r05 walk fast-forwards all-literal command runs and keeps
    per-group literal counts lazy, materializing them after 4096
    scalar steps. A biased-int stream (SPSS-style compression: most
    values are code-bias commands, literals rare) exercises BOTH the
    scalar-step branch and the materialized-c253 branch over >4096
    groups — boundaries must match the plain whole-buffer walk."""
    import dataclasses
    import struct

    import numpy as np

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sav import decode as d
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    # need a real meta (bias/endianness); any small sav will do
    src = spark.range(4).selectExpr("cast(id as double) as x")
    zp = str(tmp_path / "seed.zsav")
    prs.write_readstat(src, zp)
    zmeta = parse_sav_meta(zp)

    # synthesize: 60k command groups, mostly biased-int commands with
    # a literal every 7th element and an all-spaces every 11th
    rng = np.random.default_rng(11)
    stream = bytearray()
    n_lit = 0
    for g in range(60_000):
        cmds = []
        lits = []
        for j in range(8):
            k = g * 8 + j
            if k % 7 == 0:
                cmds.append(253)
                lits.append(struct.pack("<d", float(k)))
                n_lit += 1
            elif k % 11 == 0:
                cmds.append(254)
            else:
                cmds.append(1 + (k % 200))
        stream += bytes(cmds)
        for litv in lits:
            stream += litv
    raw_path = str(tmp_path / "sparse.bin")
    with open(raw_path, "wb") as f:
        f.write(bytes(stream))
    bmeta = dataclasses.replace(
        zmeta, path=raw_path, compression=1, data_offset=0, zsav=None
    )
    whole = d.decompress_bytecode(bytes(stream), bmeta)
    streamed = np.concatenate(
        list(d.iter_compressed_elements(bmeta, chunk_bytes=64 * 1024))
    )
    assert np.array_equal(streamed, whole)
    assert whole.shape[0] == 60_000 * 8


def test_bias_compressed_stream_differential(spark, tmp_path):
    """Real SPSS writes integer-heavy data with BIAS commands (code =
    value + bias, one byte, no literal payload) — a shape our writer
    never emits, so it needs its own fixture: re-encode an
    uncompressed sav's case data with bias/sysmis/literal commands
    and the decoded frame must equal the original exactly. Also
    exercises the generalized uniform-stride walk fast-forward (bias
    runs have stride 1 where all-literal runs have stride 9); before
    round 6 a bias-heavy stream fell into a per-group Python loop."""
    import struct

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sav import decode as D
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    df = spark.range(80_000).select(
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") % 7 - 3).cast("double").alias("b"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 50).cast("double"))
        .alias("c"),
        (F.col("id") * 0.5).alias("d"),  # halves: literal commands
    )
    lit_path = str(tmp_path / "bias_src.sav")
    prs.write_readstat(df, lit_path)
    meta = parse_sav_meta(lit_path)
    assert meta.compression == 0  # our writer emits uncompressed sav
    raw = open(lit_path, "rb").read()
    els = np.frombuffer(raw[meta.data_offset :], dtype=np.uint8)
    els = els[: (els.size // 8) * 8].reshape(-1, 8)

    vals = els.view("<f8").reshape(-1)
    bias = meta.bias or 100.0
    iv = np.floor(vals)
    biasable = (
        np.isfinite(vals)
        & (vals == iv)
        & (iv >= 1 - bias)
        & (iv <= 251 - bias)
    )
    sysmis_bits = np.frombuffer(
        np.float64(meta.sysmis).tobytes(), dtype="<u8"
    )[0]
    is_sys = els.view("<u8").reshape(-1) == sysmis_bits
    codes = np.where(
        is_sys, 255, np.where(biasable, (iv + bias), 253)
    ).astype(np.uint8)
    out = bytearray()
    for g0 in range(0, codes.size, 8):
        grp = codes[g0 : g0 + 8]
        out += bytes(grp) + bytes(8 - grp.size)
        for j, cd in enumerate(grp):
            if cd == 253:
                out += els[g0 + j].tobytes()
    out += bytes([252] + [0] * 7)
    assert 0.2 < float((codes == 253).mean()) < 0.3  # mixed, bias-heavy

    head = bytearray(raw[: meta.data_offset])
    head[72:76] = struct.pack("<i", 1)  # compression 0 -> 1 (bytecode)
    bias_path = str(tmp_path / "bias_enc.sav")
    open(bias_path, "wb").write(bytes(head) + bytes(out))
    m2 = parse_sav_meta(bias_path)
    assert m2.compression == 1

    a = spark.read.format("readstat").load(lit_path).toPandas()
    b = spark.read.format("readstat").load(bias_path).toPandas()
    pd.testing.assert_frame_equal(a, b)

    # the walk must produce exactly n_rows * case_size elements
    tot = sum(e.shape[0] for e in D.iter_compressed_elements(m2))
    assert tot == 80_000 * m2.case_size


def test_write_sav_compress_bytecode_roundtrip(spark, tmp_path):
    """write_sav(compress=True) emits compression=1 bytecode (bias
    commands for integral numerics, 255 sysmis, 254 all-spaces, 253
    literals); the file must read back exactly equal to the
    uncompressed twin and be materially smaller on integer-coded
    data."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from polars_readstat_spark.writers.sav import write_sav

    df = spark.range(60_000).select(
        (F.col("id") % 97).cast("double").alias("a"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 50 - 20).cast("double"))
        .alias("b"),
        (F.col("id") * 0.5).alias("c"),  # halves stay literal
        F.when(F.col("id") % 3 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("tx"), (F.col("id") % 23).cast("string")))
        .alias("s"),
        (F.col("id") % 300).cast("double").alias("big"),  # part out-of-range
    )
    up = str(tmp_path / "u.sav")
    cp = str(tmp_path / "c.sav")
    write_sav(df, up)
    write_sav(df, cp, compress=True)
    assert os.path.getsize(cp) < os.path.getsize(up) * 0.65
    a = spark.read.format("readstat").load(up).toPandas()
    b = spark.read.format("readstat").load(cp).toPandas()
    pd.testing.assert_frame_equal(a, b)


def _mixed_bytecode_fixtures(spark, tmp_path, n_rows):
    """(uncompressed, compression=1 mixed bytecode, zsav mixed
    bytecode) paths of identical data. The compressed twins carry
    bias/sysmis/spaces/literal commands (write_sav compress=True —
    the shape SPSS itself emits), NOT the all-literal framing, so
    reads exercise the checkpoint-index parallel path."""
    import struct
    import zlib

    from pyspark.sql import functions as F

    from polars_readstat_spark.sources.sav.meta import parse_sav_meta
    from polars_readstat_spark.writers.sav import write_sav

    df = spark.range(n_rows).select(
        (F.col("id") % 97).cast("double").alias("a"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 50 - 20).cast("double"))
        .alias("b"),
        (F.col("id") * 0.5).alias("c"),  # halves stay literal
        F.when(F.col("id") % 3 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("tx"), (F.col("id") % 23).cast("string")))
        .alias("s"),
    )
    up = str(tmp_path / "u.sav")
    cp = str(tmp_path / "m.sav")
    write_sav(df, up)
    write_sav(df, cp, compress=True)

    meta = parse_sav_meta(cp)
    assert meta.compression == 1
    raw = open(cp, "rb").read()
    stream = raw[meta.data_offset :]

    # wrap the same bytecode stream in a zsav container with small
    # blocks so checkpoints land mid-block (PSPP ZLIB layout: zheader,
    # independently-deflated blocks, offset trailer)
    zhead = bytearray(raw[: meta.data_offset])
    zhead[:4] = b"$FL3"
    zhead[72:76] = struct.pack("<i", 2)
    zofs = meta.data_offset
    block = 1 << 16
    comp_parts = []
    blocks = []
    unc_pos, fpos = zofs, zofs + 24
    for pos in range(0, len(stream), block):
        chunk = stream[pos : pos + block]
        comp = zlib.compress(chunk, 6)
        blocks.append((unc_pos, fpos, len(chunk), len(comp)))
        comp_parts.append(comp)
        unc_pos += len(chunk)
        fpos += len(comp)
    trailer = struct.pack("<qqii", -100, 0, block, len(blocks)) + b"".join(
        struct.pack("<qqii", *b) for b in blocks
    )
    zheader = struct.pack("<3q", zofs, fpos, len(trailer))
    zp = str(tmp_path / "m.zsav")
    with open(zp, "wb") as fh:
        fh.write(bytes(zhead))
        fh.write(zheader)
        fh.write(b"".join(comp_parts))
        fh.write(trailer)
    return up, cp, zp


def test_checkpoint_parallel_mixed_bytecode(spark, tmp_path):
    """General (non-all-literal) bytecode streams partition via the
    plan-time checkpoint index: a mixed bias/literal sav AND its zsav
    twin read in parallel row-range partitions and match the
    uncompressed truth exactly."""
    import pandas as pd

    from polars_readstat_spark.sources.sav.reader import SavReader

    up, cp, zp = _mixed_bytecode_fixtures(spark, tmp_path, 60_000)
    a = (
        _load(spark, up)
        .toPandas()
        .sort_values("c")
        .reset_index(drop=True)
    )
    for p in (cp, zp):
        r = SavReader(p, {"rows_per_partition": "7000"})
        parts = r.partitions()
        assert len(parts) == 9, p
        assert all(pt.ckpt is not None for pt in parts), p
        # checkpoints are monotone and at/below each range's first el
        cs = r.meta.case_size
        for pt in parts:
            assert pt.ckpt[1] <= pt.start * cs
        b = (
            _load(spark, p, rows_per_partition=7000)
            .toPandas()
            .sort_values("c")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)


def test_checkpoint_rows_match_serial_spans(spark, tmp_path):
    """iter_checkpoint_rows from any checkpoint reproduces exactly the
    rows the serial decode places in that span — including spans
    starting mid-checkpoint-interval (skip path), 1-row spans, and a
    span ending at the last row."""
    import numpy as np

    from polars_readstat_spark.sources.sav import decode as D
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    _, cp, zp = _mixed_bytecode_fixtures(spark, tmp_path, 9_000)
    for path in (cp, zp):
        m = parse_sav_meta(path)
        cs = m.case_size
        ck, tot = D.build_checkpoint_index(m, 1024)
        assert tot == 9_000 * cs
        assert ck.shape[0] > 5
        assert (np.diff(ck[:, 1]) > 0).all()
        serial = np.concatenate(
            [r for _, r in D.iter_compressed_rows(m, 0, 9_000, 1 << 30)]
        )
        for start, n in [(0, 9_000), (1, 17), (4_321, 777), (8_999, 1), (123, 4_567)]:
            j = int(np.searchsorted(ck[:, 1], start * cs, side="right") - 1)
            got = np.concatenate(
                [
                    r
                    for _, r in D.iter_checkpoint_rows(
                        m, start, n, 997, int(ck[j, 0]), int(ck[j, 1])
                    )
                ]
            )
            assert np.array_equal(got, serial[start : start + n]), (
                path,
                start,
                n,
            )


def test_checkpoint_index_sidecar_cached(spark, tmp_path):
    """The checkpoint walk caches its verdict in a content-keyed
    sidecar: a second build returns identical checkpoints without
    re-walking (observable via the sidecar file's existence)."""
    import os as _os

    import numpy as np

    from polars_readstat_spark.sources.sav import decode as D
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    _, cp, _ = _mixed_bytecode_fixtures(spark, tmp_path, 3_000)
    m = parse_sav_meta(cp)
    side = D._sidecar_path(m, "ckptidx", extra="512") + ".npz"
    if _os.path.exists(side):
        _os.unlink(side)
    ck1, t1 = D.build_checkpoint_index(m, 512)
    assert _os.path.exists(side)
    ck2, t2 = D.build_checkpoint_index(m, 512)
    assert t1 == t2 and np.array_equal(ck1, ck2)


def test_group_boundaries_matches_scalar_walk():
    """_group_boundaries (uniform-run + periodic-pattern fast-forward)
    must reproduce the scalar walk i += 1 + c[i] exactly on:
    periodic mixed streams (the ACS shape that triggers period
    extension), period breaks mid-stream, aperiodic random streams,
    and adversarial literal bytes that LOOK like command counts —
    the verification gathers only boundary positions, so data bytes
    must never mislead it."""
    import numpy as np

    from polars_readstat_spark.sources.sav.decode import _group_boundaries

    rng = np.random.default_rng(7)

    def build(groups, lit_fill):
        """groups: list of c values; literal positions get lit_fill
        values (adversarial data bytes)."""
        cs = []
        for c in groups:
            cs.append(c)
            for _ in range(c):
                cs.append(int(next(lit_fill)))
        return np.asarray(cs, dtype=np.int8)

    def scalar(c253f, nb8):
        bnds, i = [], 0
        c = c253f.tolist()
        while i < nb8:
            nxt = i + 1 + c[i]
            if nxt > nb8:
                break
            bnds.append(i)
            i = nxt
        return np.asarray(bnds, dtype=np.int64), i

    def adversarial():
        while True:
            yield rng.integers(0, 9)

    cases = []
    # ACS-like periodic: 35 c=0 groups then c=2,4,6 mixed, repeated
    row = [0] * 35 + [2, 4, 6]
    cases.append(build(row * 3000, adversarial()))
    # period break: pattern A, then pattern B, then uniform literal
    a = ([0] * 20 + [3, 1]) * 800
    b = ([5, 0, 0, 2] * 4 + [8]) * 700
    cases.append(build(a + b + [8] * 2000, adversarial()))
    # aperiodic random groups
    cases.append(
        build(list(rng.integers(0, 9, size=20_000)), adversarial())
    )
    # all-bias (stride-1) and all-literal (stride-9) pure runs
    cases.append(build([0] * 50_000, adversarial()))
    cases.append(build([8] * 20_000, adversarial()))
    # tiny streams and spill tails
    cases.append(np.asarray([3, 9, 9], dtype=np.int8))  # spills
    cases.append(np.asarray([], dtype=np.int8))

    for k, c253f in enumerate(cases):
        nb8 = c253f.size
        got_b, got_i = _group_boundaries(c253f, nb8)
        want_b, want_i = scalar(c253f, nb8)
        assert got_i == want_i, k
        assert np.array_equal(got_b, want_b), k
        # and for every chunk-split of the stream, the pieces agree
        # with the whole (chunk boundaries are arbitrary byte cuts)
        if nb8 > 100:
            cut = nb8 // 2 + int(rng.integers(-30, 30))
            b1, i1 = _group_boundaries(c253f[:cut], cut)
            rest = c253f[i1:]
            b2, i2 = _group_boundaries(rest, rest.size)
            merged = np.concatenate([b1, b2 + i1])
            assert np.array_equal(merged, want_b), f"split {k}"


def test_sidecar_trust_checks(spark, tmp_path):
    """Hardened sidecar cache (ADVICE r6): a planted verdict with a
    stale/wrong content fingerprint is ignored, a group/other-writable
    sidecar is never trusted, and a rewrite of the source file at the
    same size+mtime_ns is caught by the embedded fingerprint."""
    import os as _os

    from polars_readstat_spark.sources import cache
    from polars_readstat_spark.sources.sav import decode as D
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    _, cp, _ = _mixed_bytecode_fixtures(spark, tmp_path, 1_000)
    m = parse_sav_meta(cp)
    side = D._literal_sidecar_path(m)
    assert side is not None and side.startswith(cache.cache_dir())

    # plant a forged "all-literal: yes" verdict with a bogus fingerprint
    cache.write_atomic(side, b"0" * 40 + b" 1")
    nrows = 1_000
    assert D.validate_literal_stream(m, nrows) is False  # not trusted

    # now the honest verdict is cached; flipping perms must untrust it
    fp = cache.content_fingerprint(cp)
    cache.write_atomic(side, f"{fp} 1".encode())
    _os.chmod(side, 0o666)
    assert cache.read_trusted(side) is None
    _os.chmod(side, 0o600)
    assert cache.read_trusted(side) == f"{fp} 1".encode()

    # same-size in-place rewrite changes the fingerprint even if
    # (size, mtime_ns) were pinned — the embedded fp catches it
    blob = open(cp, "rb").read()
    mutated = bytearray(blob)
    mutated[-1] ^= 0xFF
    st = _os.stat(cp)
    with open(cp, "wb") as fh:
        fh.write(bytes(mutated))
    _os.utime(cp, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert cache.content_fingerprint(cp) != fp


def test_cache_dir_is_private(tmp_path, monkeypatch):
    """cache_dir() honors XDG_CACHE_HOME, creates 0700, and refuses a
    directory that is group/other-accessible or foreign-owned."""
    import os as _os
    import stat as _stat

    from polars_readstat_spark.sources import cache

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    d = cache.cache_dir()
    assert d == str(tmp_path / "xdg" / "prs-cache")
    mode = _stat.S_IMODE(_os.stat(d).st_mode)
    assert mode == 0o700
    _os.chmod(d, 0o770)
    assert cache.cache_dir() is None
    _os.chmod(d, 0o700)
    assert cache.cache_dir() == d


def test_checkpoint_pipeline_flag_planning(spark, tmp_path):
    """The walk→scatter pipeline flag follows the plan's fan-out:
    full-core fan-out (2*parts > cores) decodes inline, a
    few-partition plan on a wide box keeps the 2-thread pipeline."""
    from polars_readstat_spark.sources.sav import reader as R

    _, cp, _ = _mixed_bytecode_fixtures(spark, tmp_path, 30_000)

    rdr = R.SavReader(
        cp, {"target_parallelism": "8", "rows_per_partition": "2000"}
    )
    parts = rdr.partitions()
    assert len(parts) == 15  # 2*15 > 8 → inline
    assert all(p.pipeline is False for p in parts)

    rdr = R.SavReader(
        cp, {"target_parallelism": "64", "rows_per_partition": "15000"}
    )
    parts = rdr.partitions()
    assert len(parts) == 2  # 2*2 <= 64 → keep the pipeline
    assert all(p.pipeline is True for p in parts)


def test_decode_cmd_group_direct_affine_matches_lut():
    """The r8 native-endian fast path (streaming code-bias float64
    subtract) must be bitwise-identical to the LUT gather across the
    full command-byte space: codes 1-251, literals (253) consuming
    blocks in order, spaces (254), sysmis (255), padding (0, emits
    nothing), and 252 stop mid-stream."""
    import numpy as np

    from polars_readstat_spark.sources.sav.decode import (
        _cmd_lut,
        _decode_cmd_group,
    )

    class M:
        bias = 100.0
        little_endian = True

    rng = np.random.default_rng(11)

    def build(cmd_bytes):
        """Assemble (blocks, cmd_idx) from a flat command list: each
        8-cmd block followed by one literal block per 253 in it."""
        blocks, cmd_idx = [], []
        for g in range(0, len(cmd_bytes), 8):
            grp = cmd_bytes[g : g + 8]
            grp = grp + [0] * (8 - len(grp))
            cmd_idx.append(len(blocks))
            blocks.append(grp)
            for c in grp:
                if c == 253:
                    blocks.append(list(rng.integers(0, 256, 8)))
        return (
            np.asarray(blocks, dtype=np.uint8),
            np.asarray(cmd_idx, dtype=np.int64),
        )

    def lut_reference(blocks, cmd_idx, meta):
        cmds = blocks[cmd_idx].reshape(-1)
        stop = np.flatnonzero(cmds == 252)
        stopped = False
        if stop.size:
            cmds = cmds[: stop[0]]
            stopped = True
        el = cmds[cmds != 0]
        out = _cmd_lut(meta)[el]
        m253 = el == 253
        if m253.any():
            lit_mask = np.ones(blocks.shape[0], dtype=bool)
            lit_mask[cmd_idx] = False
            lits = blocks[lit_mask]
            out = out.copy()
            out[m253] = lits[np.cumsum(m253)[m253] - 1]
        return out, stopped

    cases = [
        list(rng.integers(1, 252, 64)),  # pure bias codes
        [253] * 16,  # all literals
        [254, 255, 0, 1, 251, 253, 254, 255] * 4,  # specials mix
        list(rng.choice([0, 1, 50, 251, 253, 254, 255], 120)),
        list(rng.integers(1, 252, 20)) + [252] + [253] * 8,  # stop
    ]
    for cmds in cases:
        blocks, idx = build([int(c) for c in cmds])
        got, gs = _decode_cmd_group(blocks, idx, M())
        want, ws = lut_reference(blocks, idx, M())
        assert gs == ws
        assert got.shape == want.shape
        assert (got == want).all()


def test_zsav_pool_arms_identical(spark, tmp_path):
    """VERDICT r09 next#7: the zsav block fetch+inflate runs pooled by
    default (remote-store latency overlap) with io_zsav_pool=0 as the
    serial bench arm — both arms, read locally and through a
    simlat5:// URI (per-thread handles, one range request per zlib
    block), must return identical data on both the literal and the
    general bytecode partition paths (a larger written zsav exercises
    multi-block spans)."""
    from pyspark.sql import functions as F

    from polars_readstat_spark.writers.sav import write_sav

    p = str(tmp_path / "arms.zsav")
    df = spark.range(40_000).select(
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") * 0.25).alias("b"),
        F.concat(F.lit("s"), (F.col("id") % 11).cast("string")).alias("s"),
    )
    write_sav(df, p)
    base = _load(spark, p).collect()
    for uri, opts in (
        (p, {"io_zsav_pool": "0"}),
        ("simlat5://" + p, {}),
        ("simlat5://" + p, {"io_zsav_pool": "0"}),
    ):
        assert _load(spark, uri, **opts).collect() == base, (uri, opts)
