"""Filesystem seam (sources/fs.py): non-POSIX URI schemes under every
reader — the VERDICT r10 missing#2 gap. simlat<N>:// is the built-in
stateless object-store stand-in (local disk + N ms per range request),
resolvable in any Spark worker process with no registration."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from polars_readstat_spark.sources.fs import (
    FsHandler,
    fs_exists,
    fs_glob,
    fs_isdir,
    fs_listdir,
    fs_open,
    fs_size,
    fs_stat,
    is_remote,
    path_scheme,
    register_filesystem,
    strip_scheme,
    unregister_filesystem,
)


@pytest.fixture(scope="module")
def dta_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("fsseam")
    p = str(d / "t.dta")
    pd.DataFrame(
        {"a": range(200), "b": [f"s{i}" for i in range(200)]}
    ).to_stata(p, write_index=False, version=118)
    return p


def test_scheme_parsing():
    assert path_scheme("/x/y.dta") is None
    assert path_scheme("file:///x/y.dta") == "file"
    assert path_scheme("s3://bucket/k.dta") == "s3"
    assert path_scheme("simlat50:///x/y.dta") == "simlat50"
    assert strip_scheme("simlat50:///x/y.dta") == "/x/y.dta"
    assert strip_scheme("/x/y.dta") == "/x/y.dta"
    assert not is_remote("/x/y.dta")
    assert not is_remote("file:///x/y.dta")
    assert is_remote("s3://b/k")
    assert is_remote("simlat50:///x")


def test_posix_fast_path(dta_file):
    with fs_open(dta_file) as f:
        head = f.read(4)
    with open(dta_file, "rb") as f:
        assert f.read(4) == head
    assert fs_size(dta_file) == os.path.getsize(dta_file)
    st = os.stat(dta_file)
    assert fs_stat(dta_file) == (st.st_size, st.st_mtime_ns)
    assert fs_exists(dta_file)
    assert not fs_isdir(dta_file)
    assert fs_isdir(os.path.dirname(dta_file))
    d = os.path.dirname(dta_file)
    assert dta_file in fs_listdir(d)
    assert fs_glob(os.path.join(d, "*.dta")) == [dta_file]


def test_file_scheme_equals_plain(dta_file):
    with fs_open("file://" + dta_file) as f:
        a = f.read()
    with open(dta_file, "rb") as f:
        assert f.read() == a


def test_simlat_reads_identical_bytes(dta_file):
    uri = "simlat0://" + dta_file
    with fs_open(uri) as f:
        a = f.read()
    with open(dta_file, "rb") as f:
        assert f.read() == a
    assert fs_size(uri) == os.path.getsize(dta_file)
    sz, mt = fs_stat(uri)
    assert (sz, mt) == fs_stat(dta_file)


def test_simlat_seek_read_range(dta_file):
    uri = "simlat0://" + dta_file
    with fs_open(uri) as f, open(dta_file, "rb") as g:
        for pos in (0, 37, 1000, 5):
            f.seek(pos)
            g.seek(pos)
            assert f.read(64) == g.read(64)
            assert f.tell() == g.tell()


def test_simlat_pays_per_range_latency(dta_file):
    uri = "simlat30://" + dta_file
    t0 = time.perf_counter()
    with fs_open(uri) as f:  # open = 1 range
        f.read(16)  # same range, no extra pay
        f.seek(100)
        f.read(16)  # 2nd range
        f.seek(200)
        f.read(16)  # 3rd range
    wall = time.perf_counter() - t0
    assert wall >= 0.09  # 3 × 30 ms
    assert wall < 1.0


# -- the seam's cost model, per pipelining reader ---------------------
#
# Under simlat<N>:// every range request is an open or a seek of a
# _LatencyFile. These pin how many requests ONE partition's read
# issues, which is what the bench latency pairs (floor_*_lat*) time.


@pytest.fixture(scope="module")
def cost_files(spark, tmp_path_factory):
    """One 120,000-row frame (11 fractional doubles plus one integral
    code column) in every format with a pipelined fetch loop. Big
    enough that each fetch loop runs more than once: sas7bdat spans
    several 4 MiB page ranges, zsav several zlib blocks, and the sav
    bytecode stream several 4 MiB chunks."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.sas7bdat import write_sas7bdat
    from polars_readstat_spark.writers.sav import write_sav

    d = tmp_path_factory.mktemp("seamcost")
    df = spark.range(120_000).select(
        *[(F.col("id") * (0.37 + i)).alias(f"x{i}") for i in range(11)],
        (F.col("id") % 97).cast("double").alias("k"),
    )
    out = {}
    for tag in ("dta", "xpt", "sav", "zsav"):
        out[tag] = str(d / f"c.{tag}")
        prs.write_readstat(df, out[tag])
    out["sav_bytecode"] = str(d / "c_bc.sav")
    write_sav(df, out["sav_bytecode"], compress=True)
    out["sas7bdat"] = str(d / "c.sas7bdat")
    write_sas7bdat(df, out["sas7bdat"])
    out["sas7bdat_rle"] = str(d / "c_rle.sas7bdat")
    write_sas7bdat(df, out["sas7bdat_rle"], compress="rle")
    return out


@pytest.fixture
def range_requests(monkeypatch):
    """Counts _LatencyFile opens and seeks (thread-safe: readahead
    and the zsav inflate pool fetch from their own threads)."""
    import threading

    from polars_readstat_spark.sources import fs

    n = {"open": 0, "seek": 0}
    lock = threading.Lock()
    init, seek = fs._LatencyFile.__init__, fs._LatencyFile.seek

    def counted_init(self, path, lat_s):
        with lock:
            n["open"] += 1
        init(self, path, lat_s)

    def counted_seek(self, pos, whence=0):
        with lock:
            n["seek"] += 1
        return seek(self, pos, whence)

    monkeypatch.setattr(fs._LatencyFile, "__init__", counted_init)
    monkeypatch.setattr(fs._LatencyFile, "seek", counted_seek)
    return n


def _read_counted(reader, part, n):
    """Rows of one partition's read, with the counter zeroed after
    planning so only the read's requests count."""
    n["open"] = n["seek"] = 0
    return sum(b.num_rows for b in reader.read(part))


@pytest.mark.parametrize("ra", ["0", "2"])
@pytest.mark.parametrize("tag", ["dta", "xpt", "sav"])
def test_simlat_row_range_requests(cost_files, range_requests, tag, ra):
    """dta, xpt and uncompressed sav: one open plus one seek per
    ⌈n / batch_rows⌉ row range (fetch_row_ranges). Readahead moves the
    fetches onto a thread; it never adds a request."""
    from polars_readstat_spark.sources.datasource import DtaReader
    from polars_readstat_spark.sources.sav.reader import SavReader
    from polars_readstat_spark.sources.xpt.reader import XptReader

    opts = {
        "rows_per_partition": "50000",
        "batch_size": "7000",
        "io_readahead": ra,
    }
    uri = "simlat1://" + cost_files[tag]
    if tag == "dta":
        r = DtaReader(uri, opts, None)
    elif tag == "xpt":
        r = XptReader(uri, opts)
    else:
        r = SavReader(uri, opts)
    part = r.partitions()[1]
    assert (part.start, part.n) == (50_000, 50_000)
    assert _read_counted(r, part, range_requests) == part.n
    assert range_requests == {"open": 1, "seek": -(-part.n // 7000)}


@pytest.mark.parametrize("ra", ["0", "2"])
@pytest.mark.parametrize("tag", ["sas7bdat", "sas7bdat_rle"])
def test_simlat_sas_page_range_requests(cost_files, range_requests, tag, ra):
    """sas7bdat, plain and rle: one open plus one seek per 4 MiB page
    range of the partition (SasReader.read's raw_ranges)."""
    from polars_readstat_spark.sources.sas7bdat.reader import SasReader

    whole = "1000000000"  # one partition: rows (plain) or pages (rle)
    r = SasReader(
        "simlat1://" + cost_files[tag],
        {
            "rows_per_partition": whole,
            "pages_per_partition": whole,
            "io_readahead": ra,
        },
    )
    (part,) = r.partitions()
    per = (4 << 20) // r.meta.page_length
    ranges = -(-part.n_pages // per)
    assert ranges >= 2  # the fixture must span several ranges
    assert _read_counted(r, part, range_requests) == 120_000
    assert range_requests == {"open": 1, "seek": ranges}


@pytest.mark.parametrize("pool", ["0", "1"])
def test_simlat_zsav_block_requests(cost_files, range_requests, pool):
    """zsav: one seek per zlib block. On a remote path each inflate
    thread reads through its own handle (one open each, at most the
    pool's 4; exactly one on the serial arm) and no shared handle is
    opened."""
    from polars_readstat_spark.sources.sav.reader import SavReader

    uri = "simlat1://" + cost_files["zsav"]
    # the plan-time stream proofs read through the seam too: a remote
    # zsav plans parallel partitions, not the serial fallback
    assert len(SavReader(uri, {"rows_per_partition": "30000"}).partitions()) == 4
    r = SavReader(
        uri,
        {
            "rows_per_partition": "1000000000",
            "io_readahead": "0",
            "io_zsav_pool": pool,
        },
    )
    (part,) = r.partitions()
    blocks = len(r.meta.zsav.blocks)
    assert blocks >= 3
    assert _read_counted(r, part, range_requests) == 120_000
    assert range_requests["seek"] == blocks
    if pool == "0":
        assert range_requests["open"] == 1
    else:
        assert 1 <= range_requests["open"] <= 4


def test_simlat_sav_bytecode_is_one_request(cost_files, range_requests):
    """A sav bytecode stream (compression=1) pays one open and one
    seek per partition, however many 4 MiB chunks the decode loop
    reads: the chunks are sequential reads of one GET, so they carry
    no further first-byte wait."""
    from polars_readstat_spark.sources.sav.decode import stream_nbytes
    from polars_readstat_spark.sources.sav.reader import SavReader

    r = SavReader(
        "simlat1://" + cost_files["sav_bytecode"],
        {"rows_per_partition": "1000000000", "io_readahead": "2"},
    )
    assert r.meta.compression == 1
    assert stream_nbytes(r.meta) > 2 * (4 << 20)  # 3+ chunks
    (part,) = r.partitions()
    assert _read_counted(r, part, range_requests) == 120_000
    assert range_requests == {"open": 1, "seek": 1}


def test_simlat_listdir_and_glob(dta_file):
    d = os.path.dirname(dta_file)
    uri_d = "simlat0://" + d
    listed = fs_listdir(uri_d)
    assert listed == ["simlat0://" + dta_file]
    assert fs_glob("simlat0://" + d + "/*.dta") == ["simlat0://" + dta_file]
    assert fs_isdir(uri_d)
    assert fs_exists("simlat0://" + dta_file)
    assert not fs_exists("simlat0://" + d + "/nope.dta")


def test_registered_filesystem_wins():
    class Upper(FsHandler):
        def exists(self, path):
            return path.endswith("YES")

    register_filesystem("fsx", Upper())
    try:
        assert fs_exists("fsx://anything/YES")
        assert not fs_exists("fsx://anything/no")
    finally:
        unregister_filesystem("fsx")


def test_scan_dta_through_simlat_scheme(spark, dta_file):
    """End-to-end: the Spark datasource reads a simlat:// URI in its
    worker processes — schema parse, partition planning, and decode
    all through the seam."""
    import polars_readstat_spark as prs

    prs.register(spark)
    plain = (
        spark.read.format("readstat").load(dta_file).orderBy("a").collect()
    )
    seamed = (
        spark.read.format("readstat")
        .load("simlat0://" + dta_file)
        .orderBy("a")
        .collect()
    )
    assert seamed == plain
    assert len(seamed) == 200


def test_scan_directory_through_simlat_scheme(spark, tmp_path):
    import polars_readstat_spark as prs

    prs.register(spark)
    for k in (0, 1):
        pd.DataFrame({"a": range(k * 50, k * 50 + 50)}).to_stata(
            str(tmp_path / f"p{k}.dta"), write_index=False, version=118
        )
    got = (
        spark.read.format("readstat")
        .load("simlat0://" + str(tmp_path))
        .orderBy("a")
        .collect()
    )
    assert [r.a for r in got] == list(range(100))


@pytest.mark.parametrize("ext", ["sav", "zsav", "sas7bdat", "xpt", "por"])
def test_scan_other_formats_through_seam(spark, tmp_path, ext):
    """Every writer→reader format roundtrips through a simlat URI —
    proves no format kept a hidden posix-only byte path."""
    import polars_readstat_spark as prs

    prs.register(spark)
    sdf = spark.createDataFrame(
        [(float(i), f"s{i}") for i in range(100)], "x double, s string"
    )
    p = str(tmp_path / f"t.{ext}")
    prs.write_readstat(sdf, p)
    plain = spark.read.format("readstat").load(p)
    seamed = spark.read.format("readstat").load("simlat0://" + p)
    pc = sorted(plain.collect())
    sc = sorted(seamed.collect())
    assert pc == sc
    assert len(pc) == 100


def test_metamemo_keys_remote_paths(dta_file, monkeypatch):
    from polars_readstat_spark.sources import metamemo

    calls = []

    def parse(p):
        calls.append(p)
        return {"p": p}

    uri = "simlat0://" + dta_file
    a = metamemo.memoized_parse("t_fsseam", uri, parse)
    b = metamemo.memoized_parse("t_fsseam", uri, parse)
    assert a is b
    assert calls == [uri]


def test_sas_prescan_groups_ranges_on_remote(spark, tmp_path):
    """The SAS page prescans must not pay one range request per page
    on a remote path: headers are read in ~4 MiB grouped ranges
    (page_count/G round trips), with identical geometry results."""
    import polars_readstat_spark as prs

    prs.register(spark)
    p = str(tmp_path / "m.sas7bdat")
    sdf = spark.range(200_000).selectExpr(
        "cast(id as double) as a", "cast(id % 13 as double) as b"
    )
    prs.write_readstat(sdf, p)

    class CountingFS(FsHandler):
        """Local passthrough that counts range requests (open or
        seek+read), the object-store cost unit."""

        def __init__(self):
            self.ranges = 0

        def open_input(self, path):
            outer = self

            class _F:
                def __init__(self):
                    self._f = open(strip_scheme(path), "rb")
                    self._pending = True
                    outer.ranges += 1

                def read(self, n=-1):
                    if self._pending:
                        self._pending = False
                    return self._f.read(n)

                def seek(self, pos, whence=0):
                    r = self._f.seek(pos, whence)
                    if not self._pending:
                        outer.ranges += 1
                        self._pending = True
                    return r

                def tell(self):
                    return self._f.tell()

                def close(self):
                    self._f.close()

                def __enter__(self):
                    return self

                def __exit__(self, *a):
                    self.close()
                    return False

            return _F()

        def size(self, path):
            return os.path.getsize(strip_scheme(path))

        def mtime_ns(self, path):
            return os.stat(strip_scheme(path)).st_mtime_ns

        def isdir(self, path):
            return os.path.isdir(strip_scheme(path))

        def exists(self, path):
            return os.path.exists(strip_scheme(path))

        def listdir(self, path):
            local = strip_scheme(path)
            return [
                "cntfs://" + os.path.join(local, f)
                for f in sorted(os.listdir(local))
                if os.path.isfile(os.path.join(local, f))
            ]

    from polars_readstat_spark.sources.sas7bdat.reader import SasReader

    plain = SasReader(p, {})
    n_pages = plain.meta.page_count
    assert n_pages > 10  # the fixture must be multi-page to mean anything
    rows_plain = plain._scan_page_rows(p)

    fs = CountingFS()
    register_filesystem("cntfs", fs)
    try:
        remote = SasReader("cntfs://" + p, {})
        rows_remote = remote._scan_page_rows("cntfs://" + p)
        prescan_ranges = fs.ranges
    finally:
        unregister_filesystem("cntfs")
    assert list(rows_remote) == list(rows_plain)
    # grouped: ~page_count/G + meta-parse ranges, far below one/page
    assert prescan_ranges < n_pages / 2 + 10, (
        f"{prescan_ranges} ranges for {n_pages} pages"
    )


@pytest.mark.parametrize("ext", ["dta", "sav", "zsav", "sas7bdat", "xpt", "por"])
def test_write_through_seam(spark, tmp_path, ext):
    """write_readstat to a non-POSIX URI: the writer backpatches into
    a local spool, which uploads on close (the staged-commit shape) —
    bytes must be readable and value-identical to a plain-path
    write."""
    import polars_readstat_spark as prs

    prs.register(spark)
    sdf = spark.createDataFrame(
        [(float(i), f"s{i}") for i in range(120)], "x double, s string"
    )
    plain = str(tmp_path / f"plain.{ext}")
    seamed = str(tmp_path / f"seamed.{ext}")
    prs.write_readstat(sdf, plain)
    prs.write_readstat(sdf, "simlat0://" + seamed)
    assert os.path.exists(seamed)
    a = sorted(spark.read.format("readstat").load(plain).collect())
    b = sorted(spark.read.format("readstat").load(seamed).collect())
    assert a == b and len(b) == 120


def test_listdir_seeds_stat_hints(tmp_path):
    """A remote directory LIST supplies every entry's (size, mtime):
    subsequent fs_stat/fs_size calls on listed files pay NO further
    round trips — at 5k files that is 1 LIST vs 5k HEADs."""
    for k in range(10):
        (tmp_path / f"h{k}.dta").write_bytes(b"x" * (100 + k))
    uri_d = "simlat40://" + str(tmp_path)
    t0 = time.perf_counter()
    listed = fs_listdir(uri_d)  # one 40 ms LIST
    for p in listed:
        sz, mt = fs_stat(p)  # hint hits: no 40 ms HEAD each
        assert sz == 100 + int(p[-5])
        assert fs_size(p) == sz
    wall = time.perf_counter() - t0
    assert len(listed) == 10
    assert wall < 0.25, f"stat hints not used: {wall:.3f}s"  # ≪ 11×40 ms


def test_distributed_sink_through_seam(spark, tmp_path):
    """df.write.format('readstat') to a non-POSIX URI: executor tasks
    stage through the seam and commit publishes with filesystem-level
    moves (server-side copy+delete on object stores)."""
    import polars_readstat_spark as prs

    prs.register(spark)
    out = str(tmp_path / "sinkout")
    sdf = spark.range(2000).selectExpr(
        "cast(id as long) as id", "cast(id * 0.5 as double) as v"
    )
    sdf.repartition(4).write.format("readstat").option(
        "format", "dta"
    ).mode("overwrite").save("simlat0://" + out)
    files = sorted(
        f for f in os.listdir(out) if not f.startswith((".", "_"))
    )
    assert files and all(f.endswith(".dta") for f in files)
    assert os.path.exists(os.path.join(out, "_prs_stats.json"))
    assert not any(
        f.startswith(".staged") for f in os.listdir(out)
    )
    back = spark.read.format("readstat").load(out)
    assert back.count() == 2000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(2000))
    # overwrite through the seam removes the previous run's parts
    sdf.limit(100).repartition(2).write.format("readstat").option(
        "format", "dta"
    ).mode("overwrite").save("simlat0://" + out)
    assert spark.read.format("readstat").load(out).count() == 100


def test_partitioned_export_through_seam(spark, tmp_path):
    """write_dta_partitioned to a non-POSIX URI: per-partition staged
    upload + filesystem-level publish."""
    import polars_readstat_spark as prs

    from polars_readstat_spark.writers.partitioned import (
        write_dta_partitioned,
    )

    prs.register(spark)
    out = str(tmp_path / "pexp")
    sdf = spark.range(500).selectExpr(
        "cast(id as long) as id", "concat('v', id) as s"
    ).repartition(3)
    parts = write_dta_partitioned(sdf, "simlat0://" + out)
    assert sum(p["n_rows"] for p in parts) == 500
    assert all(p["path"].startswith("simlat0://") for p in parts)
    back = spark.read.format("readstat").load(out)
    assert back.count() == 500


def test_remote_paths_default_to_readahead(dta_file):
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    ds = ReadstatDataSource({"path": "simlat0://" + dta_file})
    assert ds.options.get("io_readahead") == "2"
    # explicit opt-out survives
    ds0 = ReadstatDataSource(
        {"path": "simlat0://" + dta_file, "io_readahead": "0"}
    )
    assert ds0.options.get("io_readahead") == "0"
    # local paths keep the off default
    dsl = ReadstatDataSource({"path": dta_file})
    assert "io_readahead" not in dsl.options


def test_spool_upload_failure_leaves_no_partial_and_cleans_spool(tmp_path):
    """If the remote upload fails at close, the spool temp file is
    still removed and the error propagates (no silent half-writes)."""
    import glob

    from polars_readstat_spark.sources.fs import fs_open_output

    class FailingFS(FsHandler):
        def open_output(self, path):
            raise IOError("upload rejected")

    register_filesystem("failfs", FailingFS())
    try:
        before = set(glob.glob("/tmp/prs-spool-*"))
        w = fs_open_output("failfs://bucket/x.dta")
        w.write(b"abc")
        w.seek(0)
        w.write(b"Z")
        with pytest.raises(IOError, match="upload rejected"):
            w.close()
        after = set(glob.glob("/tmp/prs-spool-*"))
        assert after - before == set()  # spool cleaned up
    finally:
        unregister_filesystem("failfs")


def test_spool_upload_discarded_when_writer_raises(tmp_path):
    """An exception inside the ``with`` block must not upload the
    spool (that would publish a torn remote file): no open_output
    call, and the spool temp file is removed. A clean exit still
    uploads once."""
    from polars_readstat_spark.sources.fs import fs_open_output

    class CountingFS(FsHandler):
        def __init__(self):
            self.outputs = 0

        def open_output(self, path):
            self.outputs += 1
            return open(str(tmp_path / "uploaded.bin"), "wb")

    fs = CountingFS()
    register_filesystem("countfs", fs)
    try:
        with pytest.raises(RuntimeError, match="mid-write"):
            with fs_open_output("countfs://bucket/x.sav") as w:
                w.write(b"header")
                spool = w._spool
                raise RuntimeError("mid-write failure")
        assert fs.outputs == 0
        assert not os.path.exists(spool)
        with fs_open_output("countfs://bucket/x.sav") as w:
            w.write(b"whole")
        assert fs.outputs == 1
        assert (tmp_path / "uploaded.bin").read_bytes() == b"whole"
    finally:
        unregister_filesystem("countfs")


def test_spool_discard_survives_failing_close(tmp_path):
    """A flush failure (ENOSPC) while closing the spool on the error
    path must neither escape discard() nor leave the spool behind."""
    from polars_readstat_spark.sources.fs import _SpoolUpload

    up = _SpoolUpload(FsHandler(), "countfs://bucket/x.sav")
    real = up._f

    class FullDisk:
        def close(self):
            real.close()
            raise OSError(28, "No space left on device")

    up._f = FullDisk()
    up.discard()
    assert not os.path.exists(up._spool)


def test_spool_upload_preserves_backpatched_bytes(tmp_path):
    """Seek-backpatch into the spool must reach the uploaded object
    byte-for-byte (writers patch row counts and block tables)."""
    from polars_readstat_spark.sources.fs import fs_open_output

    dest = str(tmp_path / "patched.bin")
    with fs_open_output("simlat0://" + dest) as w:
        w.write(b"\x00" * 8 + b"PAYLOAD")
        w.seek(0)
        w.write(b"HDR:0007")
    with open(dest, "rb") as f:
        assert f.read() == b"HDR:0007PAYLOAD"


def test_spool_upload_warns_past_size_bound(tmp_path, monkeypatch):
    """A single remote artifact spooling past the local-disk bound
    gets ONE warning pointing at the partitioned bulk path (the whole
    file lands on local scratch before upload — SCALE.md known
    bounds). Threshold shrunk for the test."""
    import warnings

    from polars_readstat_spark.sources.fs import _SpoolUpload, fs_open_output

    monkeypatch.setattr(_SpoolUpload, "_WARN_BYTES", 64)
    dest = str(tmp_path / "big.bin")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        with fs_open_output("simlat0://" + dest) as out:
            for _ in range(4):
                out.write(b"x" * 40)
    hits = [x for x in w if "spooled" in str(x.message)]
    assert len(hits) == 1  # warned once, not per write
    assert "write_readstat_partitioned" in str(hits[0].message)
    with open(dest, "rb") as f:
        assert f.read() == b"x" * 160  # upload unaffected


def test_latency_file_random_access_equivalence(dta_file):
    """Property: ANY interleaving of seeks and reads through the
    latency wrapper returns byte-identical results to the plain file
    (the wrapper must never desynchronize its position tracking)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    size = os.path.getsize(dta_file)

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=size + 10),
                st.integers(min_value=0, max_value=256),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(ops):
        with fs_open("simlat0://" + dta_file) as a, open(
            dta_file, "rb"
        ) as b:
            for pos, n in ops:
                a.seek(pos)
                b.seek(pos)
                assert a.read(n) == b.read(n)
                assert a.tell() == b.tell()

    check()


def test_arrow_adapter_full_surface(spark, tmp_path):
    """The pyarrow.fs adapter — the production remote path (S3/GCS/
    HDFS) — exercised end to end against pyarrow's LocalFileSystem
    registered under a test scheme: open/size/stat/listdir/glob,
    spooled writes, moves, removes, and a full datasource scan."""
    from pyarrow import fs as pafs

    from polars_readstat_spark.sources.fs import (
        _ArrowFS,
        fs_move,
        fs_open_output,
        fs_remove,
    )

    import polars_readstat_spark as prs

    prs.register(spark)
    base = str(tmp_path)
    handler = _ArrowFS("xarrow", pafs.LocalFileSystem(), "xarrow://" + base, base)
    register_filesystem("xarrow", handler)
    try:
        # spooled write through the adapter (with a backpatch seek)
        dest = base + "/a.dta"
        pd.DataFrame({"a": range(30)}).to_stata(
            base + "/plain.dta", write_index=False, version=118
        )
        with open(base + "/plain.dta", "rb") as f:
            raw = f.read()
        with fs_open_output("xarrow://" + dest) as w:
            w.write(b"\x00" * 4 + raw[4:])
            w.seek(0)
            w.write(raw[:4])
        with fs_open("xarrow://" + dest) as f:
            assert f.read() == raw
        assert fs_size("xarrow://" + dest) == len(raw)
        sz, mt = fs_stat("xarrow://" + dest)
        assert sz == len(raw) and mt > 0
        assert fs_exists("xarrow://" + dest)
        assert fs_isdir("xarrow://" + base)
        listed = fs_listdir("xarrow://" + base)
        assert "xarrow://" + dest in listed
        assert fs_glob("xarrow://" + base + "/*.dta") == sorted(listed)
        # datasource scan through the adapter (worker-side registry
        # is absent there, so scan driver internals directly)
        from polars_readstat_spark.sources.datasource import (
            ReadstatDataSource,
        )

        ds = ReadstatDataSource({"path": "xarrow://" + dest})
        rdr = ds._reader_uncompressed(None)
        vals = []
        for part in rdr.partitions():
            for b in rdr.read(part):
                vals.extend(b.column(0).to_pylist())
        assert sorted(vals) == list(range(30))
        # move + remove
        fs_move("xarrow://" + dest, "xarrow://" + base + "/b.dta")
        assert not fs_exists("xarrow://" + dest)
        assert fs_exists("xarrow://" + base + "/b.dta")
        fs_remove("xarrow://" + base + "/b.dta")
        assert not fs_exists("xarrow://" + base + "/b.dta")
    finally:
        unregister_filesystem("xarrow")


def test_fsspec_adapter_with_fake_filesystem(tmp_path):
    """_FsspecFS logic (hint harvesting incl. LastModified, listing
    scheme prefixes, open modes) against a minimal fsspec-shaped fake
    — the container has no fsspec, but the adapter must keep working
    when one is installed."""
    import datetime

    from polars_readstat_spark.sources.fs import _FsspecFS, _STAT_HINTS

    base = str(tmp_path)
    (tmp_path / "x.bin").write_bytes(b"hello-fsspec")

    class FakeFS:
        def open(self, path, mode):
            return open(strip_scheme(path), mode)

        def size(self, path):
            return os.path.getsize(strip_scheme(path))

        def modified(self, path):
            return datetime.datetime.fromtimestamp(
                os.stat(strip_scheme(path)).st_mtime,
                tz=datetime.timezone.utc,
            )

        def isdir(self, path):
            return os.path.isdir(strip_scheme(path))

        def exists(self, path):
            return os.path.exists(strip_scheme(path))

        def ls(self, path, detail=True):
            local = strip_scheme(path)
            out = []
            for f in sorted(os.listdir(local)):
                fp = os.path.join(local, f)
                st = os.stat(fp)
                out.append(
                    {
                        "name": fp,  # fsspec returns scheme-less names
                        "type": "file" if os.path.isfile(fp) else "directory",
                        "size": st.st_size,
                        "LastModified": datetime.datetime.fromtimestamp(
                            st.st_mtime, tz=datetime.timezone.utc
                        ),
                    }
                )
            return out

    h = _FsspecFS("xfs", FakeFS())
    uri = "xfs://" + base + "/x.bin"
    with h.open_input(uri) as f:
        assert f.read() == b"hello-fsspec"
    assert h.size(uri) == 12
    assert h.exists(uri) and not h.isdir(uri)
    listed = h.listdir("xfs://" + base)
    assert listed == [uri]  # scheme restored on scheme-less ls names
    hint = _STAT_HINTS.get(uri)
    assert hint is not None and hint[0] == 12 and hint[1] > 0
