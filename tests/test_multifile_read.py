"""Multi-file reads: a directory or glob of same-format files unions
into one DataFrame with per-file partition fan-out — the Spark-native
scale path the single-file reference doesn't have."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


@pytest.fixture(scope="module")
def dta_farm(spark, tmp_path_factory):
    import polars_readstat_spark as prs

    d = tmp_path_factory.mktemp("farm")
    for i in range(4):
        df = spark.range(i * 100, (i + 1) * 100).selectExpr(
            "cast(id as int) as id", "cast(id * 1.5 as double) as v"
        )
        prs.write_readstat(df, str(d / f"part{i}.dta"))
    return str(d)


def test_directory_read_unions_all(spark, dta_farm):
    df = spark.read.format("readstat").load(dta_farm)
    assert df.count() == 400
    ids = sorted(r.id for r in df.collect())
    assert ids == list(range(400))


def test_glob_read(spark, dta_farm):
    df = spark.read.format("readstat").load(
        os.path.join(dta_farm, "part[01].dta")
    )
    assert df.count() == 200


def test_path_column(spark, dta_farm):
    df = (
        spark.read.format("readstat")
        .option("path_column", "src_file")
        .load(dta_farm)
    )
    names = {os.path.basename(r.src_file) for r in df.select("src_file").distinct().collect()}
    assert names == {f"part{i}.dta" for i in range(4)}
    # works single-file too
    one = (
        spark.read.format("readstat")
        .option("path_column", "src_file")
        .load(os.path.join(dta_farm, "part0.dta"))
    )
    assert one.select("src_file").distinct().count() == 1


def test_multifile_partition_fanout(spark, dta_farm):
    df = (
        spark.read.format("readstat")
        .option("rows_per_partition", "40")
        .load(dta_farm)
    )
    # 4 files × ceil(100/40)=3 partitions
    assert df.rdd.getNumPartitions() == 12
    assert df.count() == 400


def test_multifile_rejects_per_file_slicing(spark, dta_farm):
    with pytest.raises(Exception, match="per-file"):
        spark.read.format("readstat").option("n_rows", "10").load(
            dta_farm
        ).collect()


def test_multifile_aggregate_pushes_through(spark, dta_farm):
    from pyspark.sql import functions as F

    df = spark.read.format("readstat").load(dta_farm)
    got = df.agg(F.sum("id").alias("s"), F.avg("v").alias("a")).collect()[0]
    assert got.s == sum(range(400))
    assert abs(got.a - sum(i * 1.5 for i in range(400)) / 400) < 1e-9


def test_multifile_planning_parallel_500_files(spark, dta_farm, tmp_path):
    """Driver-side planning parses file dictionaries with a bounded
    thread pool: 500 copies of one file must plan far faster than 500
    serial parses would (each parse is an open+header read; the wall
    bound below fails if planning regresses to serial I/O at, say,
    >4 ms/file), and the union must still read every row exactly."""
    import shutil
    import time

    src = os.path.join(dta_farm, "part0.dta")
    d = tmp_path / "farm500"
    d.mkdir()
    for i in range(500):
        shutil.copy(src, d / f"f{i:03d}.dta")

    t0 = time.time()
    df = spark.read.format("readstat").load(str(d))
    planned = time.time() - t0
    assert planned < 2.0, f"planning 500 files took {planned:.2f}s"
    assert df.count() == 500 * 100


def test_multifile_divides_core_budget(spark, dta_farm):
    """N files each planning a per-core fan-out would yield N x cores
    partitions; the multi-file reader hands each file cores/N instead
    (driver-side check: reader() resolves the live SparkContext)."""
    from pyspark.sql.types import StructType

    from polars_readstat_spark.sources.datasource import (
        MultiFileReader,
        ReadstatDataSource,
    )

    ds = ReadstatDataSource(
        {"path": dta_farm, "target_parallelism": "32"}
    )
    rd = ds.reader(ds.schema())
    while not isinstance(rd, MultiFileReader):  # unwrap filter layer
        rd = rd.inner
    per_file = {r.target_parallelism for r in rd.readers}
    assert per_file == {8}  # 32 cores / 4 files


def test_mixed_format_readahead_single_layer(spark, tmp_path):
    """ADVICE r09: a mixed-format glob read with io_readahead set. The
    only readahead layer is each reader's own fetch/decode seam (dta
    pipelines its row ranges; por reads its file in one request), so
    the union reads both files with no outer batch queue."""
    import polars_readstat_spark as prs

    d = tmp_path / "mixed"
    d.mkdir()
    # uppercase names: POR stores variable names uppercased, and a
    # mixed union needs the schemas to agree
    # all-double: POR stores every numeric as double, and the union
    # takes the first file's schema
    df = spark.range(50).selectExpr(
        "cast(id as double) as ID", "cast(id * 1.5 as double) as V"
    )
    prs.write_readstat(df, str(d / "a.dta"))
    prs.write_readstat(df, str(d / "b.por"))
    # directories reject mixed formats; a glob is how a mixed union
    # legitimately reaches the planner
    pattern = str(d / "[ab].*")
    out = (
        spark.read.format("readstat")
        .option("io_readahead", "2")
        .load(pattern)
    )
    assert out.count() == 100


def test_small_file_coalescing_packs_partitions(spark, tmp_path):
    """A directory of tiny files packs into ~target-parallelism tasks
    (1 MB open cost, 48 MB bins) instead of one task per file — the
    10k-small-extracts shape where the Python-DS per-task floor would
    otherwise dominate. Values must be identical to the unpacked scan,
    and explicit partition geometry (rows_per_partition) or
    coalesce_files=0 opts out."""
    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.datasource import (
        MultiFileReader,
        MultiPartGroup,
        ReadstatDataSource,
    )

    d = tmp_path / "tiny60"
    d.mkdir()
    df0 = spark.range(10).selectExpr(
        "cast(id as double) as a", "cast(id * 2 as double) as b"
    )
    prs.write_readstat(df0, str(d / "t00.dta"))
    import shutil

    for i in range(1, 60):
        shutil.copy(str(d / "t00.dta"), str(d / f"t{i:02d}.dta"))

    ds = ReadstatDataSource({"path": str(d), "target_parallelism": "8"})
    rd = ds.reader(ds.schema())
    while not isinstance(rd, MultiFileReader):
        rd = rd.inner
    parts = rd.partitions()
    assert 8 <= len(parts) < 60  # packed, never below the core floor
    assert any(isinstance(p, MultiPartGroup) for p in parts)
    # units preserved exactly once each
    n_units = sum(
        len(p.units) if isinstance(p, MultiPartGroup) else 1
        for p in parts
    )
    assert n_units == 60

    packed = spark.read.format("readstat").load(str(d))
    plain = (
        spark.read.format("readstat")
        .option("coalesce_files", "0")
        .load(str(d))
    )
    assert plain.rdd.getNumPartitions() == 60
    assert packed.rdd.getNumPartitions() < 60
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) == 600
    # explicit geometry wins
    pinned = (
        spark.read.format("readstat")
        .option("rows_per_partition", "5")
        .load(str(d))
    )
    assert pinned.rdd.getNumPartitions() == 120  # 60 files x 2


def test_coalesced_groups_keep_path_column(spark, tmp_path):
    """path_column attribution is per-unit inside a packed task —
    every file keeps its own path even when several files share one
    partition."""
    import os as _os

    import polars_readstat_spark as prs

    d = tmp_path / "tiny20"
    d.mkdir()
    df0 = spark.range(5).selectExpr("cast(id as double) as a")
    prs.write_readstat(df0, str(d / "p00.dta"))
    import shutil

    for i in range(1, 20):
        shutil.copy(str(d / "p00.dta"), str(d / f"p{i:02d}.dta"))
    out = (
        spark.read.format("readstat")
        .option("path_column", "src")
        .option("target_parallelism", "4")
        .load(str(d))
    )
    assert out.rdd.getNumPartitions() < 20  # packed
    names = {
        _os.path.basename(r.src)
        for r in out.select("src").distinct().collect()
    }
    assert names == {f"p{i:02d}.dta" for i in range(20)}
    assert out.count() == 100


def test_packed_group_prefetch_overlaps_file_latency(spark, tmp_path):
    """io_readahead composed with small-file packing: a packed task
    must read its units CONCURRENTLY on a high-latency store instead
    of paying each file's first-byte serially — and the rows must be
    identical and in unit order. The store is a simlat60:// URI: each
    file's read is two range requests (open + one row-range seek), so
    20 files cost 2.4 s serial against ~0.6 s with depth-4 prefetch.
    A simlat URI defaults io_readahead to 2, so the serial arm pins
    io_readahead=0."""
    import shutil
    import time

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.datasource import (
        MultiFileReader,
        MultiPartGroup,
        ReadstatDataSource,
    )

    d = tmp_path / "lat20"
    d.mkdir()
    df0 = spark.range(50).selectExpr("cast(id as double) as a")
    prs.write_readstat(df0, str(d / "f00.dta"))
    for i in range(1, 20):
        shutil.copy(str(d / "f00.dta"), str(d / f"f{i:02d}.dta"))

    def build(**opts):
        o = {"path": "simlat60://" + str(d), "target_parallelism": "2"}
        o.update({k: str(v) for k, v in opts.items()})
        ds = ReadstatDataSource(o)
        rd = ds.reader(ds.schema())
        while not isinstance(rd, MultiFileReader):
            rd = rd.inner
        return rd

    def run(rd):
        t0 = time.perf_counter()
        rows = [
            b.num_rows for p in rd.partitions() for b in rd.read(p)
        ]
        return time.perf_counter() - t0, sum(rows)

    rd_s = build(io_readahead=0)
    assert any(
        isinstance(p, MultiPartGroup) for p in rd_s.partitions()
    )
    t_serial, n_s = run(rd_s)
    t_pre, n_p = run(build(io_readahead=4))
    assert n_s == n_p == 1000
    # 20 x 60 ms serial floor vs 4-way overlap: generous 1.5x margin
    # for loaded CI hosts (measured 3.2x idle)
    assert t_pre < t_serial / 1.5, (t_serial, t_pre)
    # exact value/order parity through the public API
    plain = spark.read.format("readstat").load(str(d)).collect()
    pre = (
        spark.read.format("readstat")
        .option("io_readahead", "4")
        .load(str(d))
        .collect()
    )
    assert plain == pre


def test_union_packed_parity(spark, tmp_path):
    """union_by_name composed with small-file packing (VERDICT r10
    next#7): three schema variants across 90 tiny files — the packed
    plan (~cores tasks) must produce value-identical results to the
    unpacked one (one task per file), including widened numerics and
    null-filled absent columns, with SchemaAlignReader running inside
    packed groups executor-side."""
    import pandas as pd

    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path / "udrift")
    os.makedirs(d)
    for i in range(90):
        k = i % 3
        lo = i * 10
        if k == 0:
            pdf = pd.DataFrame(
                {"id": range(lo, lo + 10), "a": [float(x) for x in range(10)]}
            )
        elif k == 1:
            pdf = pd.DataFrame(
                {"id": range(lo, lo + 10), "b": [f"s{x}" for x in range(10)]}
            )
        else:
            pdf = pd.DataFrame(
                {
                    "id": range(lo, lo + 10),
                    "a": pd.array(range(10), dtype="int16"),
                    "c": [x * 0.5 for x in range(10)],
                }
            )
        pdf.to_stata(
            os.path.join(d, f"u{i:03d}.dta"), write_index=False, version=118
        )

    rd = lambda **o: (  # noqa: E731
        spark.read.format("readstat")
        .options(**{k: str(v) for k, v in o.items()})
        .load(d)
    )
    packed = rd(union_by_name=True, target_parallelism=8)
    unpacked = rd(union_by_name=True, target_parallelism=8, coalesce_files=0)
    assert unpacked.rdd.getNumPartitions() == 90
    assert packed.rdd.getNumPartitions() <= 12  # packed into ~cores bins
    assert packed.schema == unpacked.schema
    # a (double ∪ int16) widened to double; b, c null-filled
    types = {f.name: f.dataType.simpleString() for f in packed.schema.fields}
    assert types["a"] == "double" and "b" in types and "c" in types
    pc_ = sorted(packed.collect(), key=lambda r: (r.id, str(r.a), str(r.b)))
    uc = sorted(unpacked.collect(), key=lambda r: (r.id, str(r.a), str(r.b)))
    assert pc_ == uc
    assert len(pc_) == 900
