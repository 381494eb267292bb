"""Bounded readahead: ordering, bounding, error relay, and the
io_readahead option end-to-end through the datasource, with the
pipelined scans reading through a simlat1:// URI (the latency seam,
sources/fs.py)."""

from __future__ import annotations

import threading
import time

import pytest

from polars_readstat_spark.sources.readahead import readahead


def test_order_preserved_and_complete():
    items = list(range(57))
    assert list(readahead(iter(items), depth=3)) == items


def test_depth_zero_is_passthrough():
    it = iter([1, 2, 3])
    out = readahead(it, depth=0)
    assert list(out) == [1, 2, 3]


def test_producer_exception_reraises_in_consumer():
    def gen():
        yield 1
        raise ValueError("boom at range 2")

    out = readahead(gen(), depth=2)
    assert next(out) == 1
    with pytest.raises(ValueError, match="boom at range 2"):
        list(out)


def test_producer_lead_is_bounded():
    """The producer may run at most depth items ahead of the consumer
    plus the one item in its hand — never an unbounded buffer."""
    produced = []
    consumed = 0
    max_lead = 0

    def gen():
        for i in range(40):
            produced.append(i)
            yield i

    lock = threading.Lock()
    for item in readahead(gen(), depth=2):
        with lock:
            consumed += 1
            max_lead = max(max_lead, len(produced) - consumed)
        time.sleep(0.002)  # slow consumer lets the producer run ahead
    assert consumed == 40
    # depth(2 queued) + 1 in the producer's hand + 1 handed to us
    assert max_lead <= 4, max_lead


def test_abandoned_consumer_unblocks_producer():
    started = threading.Event()

    def gen():
        for i in range(1000):
            started.set()
            yield i

    out = readahead(gen(), depth=1)
    assert next(out) == 0
    assert started.wait(2.0)
    out.close()
    # the pump thread must exit once stop is set (0.1 s put timeout)
    deadline = time.time() + 3.0
    while time.time() < deadline:
        alive = [
            t
            for t in threading.enumerate()
            if t.name == "prs-readahead" and t.is_alive()
        ]
        if not alive:
            break
        time.sleep(0.05)
    assert not alive


def test_producer_error_reaches_busy_consumer():
    """An inner-reader error must arrive even when the queue stays full
    for >1 s while the consumer is busy — a dropped terminator would
    turn the failure into an indefinite consumer hang."""

    def gen():
        yield 1
        yield 2
        raise ValueError("late boom")

    out = readahead(gen(), depth=1)
    assert next(out) == 1
    time.sleep(1.3)  # producer fills the queue and sits on the error
    with pytest.raises(ValueError, match="late boom"):
        list(out)


def test_abandon_after_exhaustion_does_not_leak_thread():
    """Consumer abandons while the producer is parked trying to enqueue
    the completion sentinel on a full queue: the stop-checked put must
    let the thread exit."""

    def gen():
        yield from range(3)  # exhausts immediately; sentinel is next

    out = readahead(gen(), depth=1)
    assert next(out) == 0
    time.sleep(0.3)  # queue fills; producer now waits to relay sentinel
    out.close()
    deadline = time.time() + 3.0
    alive = []
    while time.time() < deadline:
        alive = [
            t
            for t in threading.enumerate()
            if t.name == "prs-readahead" and t.is_alive()
        ]
        if not alive:
            break
        time.sleep(0.05)
    assert not alive


def test_sas7bdat_internal_pipeline_identical(spark, tmp_path):
    """SasReader pipelines 4 MiB range fetches ahead of decode when
    io_readahead is set; the page regrouping must be byte-identical —
    including on an RLE-compressed file whose page groups now span
    fetched ranges. The pipelined scan reads through the latency
    seam, as a remote scan would."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.sas7bdat import write_sas7bdat

    prs.register(spark)
    df = spark.range(30000).select(
        F.col("id").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
        F.concat(F.lit("s"), (F.col("id") % 40).cast("string")).alias("s"),
    )
    for compress, tag in ((None, "plain"), ("rle", "rle")):
        path = str(tmp_path / f"ra_{tag}.sas7bdat")
        kw = {"compress": compress} if compress else {}
        write_sas7bdat(df, path, **kw)
        plain = spark.read.format("readstat").load(path)
        ra = (
            spark.read.format("readstat")
            .option("io_readahead", "2")
            .load("simlat1://" + path)
        )
        a = sorted(tuple(r) for r in plain.collect())
        b = sorted(tuple(r) for r in ra.collect())
        assert a == b, tag


def test_sav_xpt_internal_pipeline_identical(spark, tmp_path):
    """The SavReader (uncompressed row loop AND the compressed
    bytecode chunk loop) and XptReader pipelines, reading through the
    latency seam, must be byte-identical to the inline scans."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.sav import write_sav
    from polars_readstat_spark.writers.xpt import write_xpt

    prs.register(spark)
    df = spark.range(20000).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") % 13).cast("double").alias("b"),
    )
    cases = []
    p = str(tmp_path / "ra.sav")
    write_sav(df, p)
    cases.append(("sav", p))
    pc = str(tmp_path / "ra_bc.sav")
    write_sav(df, pc, compress=True)
    cases.append(("sav_bytecode", pc))
    px = str(tmp_path / "ra.xpt")
    write_xpt(df, px)
    cases.append(("xpt", px))
    for tag, path in cases:
        plain = spark.read.format("readstat").load(path)
        ra = (
            spark.read.format("readstat")
            .option("io_readahead", "2")
            .load("simlat1://" + path)
        )
        a = sorted(tuple(r) for r in plain.collect())
        b = sorted(tuple(r) for r in ra.collect())
        assert a == b, tag


def test_io_readahead_option_end_to_end(spark, tmp_path):
    """A scan with io_readahead=2 returns byte-identical results and
    the same partition plan as the inline scan."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.dta import write_dta

    prs.register(spark)

    path = str(tmp_path / "ra.dta")
    df = spark.range(5000).select(
        F.col("id").alias("a"), (F.col("id") * 0.5).alias("b")
    )
    write_dta(df, path)
    plain = spark.read.format("readstat").load(path)
    ra = (
        spark.read.format("readstat")
        .option("io_readahead", "2")
        .load(path)
    )
    assert ra.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in ra.collect())
    assert a == b
