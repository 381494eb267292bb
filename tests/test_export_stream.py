"""The single-file export stream (writers.packed_stream): every writer
reaches exactly one module-level transport per export, a stream that
disagrees with the header's row count raises and leaves no file, and
the tagged-missing split rejects bad columns the same way for xpt,
dta and sas7bdat."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

import polars_readstat_spark.writers as w

# the names perfbench's DriverTap wraps (perfbench/observe.py)
TRANSPORTS = ("iter_ordered_packed", "iter_packed_chunks", "iter_arrow_chunks")


def _frame(spark, n=300, parts=3):
    return spark.range(n, numPartitions=parts).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 1.25)
        .alias("num"),
        F.concat(F.lit("s"), F.col("id")).alias("str"),
        F.when(F.col("id") % 5 == 1, F.lit(".a")).alias("t"),
    )


def _write(df, path, fmt):
    import polars_readstat_spark as prs

    tagged = fmt in ("xpt", "dta", "sas7bdat")
    kw = {"tagged_missing": {"num": "t"}} if tagged else {}
    prs.write_readstat(df, path, **kw)


@pytest.fixture
def calls(monkeypatch):
    """Counts calls to each module-level transport and checks the
    arguments the tap reads: (df, pack_fn, chunk_rows, ...)."""
    seen = []
    for name in TRANSPORTS:
        orig = getattr(w, name)

        def counted(df, *args, _name=name, _orig=orig, **kwargs):
            seen.append((_name, args, kwargs))
            return _orig(df, *args, **kwargs)

        monkeypatch.setattr(w, name, counted)  # raises if the name is gone
    return seen


FORMATS = ("sav", "zsav", "xpt", "por", "dta", "sas7bdat")


# local[8]: an input with a partition per core packs in its own tasks;
# fewer partitions fan out (iter_ordered_packed) at or above the
# format's row floor — patched to the frame's 300 rows where
# ``at_floor``; sas7bdat counts no rows and has no floor
@pytest.mark.parametrize(
    "fmt,parts,at_floor",
    [pytest.param(f, 3, False, id=f"{f}-3") for f in FORMATS[:-1]]
    + [pytest.param("sas7bdat", p, False, id=f"sas7bdat-{p}") for p in (8, 1)]
    + [
        pytest.param(f, p, True, id=f"{f}-{p}-at-floor")
        for f in FORMATS[:-1]
        for p in (3, 8)
    ],
)
def test_every_writer_reaches_one_tapped_transport(
    spark, tmp_path, monkeypatch, calls, fmt, parts, at_floor
):
    floor, *chunk_rows = w._TRANSPORT[fmt]
    if at_floor:
        floor = 300
        monkeypatch.setitem(w._TRANSPORT, fmt, (floor, *chunk_rows))
    _write(_frame(spark, parts=parts), str(tmp_path / f"o.{fmt}"), fmt)
    assert len(calls) == 1, calls
    name, args, kwargs = calls[0]
    assert callable(args[0]) and isinstance(args[1], int)
    assert "modules" in kwargs
    assert ("cast" in kwargs) == (name == "iter_ordered_packed")
    fans_out = parts < 8 and 300 >= floor
    assert name == ("iter_ordered_packed" if fans_out else "iter_packed_chunks")


def _strl_frame(spark, n=300, parts=3):
    """A frame whose ``long`` strings pass 2045 bytes: dta writes
    them as strL."""
    return spark.range(n, numPartitions=parts).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.repeat(F.lit("q"), 2100), F.col("id")).alias("long"),
    )


def test_dta_strl_reaches_one_packed_transport(spark, tmp_path, calls):
    import polars_readstat_spark as prs

    prs.write_readstat(_strl_frame(spark, n=20), str(tmp_path / "strl.dta"))
    assert [c[0] for c in calls] in (
        ["iter_packed_chunks"], ["iter_ordered_packed"]
    )


@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "por", "dta", "dta_strl"])
def test_stream_short_of_header_count_raises_and_leaves_no_file(
    spark, tmp_path, monkeypatch, fmt
):
    """A stream that delivers fewer rows than the pre-pass counted (as
    a nondeterministic upstream can) must not leave a file whose
    header disagrees with its data."""
    orig = w.iter_packed_chunks

    def drop_last(df, *args, **kwargs):
        items = list(orig(df, *args, **kwargs))
        yield from items[:-1]

    monkeypatch.setattr(w, "iter_packed_chunks", drop_last)
    frame = _strl_frame(spark) if fmt == "dta_strl" else _frame(spark)
    path = str(tmp_path / f"short.{fmt.split('_')[0]}")
    with pytest.raises(RuntimeError, match=r"300 rows.* delivered 200"):
        _write(frame, path, fmt)
    assert not os.path.exists(path)


def test_remote_stream_failure_publishes_nothing(spark, tmp_path, monkeypatch):
    orig = w.iter_packed_chunks

    def drop_last(df, *args, **kwargs):
        items = list(orig(df, *args, **kwargs))
        yield from items[:-1]

    monkeypatch.setattr(w, "iter_packed_chunks", drop_last)
    dest = str(tmp_path / "remote.sav")
    with pytest.raises(RuntimeError, match="delivered 200"):
        _write(_frame(spark), "simlat0://" + dest, "sav")
    assert not os.path.exists(dest)


def _slow_after_first(pdf) -> bytes:
    if int(pdf["id"].iloc[0]) > 0:
        time.sleep(30)
    return b"x"


def test_closing_the_stream_early_leaves_no_job_running(spark):
    """The drain keeps a job per core in flight; closing the stream
    (as a failed sink does) cancels them rather than letting them run
    on."""
    tracker = spark.sparkContext.statusTracker()
    it = w.iter_packed_chunks(spark.range(0, 16, 1, 16), _slow_after_first, 8)
    assert next(it) == (b"x", 1)
    t0 = time.time()
    it.close()
    while tracker.getActiveJobsIds() and time.time() < t0 + 30:
        time.sleep(0.2)
    assert tracker.getActiveJobsIds() == []
    assert time.time() - t0 < 25  # well short of the 30 s pack


def test_drain_jobs_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("prs-drain-test", "a caller's job group")
    try:
        got = list(w.iter_packed_chunks(spark.range(0, 40, 1, 4), lambda pdf: b"", 8))
    finally:
        sc._jsc.clearJobGroup()
    assert sum(n for _, n in got) == 40
    # one single-partition job per input partition, all in the group
    assert len(sc.statusTracker().getJobIdsForGroup("prs-drain-test")) == 4


def _timed_pack(pdf) -> bytes:
    import struct

    t0 = time.time()
    time.sleep(0.4)
    return struct.pack("<qdd", int(pdf["id"].iloc[0]), t0, time.time())


def test_drain_window_caps_jobs_in_flight(spark, monkeypatch):
    """The driver holds at most ``_DRAIN_WINDOW`` drained partitions:
    no more than that many pack jobs ever overlap, whatever the core
    count, and the stream still arrives in partition order."""
    import struct

    monkeypatch.setattr(w, "_DRAIN_WINDOW", 2)
    got = list(w.iter_packed_chunks(spark.range(0, 6, 1, 6), _timed_pack, 8))
    packs = [struct.unpack("<qdd", payload) for payload, _ in got]
    assert [i for i, _, _ in packs] == list(range(6))
    # jobs running at each job's start
    running = max(sum(s <= t0 < e for _, s, e in packs) for _, t0, _ in packs)
    assert 1 <= running <= 2


# sas7bdat: tests/test_informative_sas_xpt.py::test_tagged_missing_validation
@pytest.mark.parametrize("fmt", ["xpt", "dta"])
@pytest.mark.parametrize(
    "tagged,msg",
    [
        ({"str": "t"}, "not a numeric data column"),
        ({"t": "t"}, "not a numeric data column"),
        ({"missing": "t"}, "not a numeric data column"),
        ({"num": "nope"}, "indicator column 'nope'"),
    ],
)
def test_tagged_missing_validation_xpt_dta(spark, tmp_path, fmt, tagged, msg):
    import polars_readstat_spark as prs

    path = str(tmp_path / f"bad.{fmt}")
    with pytest.raises(ValueError, match=msg):
        prs.write_readstat(_frame(spark, n=10), path, tagged_missing=tagged)
    assert not os.path.exists(path)


def test_failed_open_keeps_existing_file(tmp_path, monkeypatch):
    """An open that fails created nothing: the cleanup must not remove
    the file that was already at the path."""
    from polars_readstat_spark.sources import fs

    dest = tmp_path / "keep.sav"
    dest.write_bytes(b"previous")

    def refuse(path):
        raise PermissionError(path)

    monkeypatch.setattr(fs, "fs_open_output", refuse)
    with pytest.raises(PermissionError):
        with w.export_output(str(dest)):
            pass
    assert dest.read_bytes() == b"previous"


@pytest.mark.skipif(
    hasattr(os, "geteuid") and os.geteuid() == 0,
    reason="root opens a read-only file for writing",
)
def test_read_only_target_survives_export(spark, tmp_path):
    dest = tmp_path / "ro.sav"
    dest.write_bytes(b"previous")
    dest.chmod(0o444)
    with pytest.raises(PermissionError):
        _write(_frame(spark, n=10), str(dest), "sav")
    assert dest.read_bytes() == b"previous"
