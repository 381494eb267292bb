"""The single-file export stream (writers.packed_stream): every writer
reaches exactly one module-level transport per export, a stream that
disagrees with the header's row count raises and leaves no file, and
the tagged-missing split rejects bad columns the same way for xpt,
dta and sas7bdat."""

from __future__ import annotations

import os

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


@pytest.mark.parametrize(
    "fmt,parts",
    [
        ("sav", 3), ("zsav", 3), ("xpt", 3), ("por", 3), ("dta", 3),
        # local[8]: 8 input partitions is the narrow path, 1 the ordered
        ("sas7bdat", 8), ("sas7bdat", 1),
    ],
)
def test_every_writer_reaches_one_tapped_transport(
    spark, tmp_path, calls, fmt, parts
):
    _write(_frame(spark, parts=parts), str(tmp_path / f"o.{fmt}"), fmt)
    assert len(calls) == 1, calls
    name, args, kwargs = calls[0]
    assert name in ("iter_ordered_packed", "iter_packed_chunks")
    assert callable(args[0]) and isinstance(args[1], int)
    assert "modules" in kwargs
    assert ("cast" in kwargs) == (name == "iter_ordered_packed")
    if fmt == "sas7bdat":
        want = "iter_packed_chunks" if parts >= 8 else "iter_ordered_packed"
        assert name == want


def test_dta_strl_reaches_arrow_transport(spark, tmp_path, calls):
    df = spark.range(20).select(
        F.col("id").cast("double").alias("x"),
        F.repeat(F.lit("q"), 2100).alias("long"),
    )
    import polars_readstat_spark as prs

    prs.write_readstat(df, str(tmp_path / "strl.dta"))
    assert [c[0] for c in calls] == ["iter_arrow_chunks"]


@pytest.mark.parametrize("fmt", ["sav", "zsav", "xpt", "por", "dta"])
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
    path = str(tmp_path / f"short.{fmt}")
    with pytest.raises(RuntimeError, match=r"300 rows.* delivered 200"):
        _write(_frame(spark), path, fmt)
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
