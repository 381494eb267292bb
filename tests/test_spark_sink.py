"""df.write.format("readstat") — the Spark-native write surface
(writers/spark_sink.py): one part-file per partition, staged names,
driver-side atomic commit, read back by the same data source."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


@pytest.fixture(scope="module")
def src(spark):
    return spark.range(2000).repartition(3).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.date_add(
            F.lit(datetime.date(2020, 1, 2)), F.col("id").cast("int") % 300
        ).alias("d"),
        F.timestamp_seconds(F.col("id") * 977).alias("ts"),
    )


@pytest.mark.parametrize("fmt", ["sas7bdat", "sav", "xpt", "dta"])
def test_write_read_roundtrip(spark, src, tmp_path, fmt):
    path = str(tmp_path / f"out_{fmt}")
    src.write.format("readstat").option("format", fmt).mode(
        "overwrite"
    ).save(path)
    parts = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
    assert len(parts) == 3
    assert all(f.endswith(f".{fmt}") for f in parts)

    back = spark.read.format("readstat").load(path)
    assert back.count() == 2000
    xcol = "x" if fmt != "xpt" else "X"
    assert back.agg(F.sum(xcol)).collect()[0][0] == sum(range(2000))


def test_values_exact_incl_dates(spark, src, tmp_path):
    path = str(tmp_path / "vals")
    src.write.format("readstat").option("format", "sas7bdat").mode("append").save(path)
    back = spark.read.format("readstat").load(path)
    want = {r["x"]: r for r in src.collect()}
    got = {r["x"]: r for r in back.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["name"] == w["name"]
        assert g["d"] == w["d"]
        assert g["ts"] == w["ts"]


def test_overwrite_replaces_previous_parts(spark, src, tmp_path):
    path = str(tmp_path / "ovw")
    src.write.format("readstat").option("format", "sav").mode("append").save(path)
    first = {f for f in os.listdir(path) if not f.startswith((".", "_"))}
    small = src.limit(10).repartition(1)
    small.write.format("readstat").option("format", "sav").mode(
        "overwrite"
    ).save(path)
    second = {f for f in os.listdir(path) if not f.startswith((".", "_"))}
    assert first.isdisjoint(second)
    assert spark.read.format("readstat").load(path).count() == 10


def test_no_staged_files_after_commit(spark, src, tmp_path):
    path = str(tmp_path / "clean")
    src.write.format("readstat").option("format", "xpt").mode("append").save(path)
    assert not [f for f in os.listdir(path) if f.startswith(".staged")]


def test_dta_sink_schema_deterministic_types(spark, tmp_path):
    """dta parts use the schema-only sentinel-safe plan: every
    partition maps int→double/smallint→long identically regardless of
    its values, so parts union; pandas.read_stata decodes each."""
    import pandas as pd

    from pyspark.sql import Row

    rows = [Row(i=i, s=i * 3, big=i * 10**9, tag=f"t{i}") for i in range(40)]
    df = spark.createDataFrame(
        rows, "i int, s smallint, big bigint, tag string"
    ).repartition(2)
    path = str(tmp_path / "dta_parts")
    df.write.format("readstat").option("format", "dta").mode(
        "append"
    ).save(path)
    back = spark.read.format("readstat").load(path)
    assert back.count() == 40
    got = {r["tag"]: r for r in back.collect()}
    assert got["t39"]["big"] == 39 * 10**9
    for f in os.listdir(path):
        if not f.startswith((".", "_")):
            assert len(pd.read_stata(os.path.join(path, f))) > 0


def test_dta_sink_bigint_guard(spark, tmp_path):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(v=(1 << 60))], "v bigint"
    )
    with pytest.raises(Exception, match="2\\^53"):
        df.write.format("readstat").option("format", "dta").mode(
            "append"
        ).save(str(tmp_path / "guard"))


def test_missing_format_option_is_a_clear_error(spark, src, tmp_path):
    with pytest.raises(Exception, match="option"):
        src.write.format("readstat").mode("append").save(
            str(tmp_path / "nofmt")
        )


def test_por_sink_is_refused_before_any_job(spark, tmp_path):
    """por is a single-file format: the sink refuses it while planning,
    and no job starts. The frame has no shuffle: adaptive execution
    runs a shuffle's map stage before it plans the write."""
    df = spark.range(10).select(
        F.col("id").cast("double").alias("x"), F.lit("a").alias("s")
    )
    sc = spark.sparkContext
    sc.setJobGroup("prs-por-sink", "no job may start")
    try:
        with pytest.raises(Exception, match="got 'por'"):
            df.write.format("readstat").option("format", "por").mode(
                "overwrite"
            ).save(str(tmp_path / "por"))
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("prs-por-sink") == []
    assert not os.path.exists(tmp_path / "por")


def test_rle_compress_option(spark, tmp_path):
    df = spark.range(3000).repartition(2).select(
        F.col("id").cast("double").alias("v"),
        F.rpad(F.lit("pad"), 80, " ").alias("pad"),
    )
    path = str(tmp_path / "rle_sink")
    df.write.format("readstat").option("format", "sas7bdat").option(
        "compress", "rle"
    ).mode("append").save(path)
    back = spark.read.format("readstat").load(path)
    assert back.count() == 3000
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(3000))


def test_pandas_reads_sink_output(spark, src, tmp_path):
    """External oracle on the sink path: every part-file is a valid
    sas7bdat per pandas.read_sas."""
    import pandas as pd

    path = str(tmp_path / "pd_check")
    src.write.format("readstat").option("format", "sas7bdat").mode("append").save(path)
    total = 0
    for f in sorted(os.listdir(path)):
        if f.startswith((".", "_")):
            continue
        pdf = pd.read_sas(os.path.join(path, f), encoding="utf-8")
        total += len(pdf)
    assert total == 2000


@pytest.mark.parametrize("fmt", ["sav", "sas7bdat", "dta"])
def test_stream_writer_exports_microbatches(spark, tmp_path, fmt):
    """df.writeStream.format('readstat'): deterministic file-source →
    availableNow → part-b<batch>-p<pid> files, read back batch."""
    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    spark.range(500).select(
        F.col("id").cast("double").alias("v"),
        F.concat(F.lit("g"), F.col("id") % 5).alias("tag"),
    ).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("v double, tag string")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("readstat")
        .option("format", fmt)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    files = [f for f in os.listdir(out) if not f.startswith((".", "_"))]
    assert files and all(
        f.startswith("part-b") and f.endswith(f".{fmt}") for f in files
    )
    back = spark.read.format("readstat").load(out)
    assert back.count() == 500
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(500))


def test_zsav_sink_and_partitioned(spark, src, tmp_path):
    """zsav through both distributed write paths: compressed part
    files, read back by the block-partitioning zsav reader."""
    from polars_readstat_spark.writers.partitioned import (
        write_readstat_partitioned,
    )

    p1 = str(tmp_path / "zsink")
    src.write.format("readstat").option("format", "zsav").mode(
        "overwrite"
    ).save(p1)
    files = [f for f in os.listdir(p1) if not f.startswith((".", "_"))]
    assert files and all(f.endswith(".zsav") for f in files)
    back = spark.read.format("readstat").load(p1)
    assert back.count() == 2000
    assert back.agg(F.sum("x")).collect()[0][0] == sum(range(2000))

    p2 = str(tmp_path / "zpart")
    parts = write_readstat_partitioned(src, p2, ext="zsav")
    assert sum(p["n_rows"] for p in parts) == 2000
    assert all(p["path"].endswith(".zsav") for p in parts)
    back2 = spark.read.format("readstat").load(p2)
    assert back2.count() == 2000
    # compressed parts are smaller than the plain-sav sink output
    sz_z = sum(
        os.path.getsize(os.path.join(p1, f))
        for f in os.listdir(p1) if not f.startswith((".", "_"))
    )
    p3 = str(tmp_path / "plain")
    src.write.format("readstat").option("format", "sav").mode(
        "overwrite"
    ).save(p3)
    sz_s = sum(
        os.path.getsize(os.path.join(p3, f))
        for f in os.listdir(p3) if not f.startswith((".", "_"))
    )
    assert sz_z < sz_s


def test_stream_writer_publishes_manifest(spark, tmp_path):
    """The streaming sink publishes _prs_stats.json at commit
    (round 13): the accumulator already ran over every micro-batch —
    before this its stats were discarded and streamed landing dirs
    needed a separate index_zonemaps pass to get file skipping. The
    manifest must describe the FINAL (renamed) part files, include
    opt-in blooms, and actually prune a point probe."""
    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    spark.range(4000).select(
        (F.col("id") % 512).cast("double").alias("key"),
        F.col("id").cast("double").alias("v"),
    ).repartition(4, "key").write.parquet(src_dir)

    q = (
        spark.readStream.schema("key double, v double")
        .parquet(src_dir)
        .writeStream.format("readstat")
        .option("format", "dta")
        .option("zonemap_bloom_columns", "key")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    import json

    m = json.load(open(os.path.join(out, "_prs_stats.json")))
    parts = sorted(
        f for f in os.listdir(out) if not f.startswith((".", "_"))
    )
    assert sorted(m["files"]) == parts
    for base, e in m["files"].items():
        assert e["size"] == os.path.getsize(os.path.join(out, base))
        assert e["cols"]["key"]["bf"]["d"] == "num"
    # point probe on a value absent everywhere (inside range): the
    # landing dir prunes without any extra indexing pass
    from polars_readstat_spark.operators.scan_explain import explain_scan

    t = explain_scan(None, out, where="key = 41.5")["totals"]
    assert t["pruned_partitions"] == 0 and t["planned_partitions"] > 0
    n = (
        spark.read.format("readstat")
        .option("where", "key = 41.0")
        .load(out)
        .count()
    )
    assert n == 4000 / 512 * 1 or n == len(
        [i for i in range(4000) if i % 512 == 41]
    )


@pytest.mark.parametrize("fmt", ["sav", "xpt", "sas7bdat"])
def test_failed_part_write_leaves_no_file(tmp_path, fmt):
    """A part-file whose frames fail after the first one leaves no
    partial file at its staged path: a failed sink task returns no
    commit message, so ``abort`` could never remove it."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from polars_readstat_spark.writers import PartPlan, plan_write, str_widths
    from polars_readstat_spark.writers.spark_sink import write_partition_file

    schema = StructType(
        [StructField("x", DoubleType()), StructField("s", StringType())]
    )
    _, fields, names, shorts, kinds = plan_write(schema, {"format": fmt})
    plan = PartPlan(
        fmt, fields, names, shorts, kinds,
        str_widths(fmt, fields, kinds, lambda n: 2),
    )
    chunk = pd.DataFrame({"x": [1.0, None], "s": ["a", "bb"]})

    def frames(fail):
        yield chunk
        if fail:
            raise RuntimeError("upstream task failed")
        yield chunk

    ok = tmp_path / f"ok.{fmt}"
    assert write_partition_file(str(ok), plan, frames(False)) == 4
    assert ok.stat().st_size > 0
    bad = tmp_path / f"bad.{fmt}"
    with pytest.raises(RuntimeError, match="upstream task failed"):
        write_partition_file(str(bad), plan, frames(True))
    assert not bad.exists()
