"""Per-stripe (intra-file) zone maps — round 13.

The sink records per-row-chunk column stats (stripe i covers OUTPUT
rows [i*R, (i+1)*R) in file row order, the exact geometry the
readers' row-range partitions address), and the filter frontends
drop or TRIM row spans inside kept files when every overlapping
stripe refutes an accepted predicate. Same soundness regime as the
r12 file-level maps: stats describe the reader's output domain,
poisoning is per-stripe, and no span is dropped or trimmed without
size+mtime freshness validation — stale stripes cost the skip,
never rows."""

from __future__ import annotations

import json
import os

import pytest


def _acc(names=("v",), kinds=("num",), fmt="dta", stripe_rows=10):
    from polars_readstat_spark.writers.spark_sink import ZoneMapStats

    return ZoneMapStats(list(names), list(kinds), fmt, stripe_rows=stripe_rows)


def _batch(vals, name="v"):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.float64())], names=[name]
    )


# ----------------------------------------------------------- accumulator

def test_stripe_geometry_across_batches():
    """Stripe i covers rows [i*R, (i+1)*R) regardless of how batch
    boundaries fall."""
    acc = _acc(stripe_rows=10)
    acc.add(_batch([float(i) for i in range(7)]))        # rows 0-6
    acc.add(_batch([float(i) for i in range(7, 25)]))    # rows 7-24
    assert len(acc.stripes) == 3
    mins = [s.stats["v"][0] for s in acc.stripes]
    maxs = [s.stats["v"][1] for s in acc.stripes]
    assert mins == [0.0, 10.0, 20.0]
    assert maxs == [9.0, 19.0, 24.0]
    # file-level stats unaffected
    assert acc.stats["v"][:2] == [0.0, 24.0]


def test_stripe_coarsening_preserves_invariant():
    acc = _acc(stripe_rows=1)
    acc.MAX_STRIPES = 4
    acc.add(_batch([float(i) for i in range(16)]))
    # 16 rows at R=1 coarsens 16→8→4 stripes, R=1→2→4
    assert len(acc.stripes) == 4
    assert acc.stripe_rows == 4
    for i, s in enumerate(acc.stripes):
        assert s.stats["v"][0] == float(i * 4)
        assert s.stats["v"][1] == float(i * 4 + 3)
        assert s.stats["v"][3] == 4
    # continue adding after a coarsen: row accounting continues on the
    # doubled R; exceeding the cap again re-coarsens (R=4→8, 5→3
    # stripes) and the new rows land in the stripe covering [16, 24)
    acc.add(_batch([100.0, 101.0]))
    assert len(acc.stripes) == 3
    assert acc.stripe_rows == 8
    assert acc.stripes[0].stats["v"][:2] == [0.0, 7.0]
    assert acc.stripes[1].stats["v"][:2] == [8.0, 15.0]
    assert acc.stripes[2].stats["v"][:2] == [100.0, 101.0]


def test_stripe_poison_is_per_stripe():
    """A poisoning value makes ITS stripe unpublishable for that
    column; sibling stripes still publish (and the file-level entry is
    poisoned)."""
    acc = _acc(stripe_rows=2)
    acc.add(_batch([1.0, 2.0, 9e307, 4.0, 5.0, 6.0]))
    from polars_readstat_spark.writers.spark_sink import _publishable_cols

    pubs = [_publishable_cols(s.stats) for s in acc.stripes]
    assert "v" in pubs[0] and "v" in pubs[2]
    assert "v" not in pubs[1]  # sentinel-range value poisons stripe 1
    assert "v" not in _publishable_cols(acc.stats)  # file-level too


def test_merge_col_algebra():
    from polars_readstat_spark.writers.spark_sink import _merge_col

    assert _merge_col([1, 5, 4, 5, False], [0, 9, 3, 3, False]) == [
        0, 9, 7, 8, False,
    ]
    # None min/max = no values seen (all-null), not poisoned
    assert _merge_col([None, None, 0, 3, False], [2, 4, 2, 2, False]) == [
        2, 4, 2, 5, False,
    ]
    # poisoning is sticky
    assert _merge_col([1, 5, 4, 5, False], [None, None, 2, 2, True]) == [
        None, None, 6, 7, True,
    ]


def test_single_stripe_part_publishes_no_payload():
    acc = _acc(stripe_rows=100)
    acc.add(_batch([1.0, 2.0]))
    assert acc.stripes_payload() is None  # file-level stats cover it


# ------------------------------------------------------------- refutation

def test_stripes_refute_span_algebra():
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from polars_readstat_spark.sources.filters import _stripes_refute

    entry = {
        "stripes": {
            "rows": 10,
            "cols": [
                {"v": {"min": 0, "max": 9, "nn": 10, "n": 10}},
                {"v": {"min": 10, "max": 19, "nn": 10, "n": 10}},
                {"v": {"min": 20, "max": 29, "nn": 10, "n": 10}},
            ],
        }
    }
    eq = [EqualTo(("v",), 25)]
    assert _stripes_refute(entry, (0, 20), eq)          # stripes 0-1
    assert not _stripes_refute(entry, (0, 21), eq)      # touches stripe 2
    assert _stripes_refute(entry, (5, 15), eq)          # partial overlaps
    assert not _stripes_refute(entry, (25, 26), eq)
    # span past recorded stripes can never be proven
    assert not _stripes_refute(entry, (0, 31), [GreaterThan(("v",), 99)])
    # empty span: keep
    assert not _stripes_refute(entry, (5, 5), eq)
    # different filters may refute different stripes — the
    # unsatisfiable conjunction v=5 AND v=25 is dead everywhere, but
    # no single filter refutes every stripe
    two = [EqualTo(("v",), 5), EqualTo(("v",), 25)]
    assert not _stripes_refute(entry, (0, 30), [two[0]])
    assert not _stripes_refute(entry, (0, 30), [two[1]])
    assert _stripes_refute(entry, (0, 30), two)


def test_stripes_refute_malformed_manifest_never_prunes():
    from pyspark.sql.datasource import EqualTo

    from polars_readstat_spark.sources.filters import _stripes_refute

    eq = [EqualTo(("v",), 99)]
    for entry in (
        {},
        {"stripes": None},
        {"stripes": {"rows": 0, "cols": []}},
        {"stripes": {"rows": "x", "cols": []}},
        {"stripes": {"rows": 10, "cols": "nope"}},
        {"stripes": {"rows": 10, "cols": [None]}},
        {"stripes": {"rows": 10}},
    ):
        assert not _stripes_refute(entry, (0, 5), eq)


def test_part_row_span_shapes():
    from polars_readstat_spark.sources.filters import _part_row_span
    from polars_readstat_spark.sources.partplan import RowRange
    from polars_readstat_spark.sources.sas7bdat.reader import SasPageRange

    assert _part_row_span(RowRange(5, 10)) == (5, 15)
    assert _part_row_span(RowRange(0, 3)) == (0, 3)
    # uncompressed sas page range: exact span
    assert _part_row_span(SasPageRange(0, 4, 100, 5, 20)) == (105, 125)
    # compressed plain scan (take=-1): span unknowable → None
    assert _part_row_span(SasPageRange(0, 4, 0, 0, -1)) is None
    assert _part_row_span(object()) is None


# ------------------------------------------------------------ end-to-end

@pytest.fixture(scope="module")
def sorted_dir(spark, tmp_path_factory):
    """One 40k-row dta part, sorted by id, striped every 4096 rows —
    the mid-file-predicate fixture."""
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path_factory.mktemp("stripes") / "out")
    (
        spark.range(40_000)
        .selectExpr("cast(id as long) as id", "cast(id % 13 as double) as v")
        .coalesce(1)
        .sortWithinPartitions("id")
        .write.format("readstat")
        .option("format", "dta")
        .option("zonemap_stripe_rows", "4096")
        .mode("overwrite")
        .save(d)
    )
    return d


def test_sink_publishes_stripes(sorted_dir):
    m = json.load(open(os.path.join(sorted_dir, "_prs_stats.json")))
    (entry,) = m["files"].values()
    st = entry["stripes"]
    assert st["rows"] == 4096
    assert len(st["cols"]) == (40_000 + 4095) // 4096
    for i, cols in enumerate(st["cols"]):
        c = cols["id"]
        assert c["min"] == i * 4096
        assert c["max"] == min(40_000, (i + 1) * 4096) - 1


def _ds_parts(d_or_file, where, **extra):
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    opts = {"path": d_or_file, "target_parallelism": "8"}
    if where:
        opts["where"] = where
    opts.update({k: str(v) for k, v in extra.items()})
    ds = ReadstatDataSource(opts)
    r = ds.reader(ds._schema_uncompressed())
    return r, list(r.partitions())


def _rows(r, parts, col=0):
    out = []
    for p in parts:
        if p is None:
            continue
        for b in r.read(p):
            out.extend(b.column(col).to_pylist())
    return out


def test_mid_file_predicate_reads_fraction(sorted_dir):
    """The intra-file lever: a mid-file equality window over a SINGLE
    large sorted part must plan strictly fewer rows than the full
    file, and still return exactly the matching rows."""
    (part,) = [
        f for f in os.listdir(sorted_dir) if f.endswith(".dta")
    ]
    path = os.path.join(sorted_dir, part)
    r0, full = _ds_parts(path, None)
    planned_full = sum(p.n for p in full)
    r1, pruned = _ds_parts(path, "id >= 20000 AND id < 20100")
    planned = sum(p.n for p in pruned)
    assert planned < planned_full / 4  # reads a small fraction
    got = sorted(_rows(r1, pruned))
    assert got == [float(i) for i in range(20000, 20100)]


def test_trim_is_stripe_aligned_and_exact(sorted_dir):
    (part,) = [f for f in os.listdir(sorted_dir) if f.endswith(".dta")]
    path = os.path.join(sorted_dir, part)
    r, pruned = _ds_parts(path, "id >= 30000")
    for p in pruned:
        assert p.start % 4096 == 0 or p.start == 0  # aligned trims
    got = sorted(_rows(r, pruned))
    assert got == [float(i) for i in range(30000, 40000)]


def test_stale_manifest_disables_stripe_pruning(spark, sorted_dir, tmp_path):
    import shutil

    d = str(tmp_path / "stale")
    shutil.copytree(sorted_dir, d)
    mp = os.path.join(d, "_prs_stats.json")
    m = json.load(open(mp))
    for e in m["files"].values():
        e["size"] += 1
    with open(mp, "w") as f:
        json.dump(m, f)
    (part,) = [f for f in os.listdir(d) if f.endswith(".dta")]
    path = os.path.join(d, part)
    r, parts = _ds_parts(path, "id >= 20000 AND id < 20100")
    # stale: nothing dropped or trimmed at plan time...
    r0, full = _ds_parts(path, None)
    assert sum(p.n for p in parts) == sum(p.n for p in full)
    # ...but the batch filter still returns exactly the right rows
    assert sorted(_rows(r, parts)) == [
        float(i) for i in range(20000, 20100)
    ]


def test_truncated_stripes_keep_uncovered_tail(sorted_dir, tmp_path):
    """A manifest whose stripe list stops early can only prune the
    covered region; spans past it are kept."""
    import shutil

    d = str(tmp_path / "trunc")
    shutil.copytree(sorted_dir, d)
    mp = os.path.join(d, "_prs_stats.json")
    m = json.load(open(mp))
    (entry,) = m["files"].values()
    entry["stripes"]["cols"] = entry["stripes"]["cols"][:3]  # rows < 12288
    with open(mp, "w") as f:
        json.dump(m, f)
    (part,) = [f for f in os.listdir(d) if f.endswith(".dta")]
    path = os.path.join(d, part)
    r, parts = _ds_parts(path, "id >= 20000 AND id < 20100")
    got = sorted(_rows(r, parts))
    assert got == [float(i) for i in range(20000, 20100)]


def test_multifile_group_units_trim(spark, tmp_path):
    """Stripe pruning inside MultiPartGroup units: two sorted parts,
    a predicate matching only the tail of the second."""
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path / "multi")
    (
        spark.range(20_000)
        .selectExpr("cast(id as long) as id")
        .repartitionByRange(2, "id")
        .sortWithinPartitions("id")
        .write.format("readstat")
        .option("format", "dta")
        .option("zonemap_stripe_rows", "1024")
        .mode("overwrite")
        .save(d)
    )
    r, parts = _ds_parts(d, "id >= 19000")
    got = sorted(_rows(r, parts, col=0))
    assert got == [float(i) for i in range(19000, 20000)]
    r0, full = _ds_parts(d, None)

    def planned(ps):
        tot = 0
        for p in ps:
            units = getattr(p, "units", [p])
            for u in units:
                inner = getattr(u, "inner", u)
                tot += getattr(inner, "n", 0)
        return tot

    assert planned(parts) < planned(full) / 4


def test_end_to_end_dataframe_matches_unfiltered(spark, sorted_dir):
    """Full public-API equivalence: where-option scan over the striped
    file equals the unfiltered scan filtered by Catalyst."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    prs.register(spark)
    a = (
        spark.read.format("readstat")
        .option("where", "id >= 12345 AND id < 23456")
        .load(sorted_dir)
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("id").cast("long")).alias("s"),
        )
        .collect()[0]
    )
    b = (
        spark.read.format("readstat")
        .load(sorted_dir)
        .filter((F.col("id") >= 12345) & (F.col("id") < 23456))
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("id").cast("long")).alias("s"),
        )
        .collect()[0]
    )
    assert a == b


def test_partitioned_exporter_publishes_stripes(spark, tmp_path):
    """The bulk exporters publish the same stripe geometry (xpt also
    re-keys stripe cols to reader short names)."""
    from polars_readstat_spark.writers.partitioned import (
        write_xpt_partitioned,
    )

    d = str(tmp_path / "xpts")
    df = (
        spark.range(3000)
        .selectExpr("cast(id as double) as longish_name")
        .coalesce(1)
    )
    write_xpt_partitioned(df, d)
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (entry,) = m["files"].values()
    # 3000 rows < 65536 → single stripe → no payload, file cols only
    assert "stripes" not in entry
    assert "LONGISH_" in entry["cols"]
    # force multiple stripes via a monkeypatched default is overkill;
    # the sink path covers multi-stripe. Here we pin the re-key seam:
    from polars_readstat_spark.writers.spark_sink import ZoneMapStats

    acc = ZoneMapStats(["longish_name"], ["num"], "xpt", stripe_rows=2)
    import pyarrow as pa

    acc.add(
        pa.RecordBatch.from_arrays(
            [pa.array([1.0, 2.0, 3.0, 4.0])], names=["longish_name"]
        )
    )
    from polars_readstat_spark.writers.spark_sink import stats_reader_keys

    for s in acc.stripes:
        s.stats = stats_reader_keys(
            s.stats, "xpt", ["longish_name"], ["LONGISH_"]
        )
    payload = acc.stripes_payload()
    assert all("LONGISH_" in c for c in payload["cols"])


def test_stripe_soundness_battery(spark, tmp_path):
    """The r12 invariant at stripe granularity: for every (stripe,
    predicate shape, operand) combination over torture values, a
    stripe-level refutation claimed from the published manifest must
    exclude ZERO matching read-back rows from that stripe's span."""
    import polars_readstat_spark as prs
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringStartsWith,
    )

    from polars_readstat_spark.sources.filters import _compile, _refutes

    prs.register(spark)
    strs = ["a", "a ", " b", "", "ü", "zz", "Z", "0", None, "café",
            "a\tb", "x" * 20, "user_01", "user_02", "k1", "k2"]
    nums = [0.0, -1.5, 3.0, 1e10, -0.0, 1e-300, None, float("nan"),
            123456789.5, -7.25, 42.0, 8.0, 1.5, 2.5, 1e307, -4.0]
    d = str(tmp_path / "battery")
    sdf = spark.createDataFrame(
        list(zip(range(len(strs)), strs, nums)),
        "rid long, s string, v double",
    )
    (
        sdf.coalesce(1)
        .sortWithinPartitions("rid")
        .write.format("readstat")
        .option("format", "dta")
        .option("zonemap_stripe_rows", "4")
        .mode("overwrite")
        .save(d)
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (entry,) = m["files"].values()
    st = entry["stripes"]
    R = st["rows"]
    # read-back truth, unfiltered
    from polars_readstat_spark.sources.datasource import ReadstatDataSource

    ds = ReadstatDataSource({"path": d})
    r = ds.reader(ds._schema_uncompressed())
    rows = []
    for p in r.partitions():
        for b in r.read(p):
            names = b.schema.names
            for i in range(b.num_rows):
                rows.append(
                    {n: b.column(j)[i].as_py() for j, n in enumerate(names)}
                )
    rows.sort(key=lambda x: x["rid"])

    operands_s = ["a", "a ", "", "k1", "zz", "Z", "café", "x" * 20, "0"]
    operands_v = [0.0, -1.5, 3.0, 1e10, 42.0, 8.0, -7.25, 1e307, 1.0]
    shapes = [
        lambda a, o: EqualTo(a, o),
        lambda a, o: GreaterThan(a, o),
        lambda a, o: GreaterThanOrEqual(a, o),
        lambda a, o: LessThan(a, o),
        lambda a, o: LessThanOrEqual(a, o),
        lambda a, o: In(a, (o,)),
        lambda a, o: Not(EqualTo(a, o)),
        lambda a, o: Not(GreaterThan(a, o)),
        lambda a, o: IsNull(a),
        lambda a, o: IsNotNull(a),
    ]
    import pyarrow as pa

    checked = refuted_count = 0
    for col, ops in (("s", operands_s), ("v", operands_v)):
        for mk in shapes + (
            [lambda a, o: StringStartsWith(a, o)] if col == "s" else []
        ):
            for o in ops:
                f = mk((col,), o)
                fn = _compile(f)
                if fn is None:
                    continue
                for i, cols in enumerate(st["cols"]):
                    if not _refutes(f, cols):
                        continue
                    refuted_count += 1
                    span = rows[i * R : (i + 1) * R]
                    vals = pa.array(
                        [x[col] for x in span],
                        type=pa.string() if col == "s" else pa.float64(),
                    )
                    batch = pa.RecordBatch.from_arrays([vals], names=[col])
                    mask = fn(batch)
                    kept = batch.filter(mask)
                    assert kept.num_rows == 0, (
                        f"UNSOUND stripe refutation: {f} stripe {i} "
                        f"kept {kept.num_rows} rows {kept.column(0).to_pylist()}"
                    )
                checked += 1
    assert checked > 50 and refuted_count > 30  # the net actually fired


@pytest.mark.parametrize("fmt", ["sav", "zsav", "sas7bdat", "xpt"])
def test_stripe_prune_other_formats(spark, tmp_path, fmt):
    """Stripe drop/trim through every format's own partition
    geometry: sav RowRange retargets (literal/ckpt plan state
    threaded through), xpt rebuilds by constructor, uncompressed
    sas7bdat page ranges drop by (row_start, skip, take) span. Every
    case must return exactly the matching rows AND plan strictly
    fewer than the full scan."""
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path / fmt)
    (
        spark.range(40_000)
        .selectExpr("cast(id as double) as id")
        .coalesce(1)
        .sortWithinPartitions("id")
        .write.format("readstat")
        .option("format", fmt)
        .option("zonemap_stripe_rows", "4096")
        .mode("overwrite")
        .save(d)
    )
    col = "id" if fmt != "xpt" else "ID"
    # sas7bdat page-range partitions DROP but cannot trim (no
    # row-exact rebuild) — force the multi-partition shape a large
    # file would have, so span drops are observable
    extra = {"rows_per_partition": 4096} if fmt == "sas7bdat" else {}
    r, pruned = _ds_parts(d, f"{col} >= 30000", **extra)
    got = sorted(_rows(r, pruned))
    assert got == [float(i) for i in range(30000, 40000)]
    r0, full = _ds_parts(d, None, **extra)

    def planned(ps):
        tot = 0
        for p in ps:
            for u in getattr(p, "units", [p]):
                inner = getattr(u, "inner", u)
                n = getattr(inner, "n", None)
                if n is None:
                    take = getattr(inner, "take", -1)
                    n = take if isinstance(take, int) and take >= 0 else 0
                tot += n
        return tot

    pf, pp = planned(full), planned(pruned)
    assert pf > 0 and pp < pf, (pf, pp)
    # the trim/drop should cut the planned rows to ~the matching tail
    assert pp <= 16384  # 10k matching rows, stripe-aligned slack
