"""Spark-native write surface: ``df.write.format("readstat")``.

Completes the idiomatic Spark mapping SURVEY §2.7 (W1) promises: the
same data source that reads statistical files is also a sink —

    df.write.format("readstat").option("format", "sav") \\
      .mode("overwrite").save("/lake/export_sav")

Each executor task assembles one complete part-file for its partition
(the multi-file directory layout the readers union back), staged under
a dot-prefixed name and renamed by the driver-side ``commit`` so a
failed job never leaves torn files visible; ``abort`` removes the
staging. On a real cluster the directory must be storage both the
executors and the driver can reach.

This module also owns the one part-file writer every distributed
export shares: ``write_partition_file`` lays out a file from a
resolved ``writers.PartPlan`` with the format's one pack and
assembler (the two a single-file export runs), and ``write_part`` adds
the staged write's manifest payload (zone maps, stripes, blooms keyed
by reader names). The batch and streaming sinks and each hive chunk
resolve their plan per partition (``write_sink_part``: no pre-pass);
the partitioned exporters (writers/partitioned.py) resolve one from
the single-file exports' global pre-pass and run the same
``write_part`` in a generic ``mapInArrow`` task.

Supported formats: ``sas7bdat`` (plus ``compress=rle|rdc``), ``sav``,
``zsav`` (zlib block container), ``xpt``, and ``dta``. The first four
store all numerics as float64 on disk, so a partition-local
string-width pass yields part-files that union under one Spark
schema; ``dta`` instead uses a schema-deterministic sentinel-safe
type plan (tinyint→int, smallint→long, int/bigint→double exact to
±2^53 with a loud per-partition guard beyond) so every partition
emits identical column types — ``write_dta_partitioned`` remains the
path that narrows integer storage from global min/max when file size
matters more than schema-only planning.

Timestamps are converted executor-side from the Arrow representation:
tz-aware arrays go through ``pyarrow.compute.local_timestamp`` first,
so the wall-clock-seconds semantics match the facade writers'
``ts_epoch_seconds`` under any session timezone.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from itertools import chain

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from polars_readstat_spark.writers import (
    _EPOCH,
    PartPlan,
    export_output,
    layout,
    plan_write,
    str_widths,
)


@dataclass
class _PartMessage(WriterCommitMessage):
    staged: str
    final: str
    n_rows: int
    pid: int = -1
    # per-column zone maps for the _prs_stats.json manifest:
    # {col: [min, max, non_null, n_rows, poisoned]} over plain numeric
    # AND normalization-safe string columns (logical values, computed
    # on the Arrow batches before epoch conversion so they compare
    # against reader output; see convert_batches for the string
    # fix-point rule)
    stats: dict | None = None
    # per-stripe zone maps (round 13): {"rows": R, "cols": [colstats
    # per stripe]} where stripe i covers OUTPUT rows [i*R, (i+1)*R) of
    # this part in file row order — the geometry every reader's
    # row-range partitions address, so the scan can drop refuted row
    # spans INSIDE kept files
    stripes: dict | None = None
    # per-column Bloom filters (round 13, opt-in via
    # zonemap_bloom_columns): {col: {"k","m","b","d"}} — point-
    # predicate file skipping for unsorted key columns; see
    # sources/bloom.py for the canonicalization invariant
    blooms: dict | None = None


def _utf8_width(arr) -> int:
    """Max UTF-8 byte width of an Arrow string array (0 if empty/all-null).

    Arrow's ``binary_length`` on a utf8 array counts BYTES (not code
    points — that's ``utf8_length``), matching what the fixed-width
    readstat formats size columns by. Computed on the Arrow batch
    before any pandas conversion so the scan is a vectorized kernel,
    not a per-value Python lambda; nulls are skipped (a null cell
    occupies no bytes beyond the format's blank fill).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(arr):
        return 0
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    m = pc.max(pc.binary_length(arr)).as_py()
    return int(m) if m is not None else 0


def _merge_col(x, y):
    """Merge two per-column stats entries [min, max, nn, n, poisoned,
    kind?] covering disjoint row sets: ranges union, counts add,
    poisoning is sticky (a poisoned constituent makes range refutation
    unsound for the union too); the optional kind tag (element 5,
    'date') survives the merge."""
    tag = [x[5]] if len(x) > 5 else ([y[5]] if len(y) > 5 else [])
    if (len(x) > 4 and x[4]) or (len(y) > 4 and y[4]):
        return [None, None, x[2] + y[2], x[3] + y[3], True, *tag]
    mn = x[0] if y[0] is None else (y[0] if x[0] is None else min(x[0], y[0]))
    mx = x[1] if y[1] is None else (y[1] if x[1] is None else max(x[1], y[1]))
    return [mn, mx, x[2] + y[2], x[3] + y[3], False, *tag]


def _publishable_cols(stats: dict) -> dict:
    """The manifest-publication filter (shared by file-level and
    stripe-level entries): drop normalization-poisoned columns, and
    publish only real ranges — or all-null columns whose rows were
    actually SEEN (a name-lookup miss under duplicate column names
    leaves a zeroed entry whose publication would prune non-null
    data, review r12). Date columns (round 13) carry their epoch-day
    ranges plus a ``"t": "date"`` tag so the reader coerces
    datetime.date operands — and ONLY those — against them."""
    out = {}
    for c, v in stats.items():
        if len(v) > 4 and v[4]:
            continue
        if not (
            isinstance(v[0], (int, float, str))
            or (v[2] == 0 and v[3] > 0)
        ):
            continue
        e = {"min": v[0], "max": v[1], "nn": v[2], "n": v[3]}
        if len(v) > 5 and v[5]:
            e["t"] = v[5]
        out[c] = e
    return out


class ZoneMapStats:
    """Per-part zone-map accumulator over Arrow batches of LOGICAL
    (pre-epoch) values: {col: [min, max, non_null, n_rows, poisoned]}.

    Strings participate (round 12) but only while every value is a
    FIX-POINT of the formats' write normalization: no NULL cell (the
    writers blank-fill nulls and the default read hands them back as
    NON-null ''), no NUL byte, no trailing whitespace (dta preserves
    trailing spaces but sav/sas strip them, sav strips tabs, NUL
    truncates or vanishes per format — measured). A value the reader
    would hand back CHANGED makes range refutation unsound, so one
    such value poisons the column's stats for this part, sticky
    across batches. NUMERIC extremes poison too: values in the
    formats' missing-sentinel range (dta codes missing as doubles
    ≥ ~8.99e307, SPSS sysmis is -DBL_MAX) read back as NULL, ±inf
    silently lands as 0.0 in xpt's IBM floats, and xpt flushes
    magnitudes below 16^-65 (~5.4e-79) to 0.0 — each a value outside
    the recorded range (review r12). Columns are looked up BY NAME,
    so the partitioned exporters' cast-frame batches (format-epoch
    dates, double numerics) accumulate the same way as the sink's
    logical Arrow batches."""

    # |v| at/above this may be a missing code on disk (dta missing
    # doubles start at 0x7fe0... ≈ 8.988e307; sav sysmis = -DBL_MAX);
    # inf compares >= too, covering xpt's silent inf→0.0
    _NUM_POISON_ABS = 8.9e307
    _XPT_TINY = 16.0**-65  # IBM hex-float underflow: flushed to 0.0
    # manifest-size bound: past this many stripes, adjacent pairs
    # merge and the stripe row count doubles (stripe i always covers
    # rows [i*R, (i+1)*R), before and after a coarsen)
    MAX_STRIPES = 512

    def __init__(
        self,
        names,
        kinds,
        fmt="",
        stripe_rows=0,
        bloom_cols=(),
        bloom_max_bytes=None,
    ):
        self.fmt = fmt
        self.kind_of = dict(zip(names, kinds))
        # DATE columns participate (round 13): every format stores a
        # date as an exact integer day count (dta: int32 days; sas/
        # xpt: float days — exact to 2^53≫date32's ±2.1e9; sav:
        # float seconds, whole-day multiples of 86400, exact), so the
        # reader hands back exactly the written date and min/max over
        # epoch DAYS is sound. Stats carry a 'date' kind tag so the
        # reader coerces datetime.date operands only. datetime/time
        # stay excluded: sub-second storage rounds (sav seconds,
        # dta ms), and a rounded value can cross a range bound.
        self.stats: dict = {
            n: (
                [None, None, 0, 0, False, "date"]
                if k == "date"
                else [None, None, 0, 0, False]
            )
            for n, k in zip(names, kinds)
            if k not in ("datetime", "time")
        }
        # per-column Bloom accumulators (round 13, opt-in): file-level
        # only — stripe children never carry them (the _ctor below has
        # no bloom_cols). Domain follows the kind: membership is typed
        # exactly like the range stats it rides beside.
        from polars_readstat_spark.sources.bloom import (
            DEFAULT_MAX_BYTES,
            BloomAccumulator,
        )

        self.bloom = {
            n: BloomAccumulator(
                {"str": "str", "date": "date"}.get(self.kind_of[n], "num"),
                bloom_max_bytes or DEFAULT_MAX_BYTES,
            )
            for n in bloom_cols
            if n in self.stats
        }
        # per-stripe accumulation (round 13): same rules, same
        # poisoning, at row-chunk granularity — stripe stats are just
        # child ZoneMapStats fed stripe-aligned zero-copy batch slices
        self._ctor = (names, kinds, fmt)
        self.stripe_rows = int(stripe_rows or 0)
        self.stripes: list[ZoneMapStats] = []
        self._row = 0

    def add(self, batch) -> None:
        self._add_batch(batch)
        if self.stripe_rows <= 0:
            return
        n, off = batch.num_rows, 0
        while off < n:
            i = self._row // self.stripe_rows
            while len(self.stripes) <= i:
                self.stripes.append(ZoneMapStats(*self._ctor))
            room = self.stripe_rows - (self._row % self.stripe_rows)
            take = min(room, n - off)
            self.stripes[i]._add_batch(batch.slice(off, take))
            off += take
            self._row += take
        while len(self.stripes) > self.MAX_STRIPES:
            self._coarsen()

    def _coarsen(self) -> None:
        merged = []
        for j in range(0, len(self.stripes), 2):
            pair = self.stripes[j : j + 2]
            if len(pair) == 1:
                merged.append(pair[0])
            else:
                m = ZoneMapStats(*self._ctor)
                m.stats = {
                    c: _merge_col(pair[0].stats[c], pair[1].stats[c])
                    for c in m.stats
                }
                merged.append(m)
        self.stripes = merged
        self.stripe_rows *= 2

    def stripes_payload(self) -> dict | None:
        """Manifest fragment {"rows": R, "cols": [...]} — one
        publishable-cols dict per stripe, in row order. None when
        striping is off or the part fits in one stripe (file-level
        stats already cover that)."""
        if self.stripe_rows <= 0 or len(self.stripes) <= 1:
            return None
        return {
            "rows": self.stripe_rows,
            "cols": [_publishable_cols(s.stats) for s in self.stripes],
        }

    def bloom_payload(self) -> dict | None:
        """Manifest fragment {col: {"k","m","b","d"}} for columns whose
        Bloom accumulator survived (not dropped, not over the ndv cap)
        AND whose range stats aren't poisoned — a value the reader
        hands back CHANGED breaks membership exactly like it breaks
        ranges, so the poison flag gates both. None when empty."""
        out = {}
        for name, bl in self.bloom.items():
            st = self.stats.get(name)
            if st is None or (len(st) > 4 and st[4]):
                continue
            p = bl.payload()
            if p is not None:
                out[name] = p
        return out or None

    def _add_batch(self, batch) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        for name, st in self.stats.items():
            idx = batch.schema.get_field_index(name)
            if idx < 0:
                continue
            arr = batch.column(idx)
            st[3] += len(arr)
            if st[4]:
                continue
            valid = arr.drop_null()
            if self.kind_of[name] == "str":
                st[2] += len(valid)
                if len(valid) < len(arr):
                    # nulls poison string stats (review r12): null →
                    # blank-fill on disk → '' on default read, a value
                    # outside any min/max over the non-null inputs
                    st[0] = st[1] = None
                    st[4] = True
                    continue
                if not len(valid):
                    continue
                unsafe = pc.any(
                    pc.or_(
                        pc.not_equal(
                            pc.utf8_rtrim_whitespace(valid), valid
                        ),
                        pc.match_substring(valid, "\x00"),
                    )
                ).as_py()
                if unsafe:
                    st[0] = st[1] = None
                    st[4] = True
                    continue
            elif self.kind_of[name] == "date":
                if len(valid):
                    if pa.types.is_floating(valid.type):
                        # cast-frame representation (partitioned
                        # sav/xpt/sas tasks): NaN is the null-on-disk
                        # sentinel — exclude from nn AND min/max,
                        # like the numeric branch
                        valid = valid.filter(
                            pc.invert(pc.is_nan(valid))
                        )
                    if len(valid):
                        days = self._date_days(valid)
                        if days is None:
                            # non-midnight timestamps / fractional
                            # day counts / unknown encodings: range
                            # refutation would be unsound
                            st[0] = st[1] = None
                            st[4] = True
                            continue
                        valid = days
            elif pa.types.is_floating(valid.type) and len(valid):
                # NaN doubles become missing sentinels on disk and
                # read back as NULL — for zone-map purposes they are
                # nulls, and they must not poison min/max either
                valid = valid.filter(pc.invert(pc.is_nan(valid)))
                if len(valid):
                    absv = pc.abs(valid)
                    unsafe = pc.greater_equal(
                        absv, pa.scalar(self._NUM_POISON_ABS)
                    )
                    if self.fmt == "xpt":
                        unsafe = pc.or_(
                            unsafe,
                            pc.and_(
                                pc.greater(absv, pa.scalar(0.0)),
                                pc.less(absv, pa.scalar(self._XPT_TINY)),
                            ),
                        )
                    if pc.any(unsafe).as_py():
                        st[0] = st[1] = None
                        st[4] = True
                        continue
            nn = len(valid)
            if nn == 0:
                continue
            bl = self.bloom.get(name)
            if bl is not None:
                # `valid` is already the domain the reader outputs:
                # fix-point-checked strings, NaN-filtered numerics,
                # exact epoch-day ints — the same array min/max ranges
                bl.add_array(valid)
            if self.kind_of[name] != "str":
                st[2] += nn
            mm = pc.min_max(valid)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if st[0] is None or mn < st[0]:
                st[0] = mn
            if st[1] is None or mx > st[1]:
                st[1] = mx

    def _date_days(self, valid):
        """Normalize a date-kind array — in whichever representation
        the calling writer holds (logical date32/64, pandas-derived
        timestamps, or the cast frames' format-epoch numerics) — to
        exact epoch-day integers, or None when refutation over the
        values would be unsound (the caller poisons the column)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = valid.type
        if pa.types.is_date32(t):
            return pc.cast(valid, pa.int32())
        if pa.types.is_date64(t):
            try:
                d = pc.cast(valid, pa.date32())
            except pa.ArrowInvalid:
                return None  # sub-day milliseconds in a date64
            if not pc.all(
                pc.equal(pc.cast(d, pa.date64()), valid)
            ).as_py():
                return None
            return pc.cast(d, pa.int32())
        if pa.types.is_timestamp(t):
            v = pc.local_timestamp(valid) if t.tz else valid
            d = pc.cast(v, pa.date32())
            back = pc.cast(d, v.type)
            if not pc.all(pc.equal(back, v)).as_py():
                return None  # non-midnight timestamp in a date column
            return pc.cast(d, pa.int32())
        if pa.types.is_integer(t) or pa.types.is_floating(t):
            ep = _EPOCH.get(self.fmt)
            if ep is None:
                return None  # no epoch mapping for this format
            mul, dadd, _ = ep
            f = pc.cast(valid, pa.float64())
            # stored = (days + dadd) * mul, both terms exact floats
            days = pc.subtract(
                pc.divide(f, pa.scalar(mul)), pa.scalar(dadd)
            )
            r = pc.round(days)
            if not pc.all(pc.equal(days, r)).as_py():
                return None  # fractional day count
            return pc.cast(r, pa.int64())
        return None


def convert_batches(
    batches, names, kinds, fmt, stripe_rows=0, bloom_cols=(),
    bloom_max_bytes=None,
):
    """Arrow RecordBatches → pandas frames in the format's numeric
    representation (dates/datetimes shifted to the format epoch,
    numerics float64), plus the partition-wide string byte widths.
    Returns (frames, widths, acc) — acc is the ZoneMapStats whose
    ``.stats`` is the file-level zone map and ``.stripes_payload()``
    the optional per-row-span fragment."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    widths = {n: 1 for n, k in zip(names, kinds) if k == "str"}
    frames = []
    acc = ZoneMapStats(
        names, kinds, fmt, stripe_rows=stripe_rows,
        bloom_cols=bloom_cols, bloom_max_bytes=bloom_max_bytes,
    )
    _accumulate = acc.add

    if fmt == "dta":
        # the dta pack (``dta.pack``) consumes raw Arrow→pandas
        # representations (datetime64, float-with-NaN ints, strings)
        # and does its own epoch/missing-sentinel conversions — only
        # the string widths are gathered here
        for batch in batches:
            _accumulate(batch)
            for i, (name, k) in enumerate(zip(names, kinds)):
                if k == "str":
                    widths[name] = max(
                        widths[name], _utf8_width(batch.column(i))
                    )
            frames.append(batch.to_pandas())
        return frames, widths, acc
    date_mul, date_add, sec_add = _EPOCH[fmt]
    for batch in batches:
        _accumulate(batch)
        cols = {}
        for i, (name, k) in enumerate(zip(names, kinds)):
            arr = batch.column(i)
            if k == "str":
                widths[name] = max(widths[name], _utf8_width(arr))
                s = arr.to_pandas()
            elif k == "date":
                days = pc.cast(arr, pa.int32()).cast(pa.float64()).to_pandas()
                s = days * date_mul + (date_add * date_mul)
            elif k == "datetime":
                a = arr
                if isinstance(a.type, pa.TimestampType) and a.type.tz:
                    a = pc.local_timestamp(a)
                us = pc.cast(
                    pc.cast(a, pa.timestamp("us")), pa.int64()
                ).cast(pa.float64()).to_pandas()
                s = us / 1e6 + sec_add
            elif k == "time":
                s = arr.cast(pa.float64()).to_pandas() / 1e9
            else:
                s = arr.cast(pa.float64()).to_pandas()
            cols[name] = s
        frames.append(pd.DataFrame(cols))
    return frames, widths, acc


def _stripe_rows_opt(options, default=65536) -> int:
    """zonemap_stripe_rows option: rows per intra-file zone-map
    stripe (0 disables striping; file-level stats always publish).
    65536 rows ≈ 1-10 MB for typical survey extracts — several
    stripes per ~48 MB scan partition, so a selective predicate can
    drop or trim row spans inside kept files."""
    v = options.get("zonemap_stripe_rows")
    try:
        return default if v in (None, "") else max(0, int(v))
    except (TypeError, ValueError):
        return default


def _bloom_cols_opt(options) -> tuple:
    """zonemap_bloom_columns option: comma-separated column names to
    publish per-file Bloom filters for (point-predicate skipping on
    unsorted key columns — sources/bloom.py). Off by default: blooms
    cost manifest bytes per file per column, so the user names the
    join/lookup keys worth it, like Parquet's per-column opt-in."""
    v = options.get("zonemap_bloom_columns")
    if not v:
        return ()
    if isinstance(v, (list, tuple)):
        return tuple(str(c).strip() for c in v if str(c).strip())
    return tuple(c.strip() for c in str(v).split(",") if c.strip())


def _bloom_max_bytes_opt(options) -> int | None:
    """zonemap_bloom_max_bytes option: per-column bit-table cap
    (default 16 KiB ≈ 13k distinct values/file at ~1% fp). A column
    whose distinct count outgrows the cap drops its bloom — costing
    the skip, never rows."""
    v = options.get("zonemap_bloom_max_bytes")
    try:
        return None if v in (None, "") else max(64, int(v))
    except (TypeError, ValueError):
        return None


def stats_reader_keys(stats, fmt, names, shorts):
    """Re-key a ZoneMapStats.stats dict by what the READER will call
    the columns — the manifest's keys must match the names the scan's
    pushed filters carry or refutation lookups never match. Only xpt
    renames (uppercase 8-char shorts); sav restores long names via
    the subtype-13 record and dta/sas7bdat keep full names."""
    if fmt != "xpt" or not shorts:
        return stats
    ren = dict(zip(names, shorts))
    return {ren.get(c, c): v for c, v in stats.items()}


def publish_stats_manifest(dir_path, parts, merge=True) -> None:
    """Publish _prs_stats.json: per-part zone maps (numeric + safe
    string min/max, null accounting, file size+mtime) the reader's
    filter pushdown uses to SKIP whole part-files — the Delta/Iceberg
    file-stats idea at manifest granularity. Best-effort: a missing or
    stale manifest only costs the skip, never correctness (the reader
    validates each pruned file's size AND mtime against the manifest
    before trusting a refutation).

    ``parts``: iterable of (final_path, n_rows, stats) or
    (final_path, n_rows, stats, stripes) where stats is a
    ZoneMapStats.stats dict and stripes an optional
    ``stripes_payload()`` fragment (per-row-span zone maps — the
    intra-file pruning geometry). ``merge=True`` keeps existing
    entries (append mode); shared by the distributed sink, the hive
    writer and the partitioned bulk exporters."""
    import json

    from polars_readstat_spark.sources.fs import (
        fs_join,
        fs_open,
        fs_open_output,
        fs_stat,
    )

    entries = {}
    mpath = fs_join(dir_path, "_prs_stats.json")
    if merge:
        try:
            with fs_open(mpath) as f:
                entries = json.loads(f.read()).get("files", {})
        except Exception:  # noqa: BLE001 — absent or unreadable
            entries = {}
    wrote = False
    for part in parts:
        final, n_rows, stats = part[0], part[1], part[2]
        stripes = part[3] if len(part) > 3 else None
        base = os.path.basename(final)
        try:
            # mtime is free in the same round trip (fs_stat) and
            # closes the same-size in-place-rewrite hole in the
            # reader's staleness check (ADVICE r11)
            size, mtime_ns = fs_stat(final)
        except OSError:
            continue
        cols = _publishable_cols(stats)
        blooms = part[4] if len(part) > 4 else None
        if isinstance(blooms, dict):
            # blooms ride inside the column entry they describe; a
            # column whose range stats didn't publish (poisoned /
            # never seen) publishes no bloom either — membership
            # breaks under the same rewrites ranges do
            for c, bf in blooms.items():
                if c in cols and isinstance(bf, dict):
                    cols[c]["bf"] = bf
        entries[base] = {
            "n": n_rows,
            "size": size,
            "mtime_ns": mtime_ns,
            "cols": cols,
        }
        if stripes:
            entries[base]["stripes"] = stripes
        wrote = True
    if not wrote:
        return
    try:
        with fs_open_output(mpath) as f:
            f.write(json.dumps({"version": 1, "files": entries}).encode())
    except Exception:  # noqa: BLE001 — manifest is an optimization
        pass


def write_partition_file(staged_path, plan: PartPlan, frames) -> int:
    """Lay out ``plan``'s part-file at ``staged_path`` from pandas
    ``frames`` (consumed once, in order, empty frames skipped) with the
    format's one pack and assembler — the same two a single-file
    export runs (``writers.layout``) — and return its row count. The
    sav header carries the row count, so sav packs the whole
    partition first; the other formats stream frame by frame (dta and
    sas7bdat back-patch their counts). The file opens through
    ``export_output``: a failed write leaves no partial file. No rows
    → no file, 0."""
    frames = (pdf for pdf in frames if len(pdf))
    mod = layout(plan.fmt)
    packed = ((mod.pack(plan, pdf), len(pdf)) for pdf in frames)
    n_rows = None
    if plan.fmt in ("sav", "zsav"):
        packed = list(packed)
        n_rows = sum(n for _, n in packed)
        if not n_rows:
            return 0
    else:
        first = next(packed, None)
        if first is None:
            return 0
        packed = chain([first], packed)
    with export_output(staged_path) as fh:
        return mod.assemble(fh, plan, packed, n_rows)


def write_part(staged_path, plan: PartPlan, frames, acc):
    """Every distributed writer's per-task write: stage the part-file
    (``write_partition_file``) and return ``(n_rows, (stats, stripes,
    blooms))`` — the manifest payload, keyed by what the READER calls
    the columns (xpt's uppercase shorts; stripe children and blooms
    re-key the same way or the refutation lookups never match).
    ``acc`` must have seen every row once ``frames`` is exhausted.
    No rows → ``(0, None)`` and no file."""
    n_rows = write_partition_file(staged_path, plan, frames)
    if not n_rows:
        return 0, None

    def rekey(stats):
        return stats_reader_keys(stats, plan.fmt, plan.names, plan.shorts)

    stripes = acc.stripes_payload()
    if stripes is not None:
        stripes["cols"] = [rekey(c) for c in stripes["cols"]]
    blooms = acc.bloom_payload()
    if blooms is not None:
        blooms = rekey(blooms)
    return n_rows, (rekey(acc.stats), stripes, blooms)


# the sink's schema-only Stata kind per Spark type: tinyint→int and
# smallint→long clear the Stata missing-sentinel bands; int/bigint→
# double is exact to ±2^53 (bigint is guarded per partition)
_DTA_SINK_KIND = {
    "string": "str", "boolean": "byte", "tinyint": "int",
    "smallint": "long", "int": "double", "bigint": "double",
    "float": "double", "double": "double", "date": "date",
    "timestamp": "datetime", "timestamp_ntz": "datetime",
}


def _dta_sink_cols(fields, frames, widths_map) -> list[tuple]:
    """The sink's schema-deterministic, sentinel-safe dta column plan:
    every partition maps the same Spark type to the same Stata
    type regardless of its values, so part-files always union under
    one schema (write_dta's stats-tightened narrowing would let two
    partitions disagree). Beyond ±2^53 a bigint partition fails
    loudly (mirroring write_dta)."""
    from polars_readstat_spark.writers.dta import (
        _DOUBLE_EXACT_INT,
        _finalize_cols,
    )

    plan = []
    for f in fields:
        t = f.dataType.simpleString()
        kind = "double" if t.startswith("decimal") else _DTA_SINK_KIND.get(t)
        if kind is None:
            raise ValueError(
                f"write readstat: unsupported dta sink type {t} for {f.name}"
            )
        plan.append((f.name, kind))
        if t != "bigint":
            continue
        for pdf in frames:
            s = pdf[f.name].dropna()
            if len(s) and (
                s.min() < -_DOUBLE_EXACT_INT or s.max() > _DOUBLE_EXACT_INT
            ):
                raise ValueError(
                    f"write readstat: bigint column {f.name!r} holds values "
                    "outside ±2^53; Stata's widest numeric type (double) "
                    "cannot represent them exactly"
                )
    return _finalize_cols(
        plan, {f"__w_{n}": w for n, w in widths_map.items()}
    )


def write_sink_part(staged_path, batches, schema_plan, options):
    """The sink's task body (batch sink, streaming sink and each hive
    chunk): convert the Arrow batches, resolve this partition's plan,
    and ``write_part``. The sink has no pre-pass, so string widths
    come from this partition's own data (checked against the format's
    limit) and dta types from the schema alone. Labels stay empty;
    ``data_label``/``dataset_name``/``page_length``/``compress`` come
    from the write options. Returns ``write_part``'s (n_rows,
    payload)."""
    fmt, fields, names, shorts, kinds = schema_plan
    frames, widths_map, acc = convert_batches(
        batches, names, kinds, fmt,
        stripe_rows=_stripe_rows_opt(options),
        bloom_cols=_bloom_cols_opt(options),
        bloom_max_bytes=_bloom_max_bytes_opt(options),
    )
    widths, dta_cols = [], None
    if fmt == "dta":
        dta_cols = _dta_sink_cols(fields, frames, widths_map)
    else:
        widths = str_widths(fmt, fields, kinds, widths_map.get)
    plan = PartPlan(
        fmt, fields, names, shorts, kinds, widths, dta_cols,
        dataset_name=options.get("dataset_name", "DATA"),
        data_label=options.get("data_label", ""),
        page_length=(
            int(options["page_length"]) if options.get("page_length") else None
        ),
        compress=options.get("compress"),
    )

    def drain():
        # hand the frames over one at a time, dropping each as it is
        # packed: the list and the packed bytes never coexist in full
        frames.reverse()
        while frames:
            yield frames.pop()

    return write_part(staged_path, plan, drain(), acc)


# mapInArrow write tasks (partitioned, hive) report one row per file
TASK_RESULT_SCHEMA = "path string, n_rows long, stats string"


def task_result_batch(rows):
    """[(path, n_rows, payload)] → the Arrow batch a write task
    yields; the payload travels as JSON to the driver."""
    import json

    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.int64()),
            pa.array([json.dumps(r[2]) for r in rows], pa.string()),
        ],
        names=["path", "n_rows", "stats"],
    )


def publish_task_results(results) -> list[dict]:
    """Driver side of the mapInArrow writers: one ``_prs_stats.json``
    per directory the collected task rows wrote into (merge=True keeps
    valid entries from earlier exports; stale ones are defused by the
    reader's size+mtime validation). Returns [{"path", "n_rows"}]."""
    import json

    by_dir: dict[str, list] = {}
    for r in results:
        by_dir.setdefault(os.path.dirname(r.path), []).append(
            (r.path, r.n_rows, *json.loads(r.stats))
        )
    for d, parts in by_dir.items():
        publish_stats_manifest(d, parts, merge=True)
    return [{"path": r.path, "n_rows": r.n_rows} for r in results]


class ReadstatDataSourceWriter(DataSourceArrowWriter):
    def __init__(self, path, schema, options, overwrite):
        if not path:
            raise ValueError(
                "df.write.format('readstat') requires save(path) "
                f"(got options: {sorted(options)})"
            )
        self.path = path
        self.options = dict(options)
        self.options["path"] = path
        self.overwrite = overwrite
        self.schema_plan = plan_write(schema, self.options)
        self.fmt = self.schema_plan[0]
        self.run_id = uuid.uuid4().hex[:12]
        from polars_readstat_spark.sources.fs import fs_makedirs

        fs_makedirs(path)

    def write(self, iterator):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_join

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        final = fs_join(
            self.path, f"part-{pid:05d}-{self.run_id}.{self.fmt}"
        )
        # attempt id in the staged name: a speculative/retried task
        # must never write the same staging file as its sibling
        staged = fs_join(
            self.path,
            f".staged-{self.run_id}-a{attempt}-part-{pid:05d}.{self.fmt}",
        )
        # stream straight off the iterator: holding the Arrow batches
        # AND the converted frames would double the partition's peak
        n, payload = write_sink_part(
            staged, iterator, self.schema_plan, self.options
        )
        if not n:
            return _PartMessage("", "", 0)
        return _PartMessage(staged, final, n, pid, *payload)

    def commit(self, messages):
        from polars_readstat_spark.sources.fs import (
            fs_exists,
            fs_listdir,
            fs_move,
            fs_remove,
        )

        if self.overwrite:
            for fp in fs_listdir(self.path):
                base = os.path.basename(fp)
                if base.endswith(f".{self.fmt}") and not base.startswith("."):
                    if self.run_id not in base:
                        fs_remove(fp)
        for m in messages:
            if m and m.staged:
                fs_move(m.staged, m.final)
        self._write_stats_manifest(messages)

    def _write_stats_manifest(self, messages) -> None:
        publish_stats_manifest(
            self.path,
            [
                (
                    m.final,
                    m.n_rows,
                    m.stats,
                    getattr(m, "stripes", None),
                    getattr(m, "blooms", None),
                )
                for m in messages
                if m and m.staged and m.stats is not None
            ],
            merge=not self.overwrite,
        )

    def abort(self, messages):
        from polars_readstat_spark.sources.fs import fs_exists, fs_remove

        for m in messages or []:
            if m and m.staged and fs_exists(m.staged):
                fs_remove(m.staged)


class ReadstatStreamWriter(DataSourceStreamArrowWriter):
    """df.writeStream.format("readstat") — continuous export of
    micro-batches as statistical part-files.

    Per micro-batch, each task stages its partition's file under a
    unique attempt name; ``commit(messages, batchId)`` renames them to
    ``part-b<batchId>-p<pid>.<fmt>``. Batch replays after a failure
    re-stage and re-rename the same final names, so the visible
    directory converges to exactly-once contents (the same layout the
    batch and streaming readers consume)."""

    def __init__(self, path, schema, options):
        if not path:
            raise ValueError(
                "writeStream.format('readstat') requires .start(path)"
            )
        self.path = path
        self.options = dict(options)
        self.options["path"] = path
        self.schema_plan = plan_write(schema, self.options)
        self.fmt = self.schema_plan[0]
        from polars_readstat_spark.sources.fs import fs_makedirs

        fs_makedirs(path)

    def write(self, iterator):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_join

        pid = TaskContext.get().partitionId()
        staged = fs_join(
            self.path,
            f".staged-stream-{uuid.uuid4().hex[:12]}-p{pid:05d}.{self.fmt}",
        )
        # the accumulator runs over the batches anyway — publishing
        # its zone maps (and opt-in blooms) at commit gives the
        # landing directory file skipping for free (round 13: before
        # this the stats were computed and DISCARDED, so streamed
        # lakes needed a separate index_zonemaps pass)
        n, payload = write_sink_part(
            staged, iterator, self.schema_plan, self.options
        )
        if not n:
            return _PartMessage("", "", 0, pid)
        return _PartMessage(staged, "", n, pid, *payload)

    def commit(self, messages, batchId):
        from polars_readstat_spark.sources.fs import fs_join, fs_move

        parts = []
        for m in messages:
            if m and m.staged:
                final = fs_join(
                    self.path, f"part-b{batchId:08d}-p{m.pid:05d}.{self.fmt}"
                )
                fs_move(m.staged, final)
                if m.stats is not None:
                    parts.append(
                        (final, m.n_rows, m.stats, m.stripes, m.blooms)
                    )
        # idempotent under batch replay: entries key by final name and
        # overwrite; publish AFTER the renames so size+mtime describe
        # the visible files. Failure after rename, before publish,
        # costs only the skip (the reader treats missing entries as
        # unskippable).
        if parts:
            publish_stats_manifest(self.path, parts, merge=True)

    def abort(self, messages, batchId):
        from polars_readstat_spark.sources.fs import fs_exists, fs_remove

        for m in messages or []:
            if m and m.staged and fs_exists(m.staged):
                fs_remove(m.staged)
