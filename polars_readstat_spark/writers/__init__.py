"""Writers / sinks (SURVEY.md §2.7): Spark DataFrame → statistical
file formats. Single-file formats with row-count headers ⇒ a pre-pass
aggregation job (widths/counts/ranges) + a driver-side streaming
assembly of chunks the executors already packed (``packed_stream`` —
the Spark translation of the reference's two-pass sink_stata,
pybindings.rs:951-1096). The pack runs in the scan's own tasks
unless the input has fewer partitions than cores (then a chunk-id
shuffle fans it out); ``_drain`` brings the chunks to the driver.

The column plan every path shares (single file, partitioned, sink) also
lives here: Spark type → kind (``column_kinds``, ``plan_write``), the
pre-pass (``prepass_aggs``), string-width limits (``str_widths``) and
the epoch casts (``to_disk``). ``plan_export`` runs that plan and the
one pre-pass job into a ``PartPlan`` (for dta, the same job also
narrows the integer and float columns). Every format then has one
layout: ``pack(plan, pdf)`` and ``assemble(fh, plan, payloads,
n_rows)`` in its module (``_LAYOUTS``, ``layout``). A single-file
export (``export_file``) packs on the executors over
``packed_stream`` and assembles on the driver; a part-file (spark_sink's
``write_partition_file``) packs and assembles inside its task; por
has no part-file path. Also here: the export output
(``export_output``) and the ``tagged_missing`` split."""

from __future__ import annotations

from contextlib import contextmanager, suppress
from dataclasses import dataclass, field, replace
from functools import partial

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---- the column plan shared by every writer and the sink ----
# SAS counts from 1960-01-01, SPSS from 1582-10-14 (1970-01-01 = 0)
SAS_DAY_SHIFT = 3653
SAS_SEC_SHIFT = 315_619_200
SPSS_SEC_SHIFT = 12_219_379_200

# (date multiplier, date shift, datetime seconds shift) per format:
# an on-disk date is (days since 1970 + shift) * multiplier
_EPOCH = {
    "sas7bdat": (1.0, float(SAS_DAY_SHIFT), float(SAS_SEC_SHIFT)),
    "xpt": (1.0, float(SAS_DAY_SHIFT), float(SAS_SEC_SHIFT)),
    "sav": (86400.0, SPSS_SEC_SHIFT / 86400.0, float(SPSS_SEC_SHIFT)),
    "zsav": (86400.0, SPSS_SEC_SHIFT / 86400.0, float(SPSS_SEC_SHIFT)),
    "por": (86400.0, SPSS_SEC_SHIFT / 86400.0, float(SPSS_SEC_SHIFT)),
}
# max string byte width per format (None: unlimited; dta writes a
# string wider than 2045 bytes as a strL)
_STR_LIMIT = {
    "sas7bdat": 32767, "sav": 255, "zsav": 255, "xpt": 200, "por": None,
    "dta": None,
}
# on-disk numeric width where the layout records one (others: 0)
_NUM_WIDTH = {"sas7bdat": 8, "xpt": 8}
_NUMERIC = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "boolean",
    "void",  # an all-null column: written as an all-missing numeric
)


# the single-file transport per format (packed_stream): (row floor of
# the ordered fan-out, narrow chunk rows, ordered chunk rows). The
# narrow path packs in the scan's own tasks, one drain job per core
# (at most ``_DRAIN_WINDOW``) in flight. The ordered fan-out shuffles
# chunks onto every core, paying a sampling scan, a shuffle, a persist
# and a totals job at ~0.3-0.5 s fixed cost each (a count of a 64-row
# .dta takes 0.43 s at local[2]), so it runs only where it adds cores
# (``_fans_out``).
# - por: the shortest-token ladder dominates; ordered 8192-row chunks
#   fan it across every core (65536-row chunks capped a 600k-row
#   export at ~10-way) — the byte stream is chunk-boundary independent
# - dta: the pack is a vectorized recarray fill (~2 s per million rows
#   single-core), cheap enough that the shuffle+persist costs more
#   than it saves at 100k rows (measured 2.0 -> 3.2 s at 600k rows)
# - sas7bdat: its pre-pass counts no rows (the header is back-patched),
#   so it has no floor; row packing and the RLE/RDC encode dominate,
#   so any input with fewer partitions than cores (one 128 MB-split
#   parquet scan → 3 tasks on a 32-core box) fans out
_TRANSPORT = {
    "sav": (100_000, 8192, 8192),
    "zsav": (100_000, 8192, 8192),
    "xpt": (100_000, 8192, 8192),
    "por": (100_000, 65536, 8192),
    "dta": (2_000_000, 65536, 65536),
    "sas7bdat": (0, 8192, 4096),
}


def _fans_out(src, rows, floor) -> bool:
    """The ordered fan-out adds cores: ``src`` (the projected input)
    has fewer partitions than cores and the pre-pass counted at least
    ``floor`` rows (``rows`` is None where it counts none)."""
    if int(rows or 0) < floor:
        return False
    cores = max(int(src.sparkSession.sparkContext.defaultParallelism), 1)
    return src.rdd.getNumPartitions() < cores


def column_kinds(fields, fmt: str) -> list[str]:
    """Spark type → on-disk kind per field: str | date | datetime |
    time | num. Pure (no SparkSession): the sink's planning worker
    calls it too. Any other type raises ValueError naming the column,
    before a job runs."""
    if fmt == "sas7bdat":
        for f in fields:
            if len(f.name.encode("utf-8")) > 32:
                raise ValueError(
                    f"write sas7bdat: column name {f.name!r} exceeds the "
                    "32-byte sas7bdat name limit"
                )
    kinds = []
    for f in fields:
        t = f.dataType.simpleString()
        if t == "string":
            kinds.append("str")
        elif t == "date":
            kinds.append("date")
        elif t.startswith("timestamp"):
            kinds.append("datetime")
        elif t == "bigint" and f.metadata.get("time") == "ns_since_midnight":
            kinds.append("time")
        elif t in _NUMERIC or t.startswith("decimal"):
            kinds.append("num")
        else:
            raise ValueError(
                f"write {fmt}: unsupported type {t} for column {f.name!r}"
            )
    return kinds


# every format with a part-file path (por is single-file only)
_SINK_FORMATS = ("sas7bdat", "sav", "zsav", "xpt", "dta")


def plan_write(schema, options, formats=_SINK_FORMATS):
    """Column plan from the declared schema alone — pure, so the sink's
    planning worker runs it too, before any job. A format outside
    ``formats`` (by default the part-file formats) raises.

    Returns (fmt, fields, names, shorts, kinds): ``shorts`` is None for
    formats that keep full names (sas7bdat, dta, por). dta's kinds
    drive only the zone maps — its column types come from its own
    ``_plan_columns``. A sas7bdat ``compress`` option other than
    rle/rdc raises here."""
    import os

    fmt = (options.get("format") or options.get("ext") or "").lstrip(".").lower()
    if not fmt:
        path = options.get("path", "")
        tail = os.path.basename(path)
        fmt = tail.rsplit(".", 1)[-1].lower() if "." in tail else ""
    if fmt not in formats:
        raise ValueError(
            f"df.write.format('readstat'): set .option('format', ...) to "
            f"one of {sorted(formats)} (got {fmt!r})"
        )
    compress = options.get("compress")
    if fmt == "sas7bdat" and compress not in (None, "", "rle", "rdc"):
        raise ValueError(
            f"write sas7bdat: unsupported compress={compress!r} "
            "(only 'rle' or 'rdc')"
        )
    fields = schema.fields
    names = [f.name for f in fields]
    kinds = column_kinds(fields, fmt)
    shorts = None
    if fmt in ("sav", "zsav"):
        from polars_readstat_spark.writers.sav import _short_names

        shorts = _short_names(names)
    elif fmt == "xpt":
        from polars_readstat_spark.writers.xpt import _short_names

        shorts = _short_names(names)
    return fmt, fields, names, shorts, kinds


def prepass_aggs(fields, kinds, fmt: str) -> list[Column]:
    """The pre-pass aggregation: the row count (``__n``; sas7bdat
    back-patches its header instead) and each string column's max
    UTF-8 byte width (``__w_<name>``). Empty → run no job."""
    aggs = [] if fmt == "sas7bdat" else [F.count(F.lit(1)).alias("__n")]
    return aggs + [
        F.max(F.octet_length(f.name)).alias(f"__w_{f.name}")
        for f, k in zip(fields, kinds)
        if k == "str"
    ]


def str_widths(fmt, fields, kinds, width_of, numeric_lengths=None) -> list[int]:
    """On-disk byte width per column. Strings take ``width_of(name)``
    (a pre-pass stat or a partition's own max; at least 1) and must
    fit the format's limit; numerics take the format's fixed width, or
    sas7bdat's ``LENGTH`` 3-8 from ``numeric_lengths``."""
    limit = _STR_LIMIT[fmt]
    numeric_lengths = numeric_lengths or {}
    widths = []
    for f, k in zip(fields, kinds):
        if k == "str":
            w = max(int(width_of(f.name) or 1), 1)
            if limit is not None and w > limit:
                raise ValueError(
                    f"write {fmt}: column {f.name!r} has strings wider "
                    f"than {limit} bytes (the {fmt} limit)"
                )
        elif f.name in numeric_lengths:
            w = int(numeric_lengths[f.name])
            if not 3 <= w <= 8:
                raise ValueError(
                    f"write {fmt}: numeric_lengths[{f.name!r}]={w} "
                    "outside SAS's LENGTH 3-8 range"
                )
        else:
            w = _NUM_WIDTH.get(fmt, 0)
        widths.append(w)
    return widths


def to_disk(df, fmt, fields, kinds, extra=()):
    """Select every column in the format's on-disk representation:
    numerics as double, dates/datetimes shifted to the format epoch,
    ns-since-midnight times as seconds, strings as-is. dta columns
    pass through unconverted: its pack does its own epoch and
    missing-sentinel math. ``extra`` appends pass-through columns
    (e.g. the wide protocol's order tags)."""
    if fmt == "dta":
        return df.select(*(f.name for f in fields), *extra)
    mul, dadd, sec = _EPOCH[fmt]
    sel = []
    for f, k in zip(fields, kinds):
        c = F.col(f.name)
        if k == "num":
            c = c.cast("double")
        elif k == "date":
            c = (
                # day-count epochs shift in integers, then widen
                (F.unix_date(c) + int(dadd)).cast("double")
                if mul == 1.0
                else F.unix_date(c).cast("double") * mul + sec
            )
        elif k == "datetime":
            c = ts_epoch_seconds(c) + sec
        elif k == "time":
            c = c.cast("double") / 1e9
        sel.append(c.alias(f.name))
    return df.select(*sel, *extra)


def ts_epoch_seconds(c: Column) -> Column:
    """Wall-clock seconds since 1970-01-01 00:00:00 for TIMESTAMP or
    TIMESTAMP_NTZ, without any timezone interpretation (NTZ cannot be
    cast to double in Spark 4; field arithmetic sidesteps session-tz
    coupling entirely)."""
    return (
        F.unix_date(F.to_date(c)).cast("double") * 86400.0
        + F.hour(c) * 3600.0
        + F.minute(c) * 60.0
        + F.second(c).cast("double")
        + F.date_format(c, "SSSSSS").cast("double") / 1e6
    )


def str_cell_matrix(col, w: int, utf8_boundary: bool = False):
    """(n, w) uint8 matrix of UTF-8-encoded, truncated, space-padded
    fixed-width string cells — the shared string-cell pack for the
    sav/xpt/sas7bdat writers (round 13, guide §4.2): the encode runs
    once per DISTINCT value (pandas factorize) and rows gather from
    the unique-cell matrix, replacing the per-row encode/ljust loops.
    Non-str values (None/NaN) become the empty cell, as before.
    ``utf8_boundary`` backs a width-truncated cell off (≤3 bytes) to
    the last complete UTF-8 character (the xpt rule)."""
    import numpy as np
    import pandas as pd

    if not isinstance(col, (pd.Series, pd.Index, np.ndarray)):
        col = np.asarray(col, dtype=object)  # tuple/list driver paths
    codes, uniq = pd.factorize(col, use_na_sentinel=True)
    cells = []
    for s in uniq:
        full = (s if isinstance(s, str) else "").encode("utf-8")
        b = full[:w]
        if utf8_boundary and len(b) < len(full):
            for _ in range(3):
                try:
                    b.decode("utf-8")
                    break
                except UnicodeDecodeError:
                    b = b[:-1]
        cells.append(b)
    cells.append(b"")  # factorize's -1 sentinel (null) → empty cell
    lens = np.fromiter(
        (len(b) for b in cells), dtype=np.int64, count=len(cells)
    )
    k = max(int(lens.max()), 1)
    um = (
        np.array(cells, dtype=f"S{k}")
        .view(np.uint8)
        .reshape(len(cells), k)
    )
    out = np.full((len(cells), w), 0x20, dtype=np.uint8)
    msk = np.arange(k)[None, :] < lens[:, None]
    out[:, :k][msk] = um[msk]
    return out[codes]


def split_tagged(df, tagged_missing):
    """Split ``tagged_missing={"value_col": "indicator_col"}`` off the
    frame → (data frame without the indicator columns, indicator
    names, ``__tag_<i>`` string projections of the indicators for a
    stream's tail, {data column index: stream column index of its
    indicator})."""
    tagged_missing = tagged_missing or {}
    ind_names = list(dict.fromkeys(tagged_missing.values()))
    data_df = df.drop(*ind_names) if ind_names else df
    names = data_df.columns
    tag_exprs = [
        F.col(c).cast("string").alias(f"__tag_{i}")
        for i, c in enumerate(ind_names)
    ]
    tag_slot = {
        names.index(v): len(names) + ind_names.index(i)
        for v, i in tagged_missing.items()
        if v in names
    }
    return data_df, ind_names, tag_exprs, tag_slot


def check_tagged(tagged_missing, numeric, columns) -> None:
    """Every tagged value column must be a numeric data column and
    every indicator a column of the input frame."""
    for vcol, icol in (tagged_missing or {}).items():
        if vcol not in numeric:
            raise ValueError(
                f"tagged_missing: {vcol!r} is not a numeric data column"
            )
        if icol not in columns:
            raise ValueError(
                f"tagged_missing: indicator column {icol!r} not in DataFrame"
            )


@dataclass
class PartPlan:
    """A resolved column plan: everything a format's ``pack`` and
    ``assemble`` need to lay out a file before they see a row.
    ``widths`` are on-disk byte widths per column (sav: 0 for
    numerics); dta lays out its (name, kind, width, fmt) tuples in
    ``dta_cols`` instead. ``plan_export`` resolves one per export from
    the global pre-pass (single file and partitioned); the sink
    resolves one per partition (``write_sink_part``)."""

    fmt: str
    fields: list
    names: list
    shorts: list | None
    kinds: list
    widths: list
    dta_cols: list | None = None
    dataset_name: str = "DATA"
    data_label: str = ""
    variable_labels: dict = field(default_factory=dict)
    value_labels: dict = field(default_factory=dict)
    measures: dict = field(default_factory=dict)
    version: int = 5
    page_length: int | None = None
    compress: str | None = None
    # xpt/dta/sas7bdat: data column index → stream column of its
    # tagged-missing indicator (``split_tagged``)
    tag_slot: dict = field(default_factory=dict)
    # sav: SPSS bytecode compression (only write_sav(compress=True))
    bytecode: bool = False

    def for_pack(self) -> PartPlan:
        """This plan without what only the assembler reads (fields,
        names and label dicts): what a pack closure ships to every
        task."""
        return replace(
            self, fields=[], names=[], shorts=None, variable_labels={},
            value_labels={}, measures={},
        )


def plan_export(df, fmt, tagged_missing=None, numeric_lengths=None, **opts):
    """The one plan step of every export, single file or part-files:
    split off the ``tagged_missing`` indicators, plan the columns
    (``plan_write``; dta also ``_plan_columns``), check the tagged and
    ``numeric_lengths`` columns, run the one pre-pass job and resolve
    the widths (and dta's narrowed column types). Everything that can
    be refused by the schema is refused before that job. ``opts`` are
    PartPlan fields. Returns (plan, the pre-pass row count or None,
    the indicator projections that ride at the stream's tail)."""
    data_df, _, tag_exprs, tag_slot = split_tagged(df, tagged_missing)
    fmt, fields, names, shorts, kinds = plan_write(
        data_df.schema, {"format": fmt, "compress": opts.get("compress")},
        formats=_LAYOUTS,
    )
    aggs = prepass_aggs(fields, kinds, fmt)
    if fmt == "dta":
        from polars_readstat_spark.writers.dta import (
            _finalize_cols,
            _plan_columns,
        )

        dta_plan, narrow = _plan_columns(fields)
        aggs += narrow
    numeric = [n for n, k in zip(names, kinds) if k != "str"]
    check_tagged(tagged_missing, numeric, df.columns)
    numeric_lengths = dict(numeric_lengths or {})
    for c, w in numeric_lengths.items():
        if c not in numeric:
            raise ValueError(
                f"numeric_lengths: {c!r} is not a numeric data column"
            )
        if c in (tagged_missing or {}) and w != 8:
            raise ValueError(
                f"numeric_lengths: {c!r} is tagged-missing — tags live in "
                "the mantissa tail that truncation drops"
            )
    stats = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    widths = str_widths(
        fmt, fields, kinds, lambda n: stats.get(f"__w_{n}"), numeric_lengths
    )
    if fmt == "dta":
        opts["dta_cols"] = _finalize_cols(dta_plan, stats)
    plan = PartPlan(
        fmt, fields, names, shorts, kinds, widths, tag_slot=tag_slot, **opts
    )
    return plan, stats.get("__n"), tag_exprs


# per format: the module holding its pack(plan, pdf) and
# assemble(fh, plan, payloads, n_rows), then any other module of the
# package the pack reaches (all pickled by value with this one),
# relative to the package root
_LAYOUTS = {
    "sav": ("writers.sav",),
    "zsav": ("writers.sav",),
    "xpt": ("writers.xpt", "writers.tagged"),
    "por": ("writers.por", "sources.por.b30"),
    "dta": ("writers.dta", "writers.tagged"),
    "sas7bdat": ("writers.sas7bdat", "writers.tagged"),
}
_ROOT = __name__.rpartition(".")[0]


def layout(fmt: str):
    """The writer module that lays out ``fmt`` (see ``_LAYOUTS``)."""
    import importlib

    return importlib.import_module(f"{_ROOT}.{_LAYOUTS[fmt][0]}")


def export_file(df, path, plan, rows, tag_exprs=()) -> None:
    """Write one planned file at ``path``: the format's ``pack`` runs
    on the executors over ``packed_stream`` and its ``assemble`` lays
    the payloads out on the driver. ``rows`` is the pre-pass count
    (None for sas7bdat, which back-patches its header); ``tag_exprs``
    ride at the stream's tail for the pack."""
    mod = layout(plan.fmt)
    fmt, fields, kinds = plan.fmt, plan.fields, plan.kinds
    stream = packed_stream(
        df, fmt,
        lambda f, extra: to_disk(
            f, fmt, fields, kinds, extra=[*tag_exprs, *extra]
        ),
        partial(mod.pack, plan.for_pack()), rows=rows,
        modules=(*(f"{_ROOT}.{m}" for m in _LAYOUTS[fmt]), __name__),
    )
    with export_output(path) as fh:
        mod.assemble(fh, plan, stream, rows)


@contextmanager
def export_output(path: str):
    """Open a single-file export target. If the body raises, the
    partial file is removed: the open already truncated it. A failed
    open removes nothing. Remote targets discard their spool or
    multipart upload instead, publishing nothing."""
    from polars_readstat_spark.sources import fs

    out = fs.fs_open_output(path)
    try:
        with out as fh:
            yield fh
    except BaseException:
        if not fs.is_remote(path):
            with suppress(OSError):
                fs.fs_remove(path)
        raise


def packed_stream(df, fmt, project, pack_fn, *, rows, modules):
    """The single-file export stream: ``(payload, n)`` packed on the
    executors by ``pack_fn``, yielded in input order.

    ``_TRANSPORT[fmt]`` picks the narrow (``iter_packed_chunks``: pack
    in the scan's own tasks) or, where ``_fans_out``, the ordered
    (``iter_ordered_packed``: shuffle onto every core, then pack)
    transport and its chunk rows; both are called through this
    module's globals as ``(df, pack_fn, chunk_rows, modules=, cast=)``,
    so a tap that wraps them sees every export. ``project(frame,
    extra)`` selects the on-disk columns plus ``extra``: before the
    narrow transport, and after the ordered one's shuffle (its
    ``cast``) — RangePartitioner's bounds sampling re-executes the
    exchange child, and post-shuffle that pass is the bare scan +
    order tags, not scan + casts (measured: the pre-cast child cost the
    sav export ~0.4 s/run at sf0.1).

    ``rows``, when known, is the pre-pass count the header already
    carries: a drained total that differs (a nondeterministic upstream
    can feed the two jobs different rows) raises instead of leaving a
    file whose header disagrees with its data."""
    floor, narrow_rows, ordered_rows = _TRANSPORT[fmt]
    src = project(df, [])
    if _fans_out(src, rows, floor):
        chunks = iter_ordered_packed(
            df, pack_fn, ordered_rows, modules=modules,
            cast=lambda b: project(
                b, [F.col("__prs_mid"), F.col("__prs_cid")]
            ),
        )
    else:
        chunks = iter_packed_chunks(src, pack_fn, narrow_rows, modules=modules)
    got = 0
    for payload, n in chunks:
        got += n
        yield payload, n
    if rows is not None and got != int(rows):
        raise RuntimeError(
            f"write {fmt}: the pre-pass counted {int(rows)} rows but the "
            f"stream delivered {got} (is the input deterministic?)"
        )


def _pickle_by_value(modules) -> None:
    """Register ``modules`` for cloudpickle pickle-by-value, so a stage
    works where only the driver can import the package."""
    import sys

    from pyspark import cloudpickle

    for m in modules:
        cloudpickle.register_pickle_by_value(sys.modules[m])


# the drain's in-flight cap: a finished partition waits on the driver
# until every earlier one is yielded, so the driver holds up to this
# many drained partitions whatever the core count. 4 is the widest
# window measured: a 4-partition sav export at local[4] took 4.0 s
# against 4.7 s with two partitions in flight
_DRAIN_WINDOW = 4


def _drain(staged):
    """The rows of ``staged`` on the driver, in exact partition order:
    one single-partition job per partition, up to one per core and at
    most ``_DRAIN_WINDOW`` in flight. One partition per job bounds a
    job's result (what ``spark.driver.maxResultSize`` limits) to one
    partition; the driver holds at most min(cores, ``_DRAIN_WINDOW``)
    partitions, each briefly twice while its fetch copies it out of
    the JVM. The jobs inherit the caller's local properties (job
    group, job tags) and carry a tag of their own, cancelled on exit,
    so a failed consumer or an early close leaves no job running."""
    import uuid
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark.core.rdd import _load_from_socket
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.util import inheritable_thread_target

    session = staged.sparkSession
    sc = session.sparkContext
    jrdd = staged._jdf.javaToPython()
    n = jrdd.getNumPartitions()
    width = max(min(int(sc.defaultParallelism), _DRAIN_WINDOW, n), 1)
    ser = BatchedSerializer(CPickleSerializer())
    tag = f"prs-drain-{uuid.uuid4().hex}"

    @inheritable_thread_target(session)
    def fetch(p):
        sc.addJobTag(tag)  # on the pool thread's copy of the properties
        sock = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, [p])
        return list(_load_from_socket(sock, ser))

    pool = ThreadPoolExecutor(width)
    window = deque()
    try:
        for p in range(n):
            window.append(pool.submit(fetch, p))
            if len(window) == width:
                yield from window.popleft().result()
        while window:
            yield from window.popleft().result()
    finally:
        pool.shutdown(wait=False, cancel_futures=True)
        live = [f for f in window if not f.done()]
        while live:
            sc.cancelJobsWithTag(tag)
            live = list(wait(live, timeout=0.5).not_done)


def iter_arrow_chunks(df, max_rows: int = 65536):
    """Partition-ordered Arrow-chunk transport for driver-side sinks.

    Draining the frame's own rows would unpickle one Row object per
    row on the driver — the slowest possible transport for a bulk
    export. Here each executor serializes its Arrow batches to IPC
    bytes (`mapInArrow`, one binary cell per chunk ≤ max_rows),
    ``_drain`` streams those few rows in partition order, and each
    chunk deserializes back to a `pyarrow.RecordBatch` in one C-level
    pass. Yields pandas DataFrames (the pack kernels consume Series
    via .to_numpy / iteration) of ≤ max_rows rows.
    """
    import pyarrow as pa

    schema_names = df.columns

    def stage(batches):
        import io

        import pyarrow as _pa

        for b in batches:
            start = 0
            while start < b.num_rows:
                piece = b.slice(start, max_rows)
                start += piece.num_rows
                sink = io.BytesIO()
                with _pa.ipc.new_stream(sink, piece.schema) as w:
                    w.write_batch(piece)
                yield _pa.RecordBatch.from_arrays(
                    [_pa.array([sink.getvalue()], type=_pa.binary())],
                    names=["chunk"],
                )

    staged = df.mapInArrow(stage, "chunk binary")
    for row in _drain(staged):
        with pa.ipc.open_stream(row[0]) as reader:
            for b in reader:
                pdf = b.to_pandas()
                pdf.columns = schema_names
                yield pdf


def iter_packed_chunks(df, pack_fn, max_rows: int = 8192, modules=()):
    """Executor-side packing for driver-assembled single-file sinks,
    in the scan's own tasks (no shuffle).

    `pack_fn(pandas.DataFrame) -> bytes` runs inside a mapInArrow
    stage on the executors (rows pack independently in every format
    here); ``_drain`` delivers the (payload, n_rows) pairs in
    partition order and the driver only concatenates. `modules` are
    registered for pickle-by-value (``_pickle_by_value``); pack_fn and
    everything it references must resolve from those modules'
    globals, not from runtime package imports.
    """
    _pickle_by_value(modules)
    names = df.columns

    def stage(batches):
        import pyarrow as _pa

        for b in batches:
            start = 0
            while start < b.num_rows:
                piece = b.slice(start, max_rows)
                start += piece.num_rows
                pdf = piece.to_pandas()
                pdf.columns = names
                yield _pa.RecordBatch.from_arrays(
                    [
                        _pa.array([pack_fn(pdf)], type=_pa.binary()),
                        _pa.array([piece.num_rows], type=_pa.int64()),
                    ],
                    names=["payload", "n"],
                )

    staged = df.mapInArrow(stage, "payload binary, n bigint")
    for row in _drain(staged):
        yield row[0], row[1]


def iter_ordered_packed(df, pack_fn, max_rows: int = 8192, modules=(), cast=None):
    """Executor packing fanned across every core with JVM-side order
    tags and one Python crossing (guide §4.1).

    Rows are tagged in the JVM with a monotonically-increasing id and
    a chunk id (``__prs_cid = __prs_mid div max_rows``: the id is
    (partition << 33) + offset, so chunk ids sort exactly like the
    input rows), then RANGE-repartitioned by chunk id: whole chunks
    travel together through a JVM-only shuffle, cross into Python once
    in the pack stage, and — because range partition order is cid
    order and each task emits its chunks cid-ascending — the persisted
    pack output drains in exact input order through ``_drain``. The
    cost is one row-sampling pass of the tagged input (RangePartitioner
    bounds), a shuffle, a persist and a totals job: worth it only when
    the input has fewer partitions than cores (``_fans_out``). A
    strictly-increasing cid check and chunk/row totals at the drain
    turn any ordering or loss into a hard error instead of a corrupt
    file.

    ``cast``, when given, is applied AFTER the repartition and must
    preserve the ``__prs_mid``/``__prs_cid`` columns: the shuffle
    then carries the narrow source types and the cast's row-widening
    (e.g. dates → display strings) runs on every core instead of on
    the scan's partition count.
    """
    _pickle_by_value(modules)
    for c in ("__prs_mid", "__prs_cid"):
        if c in df.columns:
            raise ValueError(f"iter_ordered_packed: column {c!r} is reserved")
    sc = df.sparkSession.sparkContext
    cores = max(int(sc.defaultParallelism), 1)
    tagged = df.withColumn(
        "__prs_mid", F.monotonically_increasing_id()
    ).withColumn("__prs_cid", F.expr(f"__prs_mid div {int(max_rows)}"))
    # one chunk-id range per core, measured: 4x over-partitioning to
    # load-balance unevenly-hashed chunk ids LOST to its own per-task
    # Python-worker overhead in an interleaved A/B at sf0.1 (por
    # 4.2 vs 4.4 s, rle 3.6 vs 3.9, zsav 2.9 vs 3.6) — the straggler
    # tail it targets is smaller than 96 extra mapInArrow task spin-ups
    body = tagged.repartitionByRange(cores, "__prs_cid")
    if cast is not None:
        body = cast(body)
    names = [c for c in body.columns if c not in ("__prs_mid", "__prs_cid")]

    def stage(batches):
        import numpy as np
        import pyarrow as _pa

        blist = list(batches)
        if not blist:
            return
        tbl = _pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        # the shuffle reader merges map-output streams in arbitrary
        # order — restore row order inside the task, then split on
        # chunk-id boundaries (range partitioning routes all rows of
        # a chunk to this task, and this task's cid range precedes
        # every later partition's)
        mid = tbl.column("__prs_mid").to_numpy()
        tbl = tbl.take(np.argsort(mid, kind="stable"))
        cid = tbl.column("__prs_cid").to_numpy()
        bounds = np.flatnonzero(cid[1:] != cid[:-1]) + 1
        starts = np.concatenate(([0], bounds)).tolist()
        ends = np.concatenate((bounds, [len(cid)])).tolist()
        data = tbl.select(names)
        for s, e in zip(starts, ends):
            pdf = data.slice(s, e - s).to_pandas()
            pdf.columns = names
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array([int(cid[s])], type=_pa.int64()),
                    _pa.array([pack_fn(pdf)], type=_pa.binary()),
                    _pa.array([e - s], type=_pa.int64()),
                ],
                names=["cid", "payload", "n"],
            )

    from pyspark import StorageLevel

    staged = body.mapInArrow(
        stage, "cid bigint, payload binary, n bigint"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # materialize on every core AND capture chunk/row totals from
        # the same executed plan: the drained stream must match both,
        # which catches whole-trailing-partition loss in the drain (the
        # failure mode the old protocol's terminator bookkeeping
        # guarded against)
        tot = staged.agg(
            F.count(F.lit(1)).alias("c"), F.sum("n").alias("r")
        ).collect()[0]
        exp_chunks, exp_rows = tot[0], tot[1] or 0
        got_chunks = got_rows = 0
        last_cid = None
        # no orderBy: range partitioning already makes partition index
        # order cid order, and each task emits cid-ascending — the
        # monotonicity check below proves it on every drained stream
        for row in _drain(staged):
            if last_cid is not None and row[0] <= last_cid:
                raise RuntimeError(
                    "iter_ordered_packed: chunk stream out of order "
                    f"(cid {row[0]} after {last_cid})"
                )
            last_cid = row[0]
            got_chunks += 1
            got_rows += row[2]
            yield row[1], row[2]
        if got_chunks != exp_chunks or got_rows != exp_rows:
            raise RuntimeError(
                "iter_ordered_packed: chunk stream incomplete "
                f"({got_chunks}/{exp_chunks} chunks, "
                f"{got_rows}/{exp_rows} rows)"
            )
    finally:
        staged.unpersist()
