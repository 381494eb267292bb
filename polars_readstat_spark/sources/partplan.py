"""Shared row-range partition sizing for the fixed-width scan readers.

Two regimes:
- big inputs: ~48 MB of raw record bytes per partition — large enough
  that per-task Python-worker round-trips amortize (measured: the
  harness floor is ~20 ms/task), small enough to fit executor memory
  with decode headroom at any record width.
- inputs smaller than cores × 48 MB: the byte heuristic alone
  under-partitions (a 200 MB file → 4 partitions on a 32-core
  local[32], leaving 28 cores idle — measured 0.77 s vs 0.60 s for
  the same scan at 24 partitions). Split further toward one partition
  per core, floored at ~8 MB / 64k rows per partition so tiny files
  never explode into confetti tasks.

The floor keeps the 100 TB shape unchanged: a big scan is thousands
of 48 MB ranges regardless of cluster width; only the
single-small-file-on-a-wide-cluster corner gets more fan-out.

Core-count discovery: ``DataSourceReader.partitions()`` executes in a
separate plan-worker Python process where
``SparkContext._active_spark_context`` is ``None``, so the core count
must be plumbed in. Resolution order:

1. the ``target_parallelism`` data source option (set per-read by the
   ``scan_readstat`` facade from ``sc.defaultParallelism``, and
   injected as a default by ``ReadstatDataSource.__init__`` from the
   ``_registered_parallelism`` class attribute that ``register(spark)``
   bakes into a dynamic subclass — dynamic classes cloudpickle by
   value, so the baked width reaches the plan worker with zero shared
   state; replaces the r05 tempdir hint file that concurrent sessions
   clobbered),
2. a live driver-side SparkContext (covers direct library calls),
3. ``os.cpu_count()`` of the planning machine (exact for local[*]).

The rest of this module is the scan front end every format reader
shares (reference ``ScanOptions`` + the format-agnostic batch
iterator): one parse of the reader options, the ``columns``
projection, the row span an ``offset``/``n_rows`` request covers, its
split into ``RowRange`` partitions, and the row-index column.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSourceReader, InputPartition

PART_BYTES = 48 << 20
MIN_PART_BYTES = 8 << 20
# absolute row floor — degenerate-split guard only; real floors are in
# BYTES (a 65536-row floor looked harmless for narrow records but
# forced 540 MB partitions on an 8 KB-record ANES-shape sav, the wide
# case where under-partitioning actually hurts)
MIN_PART_ROWS = 1024


def rows_per_partition(
    record_width: int, total_rows: int, cores: int | None = None
) -> int:
    """Default rows per partition for a fixed-width record scan.

    The small-input fan-out targets ONE partition per core, floored
    at ~8 MB of record bytes per task so tiny files never explode
    into confetti (each Python-DS task pays a fixed worker round-trip
    of ~20 ms). The byte floor, not a core divisor, is what guards
    the narrow case: on the 10M-row/200 MB dta the floor yields ~24
    tasks — the measured sweet spot (warm best-of-3 sweep walls
    0.64/0.42/0.40/0.49/0.64 s at 8/12/16/24/32 tasks, 12-24 within
    noise) — while decode-heavy wide files (ACS 730 MB × 286 cols)
    fan out to the full core count, measured 0.79 s vs 0.93 s at
    cores/2 (r7). Big inputs are untouched (the 48 MB byte heuristic
    binds first)."""
    rw = max(record_width, 1)
    per = max(MIN_PART_ROWS, PART_BYTES // rw)
    if not cores:
        cores = _active_cores()
    if cores > 1 and total_rows > 0:
        want = (total_rows + cores - 1) // cores
        floor = max(MIN_PART_ROWS, MIN_PART_BYTES // rw)
        per = max(floor, min(per, want))
    return per


def pages_per_partition(
    page_length: int, n_pages: int, cores: int | None = None
) -> int:
    """Same policy for page-granular partitioning (compressed SAS)."""
    pl = max(page_length, 1)
    per = max(1, PART_BYTES // pl)
    if not cores:
        cores = _active_cores()
    if cores > 1 and n_pages > 0:
        want = (n_pages + cores - 1) // cores
        floor = max(1, MIN_PART_BYTES // pl)
        per = max(floor, min(per, want))
    return per


def cores_from_options(options) -> int | None:
    """Parse the ``target_parallelism`` data source option (or None)."""
    try:
        v = options.get("target_parallelism")
        return int(v) if v not in (None, "") else None
    except Exception:
        return None


def _active_cores() -> int:
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            return int(sc.defaultParallelism)
    except Exception:  # planning must never fail on harness internals
        pass
    return os.cpu_count() or 0


def default_batch_rows(ncols: int, cores: int | None = None) -> int:
    """Rows per decoded Arrow batch for a fixed-width reader.

    Budget is ~2M elements (≈16 MB at 8-byte elements) per batch —
    wide frames get fewer rows so the row→column pivot and the IPC
    transfer work on bounded buffers. Above 16 concurrent tasks the
    per-batch budget shrinks proportionally: the JVM side of the
    Python DS bridge holds roughly (concurrent tasks × batch bytes)
    of Arrow direct memory in flight, and 32 × 16 MB overflows the
    default 1 GiB direct-memory pool of a vanilla local session
    (observed OutOfMemoryException in ArrowStreamReader; 32 × 8 MB
    fits with headroom)."""
    el = 2_000_000
    if not cores:
        cores = _active_cores()
    if cores and cores > 16:
        el = max(1_000_000, el * 16 // cores)
    return min(max(el // max(ncols, 1), 1024), 100_000)


_TRUE = {"1", "true", "yes"}


def _opt_bool(options, key: str, default: bool = False) -> bool:
    v = options.get(key)
    return default if v is None else str(v).lower() in _TRUE


def _opt_int(options, key: str, default: int | None = None) -> int | None:
    v = options.get(key)
    return default if v in (None, "") else int(v)


def column_names(options) -> list[str] | None:
    """The ``columns`` projection as a name list (None when unset)."""
    cols = options.get("columns")
    if not cols:
        return None
    return [c.strip() for c in str(cols).split(",") if c.strip()]


def selected_indices(variables, options) -> list[int]:
    """Indices into ``variables`` (anything with ``.name``) that the
    ``columns`` option selects, in the option's order; every index
    when it is unset. An unknown or repeated name is a ``ValueError``."""
    wanted = column_names(options)
    if wanted is None:
        return list(range(len(variables)))
    by_name = {v.name: i for i, v in enumerate(variables)}
    missing = [c for c in wanted if c not in by_name]
    if missing:
        raise ValueError(f"readstat: unknown columns {missing}")
    repeated = sorted({c for c in wanted if wanted.count(c) > 1})
    if repeated:
        raise ValueError(f"readstat: columns {repeated} selected more than once")
    return [by_name[c] for c in wanted]


class RowRange(InputPartition):
    def __init__(
        self,
        start: int,
        n: int,
        literal: bool = False,
        ckpt: tuple[int, int] | None = None,
        pipeline: bool = True,
    ):
        self.start = start
        self.n = n
        # False when the scan fans out to ~every core: the walk→scatter
        # thread pipeline inside sav's iter_compressed_elements only
        # helps when the host has spare cycles (serial/few-partition
        # reads); under full task fan-out it is pure oversubscription —
        # measured 0.37 s inline vs 0.51 s pooled per ACS checkpoint
        # partition at 32 concurrent tasks, and 11.0 s pooled vs
        # 14.3 s inline for the same file consumed serially (r7)
        self.pipeline = pipeline
        # True: a sav bytecode stream was proven all-literal at plan
        # time (validate_literal_stream), so this range decodes
        # independently via the affine byte↔element map
        self.literal = literal
        # (byte_off, el_off) of the nearest plan-time checkpoint at or
        # before this range's first element (build_checkpoint_index):
        # the general-stream parallel path for bias/mixed bytecode
        self.ckpt = ckpt

    def retarget(self, start: int, n: int) -> "RowRange":
        """Same plan state, narrower row window — the zone-map stripe
        trimming hook (sources/filters.py). Sound because ckpt only
        promises to sit AT OR BEFORE the range's first element (a
        later start just skips more from the same checkpoint), the
        literal affine map addresses any row directly, and pipeline
        is a pure execution hint."""
        return RowRange(
            start,
            n,
            literal=self.literal,
            ckpt=self.ckpt,
            pipeline=self.pipeline,
        )


def row_span(total: int, offset: int, limit: int | None) -> tuple[int, int]:
    """(first row, row count) an ``offset``/``n_rows`` request covers
    in a file of ``total`` rows."""
    start = min(offset, total)
    n = total - start
    if limit is not None:
        n = min(n, limit)
    return start, n


def row_ranges(start: int, n: int, per: int, **state) -> list[RowRange]:
    """Rows [start, start + n) split into ranges of ``per`` rows; one
    empty range when n is 0, so the scan still yields its schema."""
    if per < 1:
        raise ValueError(f"readstat: rows_per_partition must be >= 1, got {per}")
    return [
        RowRange(pos, min(per, start + n - pos), **state)
        for pos in range(start, start + n, per)
    ] or [RowRange(start, 0)]


def with_row_index(batch, name: str | None, first: int):
    """``batch`` with an int64 column ``name`` counting up from
    ``first`` appended (unchanged when name is unset). Callers pass
    ``first = pos + row_index_offset - offset`` for a batch that
    starts at file row ``pos``: the index is result-relative, exact in
    file order (reference O2, src/sas/polars_output.rs:443-474)."""
    if not name:
        return batch
    import numpy as np
    import pyarrow as pa

    idx = pa.array(np.arange(first, first + batch.num_rows, dtype=np.int64))
    return pa.RecordBatch.from_arrays(
        [*batch.columns, idx], names=[*batch.schema.names, name]
    )


class ScanReader(DataSourceReader):
    """The scan options every format reader reads, parsed once."""

    def __init__(self, path: str, options, variables):
        from polars_readstat_spark.sources import informative as inf

        self.path = path
        self.options = dict(options)
        self.col_indices = selected_indices(variables, options)
        self.value_labels_as_strings = _opt_bool(options, "value_labels_as_strings")
        self.missing_string_as_null = _opt_bool(options, "missing_string_as_null")
        self.row_index_name = options.get("row_index_name")
        self.row_index_offset = _opt_int(options, "row_index_offset", 0) or 0
        self.limit = _opt_int(options, "n_rows", _opt_int(options, "limit"))
        self.offset = _opt_int(options, "offset", 0) or 0
        self.batch_size = _opt_int(options, "batch_size")
        self.rows_per_partition = _opt_int(options, "rows_per_partition")
        self.target_parallelism = _opt_int(options, "target_parallelism")
        self.io_readahead = _opt_int(options, "io_readahead", 0)
        self.informative = inf.parse_opts(options)

    def _per_partition(self, record_width: int, n: int) -> int:
        return self.rows_per_partition or rows_per_partition(
            record_width, n, self.target_parallelism
        )

    def _row_plan(self, total: int, record_width: int) -> list[RowRange]:
        start, n = row_span(total, self.offset, self.limit)
        return row_ranges(start, n, self._per_partition(record_width, n))

    def _batch_rows(self) -> int:
        return self.batch_size or default_batch_rows(
            max(len(self.col_indices), 1), self.target_parallelism
        )

    def _indexed(self, batch, pos: int):
        """Row-index the batch that starts at file row ``pos``."""
        return with_row_index(
            batch, self.row_index_name, pos + self.row_index_offset - self.offset
        )
