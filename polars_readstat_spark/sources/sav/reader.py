"""SAV/ZSAV DataSourceReader.

Partitioning (reference spss/polars_output.rs:362-430 strategy,
re-planned for Spark — the reference reads compressed streams
strictly serially, PARALLELIZATION.md:34-40):
- uncompressed: exact row-range partitions (case = case_size×8 bytes
  ⇒ byte seek), same scale story as the Stata reader;
- bytecode/zsav proven all-literal at plan time
  (validate_literal_stream, sidecar-cached): the byte↔element map is
  affine, so row-range partitions decode independently — zsav tasks
  inflate only their own zlib blocks;
- any other bytecode stream (bias/mixed commands — what SPSS itself
  writes for integer-heavy data): a plan-time checkpoint index
  (build_checkpoint_index, sidecar-cached) records command-group
  boundaries; row-range tasks restart the decoder at the nearest
  checkpoint. Small streams stay serial with memory bounded by one
  chunk (iter_compressed_rows) — a 50 GB decompressed zsav reads in
  constant executor memory either way.
"""

from __future__ import annotations

import numpy as np

from polars_readstat_spark.sources.fs import fs_size
from polars_readstat_spark.sources.partplan import (
    RowRange,
    ScanReader,
    _active_cores,
    row_ranges,
    row_span,
)


class SavReader(ScanReader):
    # io_readahead runs at each path's fetch/decode seam: the
    # uncompressed row loop and the compressed chunk loop (sequential
    # + checkpoint, via iter_compressed_elements); the literal path
    # issues ONE contiguous range fetch per partition, which has no
    # loop to pipeline. zsav block fetches overlap on the inflate pool
    # instead.
    def __init__(self, path: str, options):
        from polars_readstat_spark.sources.sav.meta import parse_sav_meta

        self.meta = parse_sav_meta(path)
        super().__init__(path, options, self.meta.variables)
        # bench A/B switch for the zsav inflate pool (default on);
        # the serial arm of the floor_zsav_lat50_* probe pair sets 0
        self.zsav_pool = str(options.get("io_zsav_pool", "1")) != "0"

    def _total_rows(self) -> int:
        m = self.meta
        if m.nobs >= 0:
            return m.nobs
        if m.compression == 0:
            sz = fs_size(self.path) - m.data_offset
            return sz // m.record_width
        # compressed with unknown count: one streaming pass (rare)
        from polars_readstat_spark.sources.sav.decode import count_compressed_rows

        return count_compressed_rows(m)

    def partitions(self):
        start, n = row_span(self._total_rows(), self.offset, self.limit)
        per = self._per_partition(self.meta.record_width, n)
        if self.meta.compression != 0:
            # bytecode streams are sequential in general — but the
            # all-literal framing (the only one our writer emits, and
            # a real shape for non-integer-heavy data) has an affine
            # byte↔element map, so after ONE validated sequential
            # pass (plan-time, sidecar-cached) the stream partitions
            # exactly like an uncompressed file. Anything else stays
            # the reference-parity serial plan.
            lit = False
            if self.meta.nobs > 0 and n > 0:
                from polars_readstat_spark.sources.sav.decode import (
                    validate_literal_stream,
                )

                try:
                    lit = validate_literal_stream(self.meta, self.meta.nobs)
                except Exception as e:
                    # degrading to the serial plan is a 10-20x wall
                    # regression on a big stream — never do it silently
                    # (BENCH r7 recorded a 21 s zsav read where the
                    # isolated wall is 1.2 s; the fallback path was the
                    # only explanation that fits)
                    import sys as _sys

                    print(
                        f"readstat: literal validation failed on "
                        f"{self.path}: {e!r} — trying checkpoint plan",
                        file=_sys.stderr,
                    )
                    lit = False
            if not lit:
                # general bytecode (bias/mixed commands — what SPSS
                # itself writes for integer-heavy data): one plan-time
                # checkpoint walk (sidecar-cached) buys exact
                # row-range partitions; small streams stay serial
                return self._ckpt_partitions(start, n, per) or [
                    RowRange(start, n)
                ]
            return row_ranges(start, n, per, literal=True)
        return row_ranges(start, n, per)

    def _ckpt_partitions(self, start: int, n: int, per: int):
        """Row-range partitions for a general (non-all-literal)
        bytecode stream via a plan-time checkpoint index; None when
        not worthwhile (small stream / single partition)."""
        if n <= 0:
            return None
        from polars_readstat_spark.sources.sav.decode import (
            build_checkpoint_index,
            stream_nbytes,
        )

        meta = self.meta
        cs = meta.case_size
        # below ~16 MB of stream the serial decode is already fast and
        # the walk pass isn't worth planning — unless the caller asked
        # for explicit partition sizing (tests, tuned reads)
        if self.rows_per_partition is None and stream_nbytes(meta) < (
            16 << 20
        ):
            return None
        if per >= n:
            return None
        # checkpoint spacing ~per/4 rows of elements (waste per task ≤
        # one spacing), quantized to a power of two so repeated reads
        # with near-equal plans share one sidecar
        # spacing per/16 rows of elements: a task re-decodes at most
        # one spacing of lead-in from its checkpoint, so tighter
        # spacing directly cuts tail skew (per/4 meant up to 25% of a
        # partition's span wasted on the lead-in; now ≤6%). The cost
        # is only sidecar entries — the walk is one pass either way.
        raw_sp = max((per * cs) // 16, 8 * cs, 1024)
        ckpt_els = 1 << (int(raw_sp).bit_length() - 1)
        try:
            ck, _total_el = build_checkpoint_index(meta, ckpt_els)
        except Exception as e:
            import sys as _sys

            print(
                f"readstat: checkpoint index failed on {meta.path}: "
                f"{e!r} — falling back to the SERIAL bytecode plan",
                file=_sys.stderr,
            )
            return None
        if ck.shape[0] < 2:
            return None
        cores = self.target_parallelism or _active_cores() or 1
        parts = row_ranges(start, n, per)
        pipe = 2 * len(parts) <= cores
        for p in parts:
            j = int(np.searchsorted(ck[:, 1], p.start * cs, side="right") - 1)
            p.ckpt = (int(ck[j, 0]), int(ck[j, 1]))
            p.pipeline = pipe
        return parts

    def read(self, partition):
        from polars_readstat_spark.sources.columns import build_batch
        from polars_readstat_spark.sources.datasource import column_specs
        from polars_readstat_spark.sources.sav.decode import (
            decode_columns,
            iter_compressed_rows,
        )

        meta = self.meta
        rw = meta.record_width
        batch_rows = self._batch_rows()
        specs = column_specs("sav", meta, self)

        def emit(rows, pos):
            batch = build_batch(
                decode_columns(meta, rows, self.col_indices, specs),
                self.informative, self.missing_string_as_null,
            )
            return self._indexed(batch, pos)

        if partition.n == 0:
            yield emit(np.empty((0, rw), dtype=np.uint8), partition.start)
            return

        if meta.compression != 0:
            ck = partition.ckpt
            if ck is not None:
                from polars_readstat_spark.sources.sav.decode import (
                    iter_checkpoint_rows,
                )

                for pos, rows in iter_checkpoint_rows(
                    meta, partition.start, partition.n, batch_rows,
                    ck[0], ck[1],
                    pipeline=partition.pipeline,
                    io_readahead=self.io_readahead,
                    zsav_pool=self.zsav_pool,
                ):
                    yield emit(rows, pos)
                return
            if partition.literal:
                from polars_readstat_spark.sources.sav.decode import (
                    iter_literal_rows,
                )

                for pos, rows in iter_literal_rows(
                    meta, partition.start, partition.n, batch_rows,
                    meta.nobs,
                    zsav_pool=self.zsav_pool,
                ):
                    yield emit(rows, pos)
                return
            # sequential command stream: decode once, bounded memory —
            # one chunk + one partial case live at a time (round-1 OOM
            # fix; reference streams serially too, spss/data.rs:1628)
            for pos, rows in iter_compressed_rows(
                meta, partition.start, partition.n, batch_rows,
                io_readahead=self.io_readahead,
                zsav_pool=self.zsav_pool,
            ):
                yield emit(rows, pos)
            return

        # raw range fetches, separable from decode so io_readahead
        # overlaps the NEXT range's first-byte latency with the
        # CURRENT range's decode (shared seam, sources/readahead.py)
        from polars_readstat_spark.sources.readahead import (
            fetch_row_ranges,
        )

        it = fetch_row_ranges(
            self.path, meta.data_offset, rw,
            partition.start, partition.n, batch_rows,
            self.io_readahead,
        )
        for pos, cnt, buf in it:
            rows = np.frombuffer(buf, dtype=np.uint8, count=cnt * rw).reshape(
                cnt, rw
            )
            yield emit(rows, pos)
