"""XPT DataSourceReader: fixed-width records ⇒ exact row-range
partitions on the shared scan front end (sources/partplan.py), the
reference src/sas/xpt.rs batch iterator re-expressed."""

from __future__ import annotations

from polars_readstat_spark.sources.columns import build_batch
from polars_readstat_spark.sources.partplan import ScanReader
from polars_readstat_spark.sources.xpt.meta import (
    XptMeta,
    decode_columns,
    parse_xpt_meta,
)


class XptReader(ScanReader):
    def __init__(self, path: str, options, meta: XptMeta | None = None):
        self.meta = meta or parse_xpt_meta(path)
        super().__init__(path, options, self.meta.variables)

    def partitions(self):
        return self._row_plan(self.meta.n_rows, self.meta.record_width)

    def read(self, partition):
        m = self.meta
        from polars_readstat_spark.sources.datasource import column_specs

        specs = column_specs("xpt", m, self)

        def decode(buf):
            return build_batch(
                decode_columns(m, buf, self.col_indices, specs),
                self.informative, self.missing_string_as_null,
            )

        if partition.n == 0:
            yield self._indexed(decode(b""), partition.start)
            return

        # raw range fetches, separable from decode so io_readahead
        # overlaps the NEXT range's first-byte latency with the
        # CURRENT range's decode (shared seam, sources/readahead.py)
        from polars_readstat_spark.sources.readahead import (
            fetch_row_ranges,
        )

        for pos, _cnt, buf in fetch_row_ranges(
            self.path, m.data_offset, max(m.record_width, 1),
            partition.start, partition.n, self._batch_rows(),
            self.io_readahead,
        ):
            yield self._indexed(decode(buf), pos)
