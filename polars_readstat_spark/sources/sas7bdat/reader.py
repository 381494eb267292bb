"""SAS7BDAT DataSourceReader: partition planning + executor decode.

Partitioning (reference §4.2 translated to Spark):
- uncompressed: the driver prescans page *headers* only (6 bytes per
  page at exact offsets) to learn per-page row counts, then emits
  page-range InputPartitions with exact global row offsets — executors
  seek straight to their pages, zero coordination. At 100 TB the
  prescan is O(pages) metadata reads on the driver; it can itself be
  distributed as a first Spark job if ever needed.
- RLE/RDC compressed: each ROW is compressed independently inside a
  self-contained page, so plain full scans partition by page range —
  parallel decompression where the reference is serial-only
  (PARALLELIZATION.md:34-40). Slicing / row_index requests (which
  need global row offsets that meta-page headers don't reveal) and
  files with MIX pages (whose trailing-row clamp is position-
  dependent) fall back to one streamed partition.
"""

from __future__ import annotations

from pyspark.sql.datasource import InputPartition

from polars_readstat_spark.sources.fs import fs_open
from polars_readstat_spark.sources.partplan import (
    ScanReader,
    _opt_int,
    pages_per_partition,
    row_span,
)
from polars_readstat_spark.sources.sas7bdat.meta import SasMeta, parse_sas_meta
from polars_readstat_spark.sources.sas7bdat.pages import (
    page_row_bytes,
    page_row_count,
)


class SasPageRange(InputPartition):
    def __init__(self, first_page: int, n_pages: int, row_start: int, skip: int, take: int):
        self.first_page = first_page
        self.n_pages = n_pages
        self.row_start = row_start  # global row index of first row in range
        self.skip = skip  # rows to drop at range start (offset pushdown)
        self.take = take  # rows to emit after skip (-1 = all)


class SasReader(ScanReader):
    def __init__(self, path: str, options, meta: SasMeta | None = None):
        self.meta = meta or parse_sas_meta(path)
        super().__init__(path, options, self.meta.columns)

    # -- planning ---------------------------------------------------

    def _has_mix_pages(self) -> bool:
        """Header-only prescan (6 bytes/page) for MIX-type pages —
        the one page type whose row extraction needs a global row
        position (the trailing clamp in page_row_bytes). Memoized by
        (path, mtime, size) like the meta parse: the prescan seeks
        every page header (~50 ms on the ACS shape) and is pure file
        geometry."""
        from polars_readstat_spark.sources.metamemo import memoized_parse

        return memoized_parse("sas_has_mix", self.path, self._scan_mix)

    def _iter_page_headers(self, need: int):
        """(page_idx, header_bytes) for every page, header-only.

        Local files seek per page (page-cache reads, ~µs each). A
        remote path must NOT pay page_count first-byte latencies —
        a 10k-page file would spend 500 s of pure wait at 50 ms/range
        — so headers are read in ~4 MiB grouped ranges (the same unit
        the data path range-GETs): one range yields every header in
        its span, page_count/G round trips total. Object-store GET
        cost is dominated by the request, not the bytes, and the
        metamemo sidecar makes even that a once-per-file-ever cost."""
        from polars_readstat_spark.sources.fs import is_remote

        m = self.meta
        if not is_remote(self.path):
            with fs_open(self.path) as f:
                for i in range(m.page_count):
                    f.seek(m.header_length + i * m.page_length)
                    hdr = f.read(need)
                    if len(hdr) < need:
                        return
                    yield i, hdr
            return
        group = max(1, (4 << 20) // max(m.page_length, 1))
        with fs_open(self.path) as f:
            for g0 in range(0, m.page_count, group):
                gn = min(group, m.page_count - g0)
                f.seek(m.header_length + g0 * m.page_length)
                blob = f.read(gn * m.page_length)
                for j in range(gn):
                    hdr = blob[j * m.page_length : j * m.page_length + need]
                    if len(hdr) < need:
                        return
                    yield g0 + j, hdr

    def _scan_mix(self, _path: str) -> bool:
        from polars_readstat_spark.sources.sas7bdat.pages import (
            _PageReader,
        )
        from polars_readstat_spark.sources.sas7bdat.meta import (
            PAGE_MIX_TYPE,
        )

        m = self.meta
        for _i, hdr in self._iter_page_headers(m.page_bit_offset + 8):
            if _PageReader(m, hdr).page_type == PAGE_MIX_TYPE:
                return True
        return False

    def _page_rows(self) -> list[int]:
        """Per-page row counts from page headers only (driver-side).
        Memoized by (path, mtime, size) — pure file geometry, reused
        across every plan of the same file."""
        from polars_readstat_spark.sources.metamemo import memoized_parse

        return memoized_parse("sas_page_rows", self.path, self._scan_page_rows)

    def _scan_page_rows(self, _path: str) -> list[int]:
        m = self.meta
        counts = []
        rows = 0
        for _i, hdr in self._iter_page_headers(m.page_bit_offset + 6):
            n = page_row_count(m, hdr, rows)
            counts.append(n)
            rows += n
        return counts

    def partitions(self):
        m = self.meta
        total = m.row_count
        start, want = row_span(total, self.offset, self.limit)
        end = start + want

        if m.compression:
            # RLE/RDC compress each ROW independently inside its page,
            # so pages are self-contained decode units — page-range
            # partitions parallelize what the reference reads serially
            # (PARALLELIZATION.md:34-40). Two prerequisites:
            # - no slicing/row_index (global row offsets are unknowable
            #   from page headers of meta-type pages), and
            # - no MIX pages (their trailing-row clamp depends on the
            #   global row position; compressed files in the wild store
            #   rows in META/DATA pages — verified across the corpus).
            plain = start == 0 and want == total and not self.row_index_name
            if plain and m.page_count > 1 and not self._has_mix_pages():
                per_pages = _opt_int(
                    self.options, "pages_per_partition"
                ) or pages_per_partition(
                    m.page_length, m.page_count, self.target_parallelism
                )
                return [
                    SasPageRange(
                        i, min(per_pages, m.page_count - i), 0, 0, -1
                    )
                    for i in range(0, m.page_count, per_pages)
                ]
            # slicing / row-index / mix pages: serial, exact semantics
            return [SasPageRange(0, m.page_count, 0, start, want)]

        counts = self._page_rows()
        per = self._per_partition(m.row_length, want)
        parts: list[SasPageRange] = []
        rows_before = 0
        range_first = None
        range_rows = 0
        range_row_start = 0

        def flush(first, npages, row_start, nrows):
            if npages <= 0 or nrows <= 0:
                return
            # clip to [start, end)
            r0, r1 = row_start, row_start + nrows
            s0, s1 = max(r0, start), min(r1, end)
            if s0 >= s1:
                return
            parts.append(
                SasPageRange(first, npages, row_start, s0 - r0, s1 - s0)
            )

        for idx, n in enumerate(counts):
            if n <= 0:
                continue
            if range_first is None:
                range_first = idx
                range_row_start = rows_before
                range_rows = 0
            range_rows += n
            rows_before += n
            if range_rows >= per:
                flush(range_first, idx - range_first + 1, range_row_start, range_rows)
                range_first = None
        if range_first is not None:
            flush(
                range_first,
                len(counts) - range_first,
                range_row_start,
                range_rows,
            )
        return parts or [SasPageRange(0, 0, 0, 0, 0)]

    # -- execution --------------------------------------------------

    def read(self, partition: SasPageRange):
        from polars_readstat_spark.sources.columns import build_batch
        from polars_readstat_spark.sources.datasource import column_specs
        from polars_readstat_spark.sources.sas7bdat.decode import (
            decode_columns,
        )

        m = self.meta
        batch_rows = self._batch_rows()
        rl = max(m.row_length, 1)
        specs = column_specs("sas7bdat", m, self)

        def emit(chunk: bytes, global_start: int):
            batch = build_batch(
                decode_columns(m, chunk, self.col_indices, specs),
                self.informative, self.missing_string_as_null,
            )
            return self._indexed(batch, global_start)

        if partition.n_pages == 0:
            yield emit(b"", 0)
            return

        skip = partition.skip
        take = partition.take
        emitted = 0
        pending = bytearray()
        pending_start = partition.row_start + skip
        rows_seen = partition.row_start  # global rows before current page

        def raw_ranges(f):
            """Contiguous multi-page range fetches (~4 MiB per request,
            the object-store IO unit — one first-byte latency per range,
            not per page). With io_readahead the NEXT range's fetch
            overlaps the CURRENT range's decompress+decode downstream."""
            pl = max(m.page_length, 1)
            per = max(1, (4 << 20) // pl)
            p = partition.first_page
            end = p + partition.n_pages
            while p < end:
                k = min(per, end - p)
                f.seek(m.header_length + p * pl)
                yield f.read(k * pl)
                p += k

        def split_pages(ranges):
            pl = m.page_length
            for blob in ranges:
                nfull = len(blob) // pl
                for i in range(nfull):
                    yield blob[i * pl : (i + 1) * pl]
                if nfull * pl < len(blob) or nfull == 0:
                    return  # truncated tail page: stop, like a short read

        def page_blobs(f):
            """Per-page row bytes, decompressing compressed META pages
            in cross-page groups (~16k rows per vectorized wavefront
            call — the sweet spot measured for both codecs; per-page
            batches are ~10× smaller and lose the amortization)."""
            from polars_readstat_spark.sources.sas7bdat.meta import RDC
            from polars_readstat_spark.sources.sas7bdat.pages import (
                batch_decompress_pages,
                page_compressed_items,
            )

            # measured sweet spots: RDC's heavier per-iteration
            # bookkeeping wants big groups; RLE turns cache-bound and
            # prefers small ones
            group_rows = 16384 if m.compression == RDC else 2048
            group: list = []
            grows = 0

            def flush():
                nonlocal group, grows
                if group:
                    yield from batch_decompress_pages(m, group)
                    group, grows = [], 0

            ranges = raw_ranges(f)
            if self.io_readahead > 0:
                from polars_readstat_spark.sources.readahead import (
                    readahead,
                )

                # buffer RANGES (bounded: depth × ~4 MiB), so a whole
                # fetch runs ahead of the decode wavefront
                ranges = readahead(ranges, self.io_readahead)
            for page in split_pages(ranges):
                items = (
                    page_compressed_items(m, page) if m.compression else None
                )
                if items is None:
                    yield from flush()
                    # rows_seen is exact here: every grouped page's
                    # row count was accounted when its blob was
                    # consumed, and flush() drained the group
                    yield page_row_bytes(m, page, rows_seen)
                    continue
                group.append((page, items))
                grows += len(items)
                if grows >= group_rows:
                    yield from flush()
            yield from flush()

        with fs_open(self.path) as f:
            for rb in page_blobs(f):
                n = len(rb) // rl
                rows_seen += n
                if n == 0:
                    continue
                lo = 0
                if skip > 0:
                    drop = min(skip, n)
                    lo = drop
                    skip -= drop
                if lo >= n:
                    continue
                avail = n - lo
                if take >= 0:
                    avail = min(avail, take - emitted)
                if avail <= 0:
                    break
                pending += rb[lo * rl : (lo + avail) * rl]
                emitted += avail
                while len(pending) >= batch_rows * rl:
                    chunk = bytes(pending[: batch_rows * rl])
                    del pending[: batch_rows * rl]
                    yield emit(chunk, pending_start)
                    pending_start += batch_rows
                if take >= 0 and emitted >= take:
                    break
        if pending or emitted == 0:
            yield emit(bytes(pending), pending_start)
