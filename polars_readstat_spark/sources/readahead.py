"""Bounded read-ahead for high-latency byte sources.

On local disk an in-reader prefetch thread only duplicates OS
readahead (SCALE.md A4 note), so every reader consumes its pages
inline by default. On object storage each range request pays
~50-100 ms first-byte latency that the OS cannot hide, and the win is
overlapping the NEXT range's latency with the CURRENT range's decode —
exactly one producer thread and a depth-bounded queue, never an
unbounded buffer (reference parity: scan_prefetch.rs:35-52 bounds its
prefetch the same way).

``readahead(it, depth)`` wraps a fetch iterator: a daemon thread
pulls up to ``depth`` items ahead while the consumer drains the queue.
Memory is bounded by depth × item size; exceptions re-raise in the
consumer with their original traceback; an abandoned consumer lets the
producer park on the full queue and die with the process (daemon) —
generator close() also unblocks it explicitly.

It runs at one layer only, each reader's fetch/decode seam: dta, xpt
and uncompressed sav row ranges (``fetch_row_ranges``), sas7bdat
4 MiB page ranges and the sav/zsav bytecode chunks. por reads its
file in one request, so there is nothing to run ahead of. Enabled
per read via ``io_readahead`` (depth; 0 = off, the local default,
2 for remote URIs):

    spark.read.format("readstat").option("io_readahead", "2").load(p)

Latency itself is modelled in one place, the ``simlat<N>://``
filesystem seam (sources/fs.py): every open and seek there pays N ms,
on the same code path a real object store read takes. The bench
floor pairs (``floor_*_lat*``) time this pipeline through that seam.
"""

from __future__ import annotations

import queue
import threading
from collections.abc import Iterator

from polars_readstat_spark.sources.fs import fs_open

_SENTINEL = object()


class _Raised:
    __slots__ = ("exc",)

    def __init__(self, exc: BaseException):
        self.exc = exc


def readahead(it: Iterator, depth: int = 2) -> Iterator:
    """Yield from `it` with up to `depth` items produced ahead by a
    single background thread. Order-preserving; exceptions from the
    producer re-raise at the consumer's next pull."""
    if depth <= 0:
        yield from it
        return
    q: queue.Queue = queue.Queue(maxsize=depth)
    stop = threading.Event()

    def relay(item) -> bool:
        """Stop-checked timed put: never drops `item` while the consumer
        is still alive, never parks forever once it's gone. Returns
        False only when the consumer abandoned the generator."""
        while not stop.is_set():
            try:
                q.put(item, timeout=0.1)
                return True
            except queue.Full:
                continue
        return False

    def pump() -> None:
        try:
            for item in it:
                if not relay(item):
                    return
            relay(_SENTINEL)
        except BaseException as e:  # noqa: BLE001 — relayed, not dropped
            # the terminator gets the same loop as data items: a busy
            # consumer (>1s behind) must still receive the error, else
            # an inner-reader failure becomes an indefinite task hang
            relay(_Raised(e))

    t = threading.Thread(target=pump, daemon=True, name="prs-readahead")
    t.start()
    try:
        while True:
            item = q.get()
            if item is _SENTINEL:
                return
            if isinstance(item, _Raised):
                raise item.exc
            yield item
    finally:
        # consumer abandoned early (limit, task kill): unblock the
        # producer's put loop so the thread exits promptly
        stop.set()


def fetch_row_ranges(
    path: str,
    data_offset: int,
    record_width: int,
    start: int,
    n: int,
    batch_rows: int,
    io_readahead: int = 0,
):
    """Raw fixed-width row-range fetches for [start, start+n), yielded
    as (pos, cnt, buf) — the fetch half of the fetch/decode pipeline
    shared by the dta / uncompressed-sav / xpt readers. With
    io_readahead > 0 the NEXT range's first-byte latency overlaps the
    caller's decode of the CURRENT range. Each range is one seek + read,
    one range request on a remote filesystem."""

    def fetched():
        with fs_open(path) as f:
            pos = start
            end = start + n
            while pos < end:
                cnt = min(batch_rows, end - pos)
                f.seek(data_offset + pos * record_width)
                yield pos, cnt, f.read(cnt * record_width)
                pos += cnt

    it = fetched()
    if io_readahead > 0:
        it = readahead(it, io_readahead)
    return it

