"""Vectorized SPSS case decode: 8-byte elements → pyarrow arrays.

Uncompressed cases are fixed-width (case_size × 8 bytes) ⇒ exact byte
seeks and embarrassingly-parallel row-range partitions, like the Stata
path. Bytecode compression (and zsav, whose zlib blocks decompress to
the same bytecode stream) is a sequential command stream — the
reference also reads it serially (PARALLELIZATION.md:34-40); we decode
it with a two-pass numpy approach rather than a per-value loop:

  pass 1: walk command blocks (Python loop over *blocks*, not values)
  pass 2: vectorized scatter of literals / constants / (code - bias)
          into one (n_elements × 8) byte matrix, kept in file
          endianness so column decode is uniform with the
          uncompressed path.

Command bytes (public PSPP spec): 0 padding, 1-251 value = code-bias,
252 end-of-data, 253 literal 8-byte element follows, 254 all-spaces
string element, 255 system-missing.

Reference parity: spss/data.rs (SavRowDecompressor :1628-1760, missing
rules :998-1026, very-long-string reconstruct :1028-1048).

Per selected column ``decode_columns`` yields a finished string array
or the numeric (values, missing mask, tag codes) triple; declared
discrete and range missings become codes into a per-column dictionary
(``missing_dictionary`` / ``missing_codes``). The shared decode tail
(sources/columns.py) applies value labels, the 1582-epoch date /
datetime / time promotion, and builds and assembles the indicator.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from polars_readstat_spark.sources import strdecode
from polars_readstat_spark.sources.columns import ColumnSpec
from polars_readstat_spark.sources.fs import fs_open, fs_size
from polars_readstat_spark.sources.sav.meta import (
    HIGHEST_BITS,
    LOWEST_BITS,
    SYSMIS_BITS,
    SavMeta,
    SavVar,
    read_compressed_stream,
)

_CMD_LUT_CACHE: dict[tuple[float, bool], np.ndarray] = {}


def _cmd_lut(meta: SavMeta) -> np.ndarray:
    """(256, 8) uint8 table: the 8-byte element each command byte
    expands to — (code - bias) doubles for 1-251, spaces for 254,
    sysmis for 255. Rows 0/252/253 are never read through the table
    (0 emits nothing, 252 stops the stream, 253 is overwritten with
    the literal). One gather through this replaces three masked
    scatters plus a float conversion in the hot scatter pass."""
    key = (float(meta.bias), bool(meta.little_endian))
    lut = _CMD_LUT_CACHE.get(key)
    if lut is None:
        ef = "<" if meta.little_endian else ">"
        lut = np.empty((256, 8), dtype=np.uint8)
        codes = np.arange(256, dtype=np.float64) - meta.bias
        lut[:] = codes.astype(ef + "f8").view(np.uint8).reshape(256, 8)
        lut[254] = ord(" ")
        lut[255] = np.frombuffer(
            np.uint64(SYSMIS_BITS).astype(ef + "u8").tobytes(),
            dtype=np.uint8,
        )
        _CMD_LUT_CACHE[key] = lut
    return lut


def _decode_cmd_group(blocks: np.ndarray, cmd_idx: np.ndarray, meta: SavMeta):
    """Vectorized pass 2 over one self-contained group of 8-byte blocks:
    every non-literal command expands to its 8-byte element
    ((code - bias) / spaces / sysmis), then literal positions are
    overwritten from the literal blocks. Returns
    (elements, saw_end_of_data).

    Native-endian files (the overwhelming case) compute the biased
    codes DIRECTLY — float64 subtract viewed as bytes — instead of
    gathering through the 256×8 LUT: bitwise-identical output at 1.7×
    the speed (the gather's random 8-byte row loads are the cost; the
    subtract streams). Specials (254/255) patch via the LUT on their
    rare positions; foreign-endian files keep the LUT path. Literal
    placement needs no cumsum: the k 253-positions consume the first
    k literal blocks in stream order."""
    cmds = blocks[cmd_idx].reshape(-1)
    stopped = False
    stop = np.flatnonzero(cmds == 252)
    if stop.size:
        cmds = cmds[: stop[0]]
        stopped = True
    el_cmds = cmds[cmds != 0]

    if bool(meta.little_endian) == bool(np.little_endian):
        vals = el_cmds.astype(np.float64)
        vals -= meta.bias
        out = vals.view(np.uint8).reshape(-1, 8)
        spec = np.flatnonzero(el_cmds >= 254)
        if spec.size:
            out[spec] = _cmd_lut(meta)[el_cmds[spec]]
    else:
        out = _cmd_lut(meta)[el_cmds]
    idx253 = np.flatnonzero(el_cmds == 253)
    if idx253.size:
        lit_mask = np.ones(blocks.shape[0], dtype=bool)
        lit_mask[cmd_idx] = False
        literals = blocks[lit_mask]
        out[idx253] = literals[: idx253.size]
    return out, stopped


def _all_literal_elements(blocks: np.ndarray):
    """Pass 2 for a chunk the walk proved is pure stride-9 all-literal
    groups: elements = the 8 literal rows of every 9-row group, one
    contiguous strided copy. Same (k, 8) output as _decode_cmd_group
    with stopped=False (an all-253 command block contains no 252)."""
    seg = blocks.reshape(-1, 9, 8)
    return np.ascontiguousarray(seg[:, 1:, :]).reshape(-1, 8), False


def decompress_bytecode(raw: bytes, meta: SavMeta) -> np.ndarray:
    """Whole bytecode stream → (n_elements, 8) matrix (small-input /
    test helper; the scan path streams via iter_compressed_elements)."""
    nb8 = len(raw) // 8
    blocks = np.frombuffer(raw, dtype=np.uint8, count=nb8 * 8).reshape(-1, 8)
    c253 = (blocks == 253).sum(axis=1).tolist()
    cmd_idx_l = []
    i = 0
    while i < nb8:
        cmd_idx_l.append(i)
        i += 1 + c253[i]
    out, _ = _decode_cmd_group(
        blocks, np.asarray(cmd_idx_l, dtype=np.int64), meta
    )
    return out


def _iter_zsav_inflated(
    meta: SavMeta,
    start_byte: int = 0,
    use_pool: bool = True,
):
    """zsav inflated-stream chunks from uncompressed offset start_byte:
    per-block zlib inflates (each block is a self-contained zlib
    stream, reference spss/data.rs:1794-1860) on a small thread pool
    (zlib releases the GIL), yielding strictly in block order with
    bounded look-ahead: a single inflate-ahead thread capped the whole
    read at one core's ~300 MB/s — 5.2 s on a 1.6 GB-raw ACS-shape
    file, measured as THE wall — while the group walk + scatter
    consumers run well above that. Four threads push decompression off
    the critical path; ≤8 in-flight blocks bound memory at ~32 MB.

    Each block is one seek + read: one range request on a remote
    filesystem, where the latency model is the seam's (sources/fs.py;
    simlat<N>:// charges N ms per open and per seek). On a remote path
    every pool thread reads through its own handle, so the 4 range
    GETs are in flight concurrently and their first-byte waits overlap
    like the inflates do (VERDICT r09 next#7). use_pool=False forces
    the inline fallback — the serial arm of the bench A/B pair."""
    import threading
    import zlib
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    blocks = list(meta.zsav.blocks)
    skip0 = 0
    if start_byte:
        starts = np.concatenate(
            [[0], np.cumsum([b[2] for b in blocks])]
        ).astype(np.int64)
        if start_byte >= int(starts[-1]):
            return
        b0 = int(np.searchsorted(starts, start_byte, side="right") - 1)
        skip0 = start_byte - int(starts[b0])
        blocks = blocks[b0:]
    from contextlib import nullcontext

    from polars_readstat_spark.sources.fs import is_remote

    # On a remote filesystem a shared handle would SERIALIZE the
    # per-range first-byte waits behind lock_read, defeating the pool
    # (each seek+read pays latency inside the lock). A real remote
    # reader issues its concurrent range GETs on separate connections
    # — so each pool thread opens its own handle, lazily, and the
    # waits overlap; no shared handle is opened (its open would be one
    # more request). Local files keep the single shared handle (an
    # extra open per thread buys nothing there).
    remote = is_remote(meta.path)
    with nullcontext() if remote else fs_open(meta.path) as f:
        lock_read = threading.Lock()
        tl = threading.local()
        extra_handles: list = []
        handles_lock = threading.Lock()

        def _thread_handle():
            h = getattr(tl, "f", None)
            if h is None:
                h = fs_open(meta.path)
                tl.f = h
                with handles_lock:
                    extra_handles.append(h)
            return h

        def inflate(blk):
            c_ofs, c_sz, _unc = blk
            if remote:
                h = _thread_handle()
                h.seek(c_ofs)
                raw = h.read(c_sz)
            else:
                with lock_read:
                    f.seek(c_ofs)
                    raw = f.read(c_sz)
            return zlib.decompress(raw)

        try:
            pool_cm = ThreadPoolExecutor(4) if use_pool else None
            if pool_cm is not None:
                pool_cm.submit(int).result()  # probe: spawns thread #1 now
        except Exception:
            # thread exhaustion on a loaded host must not fail (or
            # slow-path) the read — inflate inline, same output
            pool_cm = None
        try:
            if pool_cm is None:
                for blk in blocks:
                    out = inflate(blk)
                    if skip0:
                        out, skip0 = out[skip0:], 0
                    if out:
                        yield out
                return
            with pool_cm as pool:
                inflight: deque = deque()
                it = iter(blocks)
                for blk in it:
                    inflight.append(pool.submit(inflate, blk))
                    if len(inflight) >= 8:
                        break

                def emit(out):
                    nonlocal skip0
                    if skip0:
                        out, skip0 = out[skip0:], 0
                    return out

                for blk in it:
                    out = inflight.popleft().result()
                    inflight.append(pool.submit(inflate, blk))
                    o = emit(out)
                    if o:
                        yield o
                while inflight:
                    o = emit(inflight.popleft().result())
                    if o:
                        yield o
        finally:
            # close the per-thread remote handles (pool threads are
            # gone once the executor context exits; on generator
            # close the shutdown inside `with pool_cm` drains first)
            with handles_lock:
                for h in extra_handles:
                    try:
                        h.close()
                    except Exception:  # noqa: BLE001
                        pass
                extra_handles.clear()


def _iter_raw_chunks(
    meta: SavMeta,
    chunk_bytes: int,
    start_byte: int = 0,
    zsav_pool: bool = True,
):
    """Raw bytecode stream in bounded pieces starting at uncompressed
    stream offset start_byte: file slices for compression=1, per-block
    thread-pooled zlib inflates for zsav (_iter_zsav_inflated).
    Under the seam's latency model (sources/fs.py) compression=1 is
    one sequential GET: one seek, then chunk reads that pay no further
    first-byte wait; zsav pays one range request per zlib block."""
    if meta.compression == 2:
        yield from _iter_zsav_inflated(meta, start_byte, use_pool=zsav_pool)
        return
    with fs_open(meta.path) as f:
        f.seek(meta.data_offset + start_byte)
        while True:
            b = f.read(chunk_bytes)
            if not b:
                return
            yield b


def _try_period_extend(c253f: np.ndarray, nb8: int, hist: list, i: int):
    """Periodic-pattern fast-forward: fixed-width rows whose
    compressibility profile repeats (any real SPSS file whose columns
    keep a stable biasable/literal mix — the ACS shape) produce a
    group-boundary stride sequence with a short period. Detect the
    period from recent boundary strides (one C-speed bytes compare
    per candidate), then verify candidate repeats with ONE vectorized
    gather: the walk from a boundary depends ONLY on the
    command-count bytes AT boundary positions, so if c253f at
    base + p*j equals the pattern for j = 1..k, each repeat walks the
    same strides and exits at i + p*k — exact by induction, no
    realignment risk.

    Returns (boundaries, next_i, q) or None."""
    L = min(len(hist), 1024)
    arr = hist[-L:] + [i]
    D = np.diff(np.asarray(arr, dtype=np.int64)).astype(np.uint8).tobytes()
    n = len(D)
    q = 0
    for cand in range(1, n // 2 + 1):
        t = D[n - cand :]
        if t == D[n - 2 * cand : n - cand] and len(set(t)) > 1:
            # uniform-stride candidates (all strides equal) are the
            # uniform-run branch's job; accepting them here would
            # degenerate to 1-group-at-a-time extension whenever the
            # suffix sits inside a long c=0/c=8 run, hiding the true
            # row-level period
            q = cand
            break
    if not q:
        return None
    p = i - arr[-1 - q]
    K = (nb8 - i) // p
    if K < 1:
        return None
    base = np.asarray(arr[-1 - q : -1], dtype=np.int64)
    patc = c253f[base]

    def check(kt):
        pos = base[None, :] + p * np.arange(1, kt + 1, dtype=np.int64)[:, None]
        eq = (c253f[pos] == patc[None, :]).all(axis=1)
        bad = np.flatnonzero(~eq)
        return (int(bad[0]) if bad.size else kt), pos

    k1 = min(K, 16)
    kf, pos = check(k1)
    if kf == k1 and K > k1:
        kf, pos = check(K)
    if kf == 0:
        return None
    return pos[:kf].reshape(-1), i + p * kf, q


def _group_boundaries(c253f: np.ndarray, nb8: int):
    """ALL command-block indices (group boundaries) of the chunk's
    longest whole-group prefix, equivalent to the scalar walk
    i += 1 + c253f[i] but fast-forwarding two dominant shapes
    vectorized:

    - uniform runs — consecutive groups with the same literal count c
      have fixed size 1+c, found with one strided window compare
      (all-literal framing c=8 / bias-compressed integers c=0);
    - periodic patterns — mixed rows (bias codes + string literals)
      repeat their group-size sequence row over row; detected and
      verified exactly by _try_period_extend. Short uniform runs
      (≤512 groups) feed the boundary history so periods that SPAN
      them — e.g. 35 numeric groups + 3 string groups per row — are
      still seen; without this, an ACS-shape mixed stream pays ~7
      numpy calls per short run, 1.5M runs, measured as THE
      checkpoint-walk wall.

    Returns (boundaries int64 array, first unconsumed block index)."""
    out: list = []
    hist: list[int] = []  # contiguous boundary history (period detect)
    mark = 0  # hist[:mark] already emitted to out
    i = 0
    scalar_budget = 0
    since_try = 0

    def flush():
        nonlocal mark
        if len(hist) > mark:
            out.append(np.asarray(hist[mark:], dtype=np.int64))
            mark = len(hist)

    def trim():
        nonlocal mark
        if len(hist) > 4096:
            keep = min(len(hist) - 2048, mark)
            if keep > 0:
                del hist[:keep]
                mark -= keep

    while i < nb8:
        if since_try >= 384 and len(hist) >= 32:
            since_try = 0
            ext = _try_period_extend(c253f, nb8, hist, i)
            if ext is not None:
                new, i, q = ext
                flush()
                out.append(new)
                tail = new[-2 * q :] if new.size >= 2 * q else new
                hist[:] = tail.tolist()
                mark = len(hist)
                since_try = 380  # periodic data: retry almost at once
                scalar_budget = 0
                continue
        if scalar_budget <= 0:
            c = int(c253f[i])
            stride = 1 + c
            win = c253f[i : i + stride * 8192 : stride]
            neq = np.flatnonzero(win != c)
            stop = int(neq[0]) if neq.size else int(win.size)
            k = min(stop, (nb8 - i) // stride)
            if k <= 0:
                break  # group's literals spill into the next chunk
            if k > 4:
                flush()
                rng = np.arange(i, i + stride * k, stride, dtype=np.int64)
                out.append(rng)
                i += stride * k
                if k > 512:
                    # uniform ff is winning outright; periods spanning
                    # a >512-group run aren't worth tracking
                    hist.clear()
                    mark = 0
                    since_try = 0
                else:
                    hist.extend(rng.tolist())
                    mark = len(hist)
                    since_try += k
                    trim()
                continue
            scalar_budget = 16
        c = int(c253f[i])
        nxt = i + 1 + c
        if nxt > nb8:
            break  # group's literals spill into the next chunk
        hist.append(i)
        i = nxt
        scalar_budget -= 1
        since_try += 1
        trim()
    flush()
    bounds = (
        np.concatenate(out) if len(out) > 1
        else (out[0] if out else np.empty(0, dtype=np.int64))
    )
    return bounds, i


def iter_compressed_elements(
    meta: SavMeta,
    chunk_bytes: int = 4 << 20,
    start_byte: int = 0,
    pipeline: bool = True,
    io_readahead: int = 0,
    zsav_pool: bool = True,
):
    """Stream the bytecode as (k, 8) element matrices with memory
    bounded by one chunk (≤ chunk_bytes in → ≤ 8× out, since a command
    byte expands to at most one 8-byte element). start_byte (an
    uncompressed-stream offset) MUST be a command-group boundary — 0,
    or a checkpoint recorded by build_checkpoint_index.

    Command groups (1 command block + its literal blocks) are
    self-delimiting, so each chunk decodes the longest prefix of whole
    groups and carries the tail bytes into the next chunk — the
    streaming shape of the reference's serial decompressor
    (reference spss/data.rs:1628-1760), vectorized per chunk.
    """
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    pend = b""
    # the scatter decode of a finished chunk is independent of the
    # walk of the next one (only `pend` chains, and that comes from
    # the walk) — pipeline it on a small pool, yielding strictly in
    # submit order with at most 2 decoded chunks in flight.
    # pipeline=False (set by the planner when the scan already fans
    # out to ~every core) runs the scatter inline: at full task
    # fan-out the extra threads are pure oversubscription, measured
    # 27% slower per partition (r7)
    dpool = _SyncExecutor() if not pipeline else ThreadPoolExecutor(2)
    inflight: deque = deque()
    src = _iter_raw_chunks(meta, chunk_bytes, start_byte, zsav_pool)
    if io_readahead > 0:
        # A4 on the bytecode stream: the NEXT chunk's fetch (or zlib
        # inflate) overlaps the CURRENT chunk's group walk + scatter
        from polars_readstat_spark.sources.readahead import readahead

        src = readahead(src, io_readahead)
    try:
        for chunk in src:
            data = pend + chunk if pend else chunk
            nb8 = len(data) // 8
            blocks = np.frombuffer(
                data, dtype=np.uint8, count=nb8 * 8
            ).reshape(-1, 8)
            # The walk is inherently serial (group size depends on the
            # command block it starts at), but uniform runs and
            # periodic patterns fast-forward vectorized — see
            # _group_boundaries.
            c253f = (blocks == 253).sum(axis=1).astype(np.int8)
            cmd_idx, i = _group_boundaries(c253f, nb8)
            pend = data[i * 8 :]
            if cmd_idx.size == 0:
                continue
            pure_literal = bool((c253f[cmd_idx] == 8).all())
            if pure_literal:
                # every group in [0, i) is an 8×253 command + its 8
                # literals (the only framing our writer emits, and the
                # dominant shape of real case data): the elements are
                # blocks[:i] minus every 9th row — one regular strided
                # copy instead of three fancy-indexed passes through
                # the generic scatter (measured 2.5× on the ACS-shape
                # zsav; the walk already proved the stride, so no
                # 252-stop or bias value can hide here)
                inflight.append(
                    dpool.submit(_all_literal_elements, blocks[:i])
                )
            else:
                inflight.append(
                    dpool.submit(
                        _decode_cmd_group,
                        blocks[:i],
                        cmd_idx,
                        meta,
                    )
                )
            while inflight and (
                len(inflight) > 2 or inflight[0].done()
            ):
                out, stopped = inflight.popleft().result()
                if out.size:
                    yield out
                if stopped:
                    return
        while inflight:
            out, stopped = inflight.popleft().result()
            if out.size:
                yield out
            if stopped:
                return
    finally:
        dpool.shutdown(wait=False, cancel_futures=True)
    # trailing bytes: a final group the walk declined because the file
    # ends mid-literals is dropped, matching the whole-buffer decoder
    # (a truncated trailing group can't form a complete case anyway)


class _SyncFuture:
    __slots__ = ("_r",)

    def __init__(self, r):
        self._r = r

    def result(self):
        return self._r

    def done(self):
        return True


class _SyncExecutor:
    """Inline stand-in for the 2-thread scatter pool (pipeline=False)."""

    def submit(self, fn, *args):
        return _SyncFuture(fn(*args))

    def shutdown(self, wait=False, cancel_futures=False):
        pass


def iter_compressed_rows(
    meta: SavMeta,
    start: int,
    n: int,
    batch_rows: int,
    io_readahead: int = 0,
    zsav_pool: bool = True,
):
    """Yield (absolute_row_pos, (rows, record_width) matrix) batches for
    the row span [start, start+n), decoding the sequential stream once
    and retaining at most one chunk + one partial case."""
    cs = meta.case_size
    end = start + n
    row_pos = 0
    carry = np.empty((0, 8), dtype=np.uint8)
    # batches are accumulated to ~batch_rows before emission: a wide
    # case (ACS shape, cs=286) fits only ~1.8k rows in one inflated
    # zlib block, and per-chunk emission made every downstream
    # per-batch decode pay 286 columns of per-call overhead on a
    # 1.6k-row batch — 110k decode_column calls per file, measured as
    # HALF the zsav read wall. Memory stays bounded by
    # batch_rows + one chunk.
    buf: list = []
    buf_rows = 0
    buf_pos = 0
    for elems in iter_compressed_elements(
        meta,
        io_readahead=io_readahead,
        zsav_pool=zsav_pool,
    ):
        if carry.size:
            elems = np.concatenate([carry, elems])
        nrows = elems.shape[0] // cs
        carry = elems[nrows * cs :]
        if nrows == 0:
            continue
        lo = max(start - row_pos, 0)
        hi = min(end - row_pos, nrows)
        if hi > lo:
            rows = elems[: nrows * cs].reshape(nrows, cs * 8)
            if not buf:
                buf_pos = row_pos + lo
            buf.append(rows[lo:hi])
            buf_rows += hi - lo
            while buf_rows >= batch_rows:
                m = buf[0] if len(buf) == 1 else np.concatenate(buf)
                yield buf_pos, m[:batch_rows]
                buf_pos += batch_rows
                rest = m[batch_rows:]
                buf = [rest] if rest.shape[0] else []
                buf_rows = rest.shape[0]
        row_pos += nrows
        if row_pos >= end:
            break
    if buf_rows:
        m = buf[0] if len(buf) == 1 else np.concatenate(buf)
        yield buf_pos, m


_LITERAL_CMD = 0xFDFDFDFDFDFDFDFD  # 8×253: "literal element follows"


def _literal_geometry(meta: SavMeta, total_rows: int):
    """Group geometry of an all-literal bytecode stream: the byte ↔
    element map is affine (one 8×253 command block + 64 literal bytes
    = one 72-byte group of 8 elements), so a task can locate any
    element range by arithmetic. Returns (total_el, g_full)."""
    total_el = total_rows * meta.case_size
    return total_el, total_el // 8


def _sidecar_path(meta: SavMeta, tag: str, extra: str = "") -> str | None:
    """Per-uid hardened cache sidecar keyed by file content identity
    (path, size, mtime_ns) — derived data, safe to regenerate. Lives
    under the 0700 cache dir (sources/cache.py) and is only trusted
    after ownership/permission checks plus an embedded content
    fingerprint re-verify, so a planted or stale sidecar cannot force
    the parallel decode path onto a stream it doesn't describe."""
    import hashlib

    from polars_readstat_spark.sources import cache
    from polars_readstat_spark.sources.fs import fs_stat, path_scheme

    # URI paths are already absolute identities (abspath would make
    # the key cwd-dependent); fs_stat does size+mtime in one round
    # trip and rides LIST hints
    ident = (
        meta.path if path_scheme(meta.path) else os.path.abspath(meta.path)
    )
    size, mtime = fs_stat(meta.path)
    key = hashlib.sha1(
        f"{ident}|{size}|{mtime}|{extra}".encode()
    ).hexdigest()[:24]
    return cache.cache_path(f"prs-{tag}-{key}")


def _literal_sidecar_path(meta: SavMeta) -> str | None:
    return _sidecar_path(meta, "litstream")


def validate_literal_stream(meta: SavMeta, total_rows: int) -> bool:
    """ONE sequential pass proving the whole bytecode stream is
    all-literal framing (every command block is 8×253 through the
    last full group, then a strict partial-literal + 252 tail).

    This global pass is load-bearing for the parallel plan's
    exactness: per-task local validation is NOT sufficient — a
    deviation upstream whose element deficit is ≡ 0 (mod 9) realigns
    the assumed stride-72 command positions onto REAL command blocks
    of a later all-literal region, which read 8×253 and would accept
    silently misaligned rows. Validating [0, end) once closes that:
    all-literal globally ⇒ the affine map is exact everywhere.

    The verdict is cached in a per-uid hardened cache sidecar keyed
    by (path, size, mtime_ns) with an embedded content fingerprint
    (sources/cache.py) — so the inflate+scan cost
    (~1.3 s/GB with the 4-thread block pool) is paid once per file,
    not per read. Runs in the plan worker."""
    from polars_readstat_spark.sources import cache

    total_el, g_full = _literal_geometry(meta, total_rows)
    if total_el <= 0:
        return False
    side = _literal_sidecar_path(meta)
    fp = cache.content_fingerprint(meta.path)
    if side is not None:
        raw = cache.read_trusted(side)
        if raw is not None:
            parts = raw.decode("ascii", "replace").split()
            if len(parts) == 2 and parts[0] == fp and parts[1] in ("0", "1"):
                return parts[1] == "1"
    ok = _scan_literal_stream(meta, total_el, g_full)
    if side is not None:
        cache.write_atomic(side, f"{fp} {'1' if ok else '0'}".encode())
    return ok


def _scan_literal_stream(meta: SavMeta, total_el: int, g_full: int) -> bool:
    need = g_full * 72
    pend = b""
    seen_groups = 0
    tail = bytearray()
    for chunk in _iter_raw_chunks(meta, 4 << 20):
        if seen_groups >= g_full:
            tail += chunk
            if len(tail) > 160:
                tail = tail[:160]  # strict tail is ≤ 2 groups
                break
            continue
        data = pend + chunk if pend else chunk
        take = min(len(data) // 72, g_full - seen_groups)
        if take:
            arr = np.frombuffer(data, dtype="<u8", count=take * 9).reshape(
                take, 9
            )
            if not bool((arr[:, 0] == np.uint64(_LITERAL_CMD)).all()):
                return False
            seen_groups += take
            pend = data[take * 72 :]
        else:
            pend = data
        if seen_groups >= g_full:
            tail += pend
            pend = b""
    if seen_groups < g_full:
        return False
    # strict tail: optional partial-literal group for the trailing
    # total_el % 8 elements, then a 252 end-of-data command block
    r = total_el - g_full * 8
    want = b""
    if r:
        want += bytes([253] * r + [0] * (8 - r))
    t = bytes(tail)
    if r:
        if len(t) < 8 + r * 8 or t[:8] != want:
            return False
        t = t[8 + r * 8 :]
    return len(t) >= 1 and t[0] == 252


def iter_literal_rows(
    meta: SavMeta,
    start: int,
    n: int,
    batch_rows: int,
    total_rows: int,
    zsav_pool: bool = True,
):
    """Parallel-task decode of rows [start, start+n) from a VALIDATED
    all-literal bytecode stream: fetch only the bytes of the groups
    covering the element span (for zsav, inflate only the zlib blocks
    that overlap it), strip every 9th row, and reshape. Exactness
    rests on validate_literal_stream's global pass; a cheap local
    re-check of the fetched command blocks guards file swaps."""
    cs = meta.case_size
    total_el, g_full = _literal_geometry(meta, total_rows)
    e0 = start * cs
    e1 = (start + n) * cs
    g0 = e0 // 8
    g1 = min((e1 + 7) // 8, g_full)
    lo_b, hi_b = g0 * 72, g1 * 72
    buf = _fetch_stream_bytes(meta, lo_b, hi_b, zsav_pool)
    k = (hi_b - lo_b) // 72
    blocks = np.frombuffer(buf, dtype=np.uint8, count=k * 72).reshape(k, 9, 8)
    if k and not bool(
        (
            blocks.reshape(k, 72)[:, :8].copy().view("<u8").reshape(-1)
            == np.uint64(_LITERAL_CMD)
        ).all()
    ):
        raise RuntimeError(
            "sav literal-stream partition failed re-validation "
            "(file changed since planning?)"
        )
    els = np.ascontiguousarray(blocks[:, 1:, :]).reshape(k * 8, 8)
    if e1 > g_full * 8:
        # trailing partial group: decode the strict tail generically
        tail_raw = _fetch_stream_bytes(meta, g_full * 72, None, zsav_pool)
        tail_els = decompress_bytecode(tail_raw, meta)
        els = np.concatenate([els, tail_els[: total_el - g_full * 8]])
    off = e0 - g0 * 8
    rows = els[off : off + n * cs].reshape(n, cs * 8)
    p = 0
    while p < n:
        c = min(batch_rows, n - p)
        yield start + p, rows[p : p + c]
        p += c


def stream_nbytes(meta: SavMeta) -> int:
    """Uncompressed bytecode-stream length in bytes (compression=1:
    file bytes past the dictionary; zsav: sum of block inflated
    sizes)."""
    if meta.compression == 2:
        return sum(b[2] for b in meta.zsav.blocks)
    return max(fs_size(meta.path) - meta.data_offset, 0)


def build_checkpoint_index(
    meta: SavMeta, ckpt_els: int
) -> tuple[np.ndarray, int]:
    """ONE sequential walk of the whole bytecode stream recording
    (byte_off, el_off) at command-group boundaries every ~ckpt_els
    elements, starting with (0, 0). Returns (checkpoints int64 (k,2),
    total_elements).

    This is the general-stream counterpart of the all-literal affine
    map: bias-compressed and mixed streams (what SPSS itself writes
    for integer-heavy data) have data-dependent group sizes, so no
    arithmetic byte↔element map exists — but group boundaries are
    deterministic given a boundary to start from, so one global walk
    (counting elements without scattering them) makes every checkpoint
    an exact restart point and row-range partitions decode
    independently from the nearest checkpoint at or before their
    first element. The reference reads these streams strictly
    serially (PARALLELIZATION.md:34-40).

    The walk is the same fast-forward the decoder uses
    (_group_boundaries) — element counts per group come from one
    vectorized nonzero-count over command blocks (commands
    1-251/253/254/255 emit one element each, 0 emits none, 252 ends
    the stream), batched per chunk. Cached in a content-keyed,
    fingerprint-verified sidecar under the per-uid cache dir
    (sources/cache.py) so the inflate+walk cost is paid once per
    file, not per read; runs in the plan worker."""
    import io

    from polars_readstat_spark.sources import cache

    base_side = _sidecar_path(meta, "ckptidx", extra=str(ckpt_els))
    side = base_side + ".npz" if base_side is not None else None
    fp = cache.content_fingerprint(meta.path)
    if side is not None:
        raw = cache.read_trusted(side)
        if raw is not None:
            try:
                with np.load(io.BytesIO(raw), allow_pickle=False) as z:
                    if bytes(z["fp"]).decode("ascii") == fp:
                        return z["ck"], int(z["tot"][0])
            except Exception:
                pass
    cks = [(0, 0)]
    pend = b""
    base = 0  # stream offset of data[0]
    cum_el = 0
    next_t = ckpt_els
    ended = False
    for chunk in _iter_raw_chunks(meta, 4 << 20):
        data = pend + chunk if pend else chunk
        nb8 = len(data) // 8
        blocks = np.frombuffer(data, dtype=np.uint8, count=nb8 * 8).reshape(
            -1, 8
        )
        c253f = (blocks == 253).sum(axis=1).astype(np.int8)
        idx, i = _group_boundaries(c253f, nb8)
        if idx.size:
            cb = blocks[idx]
            nnz = (cb != 0).sum(axis=1).astype(np.int64)
            stop_rows, stop_cols = np.nonzero(cb == 252)
            extra = 0
            if stop_rows.size:
                # end-of-data: elements = full groups before the 252's
                # block + nonzero commands before the 252 within it
                # (the scatter decoder cuts the flattened command
                # vector at the first 252, _decode_cmd_group); the
                # groups before it still emit checkpoints below
                g = int(stop_rows[0])
                col = int(stop_cols[0])
                extra = int(np.count_nonzero(cb[g, :col]))
                idx = idx[:g]
                nnz = nnz[:g]
                ended = True
            if idx.size:
                cum = cum_el + np.cumsum(nnz)
                last = int(cum[-1])
                if last >= next_t:
                    # grid thresholds: checkpoint at the first group
                    # crossing each multiple of ckpt_els, selected with
                    # one vectorized searchsorted per chunk
                    ts = np.arange(
                        next_t, last + 1, ckpt_els, dtype=np.int64
                    )
                    gs = np.searchsorted(cum, ts)
                    endb = (
                        idx[gs] + 1 + c253f[idx[gs]].astype(np.int64)
                    ) * 8 + base
                    for bb, ee in zip(endb.tolist(), cum[gs].tolist()):
                        cks.append((int(bb), int(ee)))
                    next_t = int(ts[-1]) + ckpt_els
                cum_el = last
            cum_el += extra
        if ended:
            break
        pend = data[i * 8 :]
        base += i * 8
    ck = np.asarray(cks, dtype=np.int64).reshape(-1, 2)
    if side is not None:
        buf = io.BytesIO()
        np.savez(
            buf,
            ck=ck,
            tot=np.asarray([cum_el], dtype=np.int64),
            fp=np.frombuffer(fp.encode("ascii"), dtype=np.uint8),
        )
        cache.write_atomic(side, buf.getvalue())
    return ck, cum_el


def iter_checkpoint_rows(
    meta: SavMeta,
    start: int,
    n: int,
    batch_rows: int,
    ckpt_byte: int,
    ckpt_el: int,
    pipeline: bool = True,
    io_readahead: int = 0,
    zsav_pool: bool = True,
):
    """Parallel-task decode of rows [start, start+n) from a general
    bytecode stream, restarting the sequential decoder at a
    plan-time checkpoint (ckpt_byte, ckpt_el) with ckpt_el ≤
    start*case_size. Exactness rests on build_checkpoint_index's
    global walk: a checkpoint is a true group boundary, and group
    walking is deterministic from a boundary, so the task reproduces
    exactly the elements the serial decode would place there."""
    cs = meta.case_size
    skip = start * cs - ckpt_el
    want = n * cs
    got = 0
    carry = np.empty((0, 8), dtype=np.uint8)
    buf: list = []
    buf_rows = 0
    buf_pos = start
    for elems in iter_compressed_elements(
        meta,
        start_byte=ckpt_byte,
        pipeline=pipeline,
        io_readahead=io_readahead,
        zsav_pool=zsav_pool,
    ):
        if skip:
            if elems.shape[0] <= skip:
                skip -= elems.shape[0]
                continue
            elems = elems[skip:]
            skip = 0
        if got + elems.shape[0] > want:
            elems = elems[: want - got]
        got += elems.shape[0]
        if carry.size:
            elems = np.concatenate([carry, elems])
        nrows = elems.shape[0] // cs
        carry = elems[nrows * cs :]
        if nrows:
            buf.append(elems[: nrows * cs].reshape(nrows, cs * 8))
            buf_rows += nrows
            while buf_rows >= batch_rows:
                m = buf[0] if len(buf) == 1 else np.concatenate(buf)
                yield buf_pos, m[:batch_rows]
                buf_pos += batch_rows
                rest = m[batch_rows:]
                buf = [rest] if rest.shape[0] else []
                buf_rows = rest.shape[0]
        if got >= want:
            break
    if buf_rows:
        m = buf[0] if len(buf) == 1 else np.concatenate(buf)
        yield buf_pos, m


def _fetch_stream_bytes(
    meta: SavMeta,
    lo: int,
    hi: int | None,
    use_pool: bool = True,
) -> bytes:
    """Bytes [lo, hi) of the bytecode stream (hi=None → to end).
    compression=1 is a direct file range; zsav fetches AND inflates
    only the overlapping zlib blocks, each block's fetch+inflate as
    one pool task — on a remote store the per-block range GETs are
    independent requests, so issuing them concurrently overlaps their
    first-byte waits with each other and with the inflates (the same
    physics as _iter_zsav_inflated's pool; VERDICT r09 next#7). The
    latency model is the seam's (sources/fs.py): compression=1 pays
    one range request, zsav one per overlapping block. use_pool=False
    is the serial A/B arm."""
    if meta.compression != 2:
        with fs_open(meta.path) as f:
            f.seek(meta.data_offset + lo)
            return f.read(None if hi is None else hi - lo)
    import threading
    import zlib
    from concurrent.futures import ThreadPoolExecutor

    blocks = meta.zsav.blocks
    uncs = [b[2] for b in blocks]
    starts = np.concatenate([[0], np.cumsum(uncs)])
    end = int(starts[-1]) if hi is None else hi
    b_lo = int(np.searchsorted(starts, lo, side="right") - 1)
    b_hi = int(np.searchsorted(starts, max(end - 1, lo), side="right"))
    from contextlib import nullcontext

    from polars_readstat_spark.sources.fs import is_remote

    # per-thread handles on remote paths, same reasoning as
    # _iter_zsav_inflated: a shared handle serializes the first-byte
    # waits behind lock_read, defeating the pool
    remote = is_remote(meta.path)
    with nullcontext() if remote else fs_open(meta.path) as f:
        lock_read = threading.Lock()
        tl = threading.local()
        extra_handles: list = []
        handles_lock = threading.Lock()

        def _thread_handle():
            h = getattr(tl, "f", None)
            if h is None:
                h = fs_open(meta.path)
                tl.f = h
                with handles_lock:
                    extra_handles.append(h)
            return h

        def fetch_inflate(blk):
            c_ofs, c_sz, _u = blk
            if remote:
                h = _thread_handle()
                h.seek(c_ofs)
                raw = h.read(c_sz)
            else:
                with lock_read:
                    f.seek(c_ofs)
                    raw = f.read(c_sz)
            return zlib.decompress(raw)

        try:
            span = blocks[b_lo:b_hi]
            if use_pool:
                try:
                    with ThreadPoolExecutor(4) as pool:
                        infl = list(pool.map(fetch_inflate, span))
                except Exception:
                    infl = [fetch_inflate(b) for b in span]
            else:
                infl = [fetch_inflate(b) for b in span]
        finally:
            with handles_lock:
                for h in extra_handles:
                    try:
                        h.close()
                    except Exception:  # noqa: BLE001
                        pass
                extra_handles.clear()
    joined = b"".join(infl)
    base = int(starts[b_lo])
    return joined[lo - base : None if hi is None else end - base]


def count_compressed_rows(meta: SavMeta) -> int:
    """Row count for compressed files whose header says nobs=-1
    (rare): one streaming pass, nothing retained."""
    cs = meta.case_size
    els = 0
    for elems in iter_compressed_elements(meta):
        els += elems.shape[0]
    return els // cs


def _numeric_elements(
    rows: np.ndarray, var: SavVar, meta: SavMeta, dense=None
) -> np.ndarray:
    if dense is not None:
        col = dense.get(var.start_el)
        if col is not None:
            return col
    off = var.start_el * 8
    raw = np.ascontiguousarray(rows[:, off : off + 8])
    ef = "<" if meta.little_endian else ">"
    return raw.view(ef + "f8").reshape(-1)


def dense_numeric(
    rows: np.ndarray, meta: SavMeta, varlist
) -> dict[int, np.ndarray]:
    """One blocked sweep densifying every numeric element column.

    Per-variable strided copies fetch each ~record-width cache line
    once PER COLUMN (row bytes of all columns share lines), so a
    6-numeric-column record pays ~6× the record bytes in memory
    traffic. Transposing L2-resident row blocks instead fetches each
    line once for ALL columns — measured ~4× on the densify step of
    the sf0.1 lineitem shape."""
    els = [v.start_el for v in varlist if not v.is_str]
    if not els or rows.size == 0 or not rows.flags.c_contiguous:
        return {}
    ef = "<" if meta.little_endian else ">"
    n = rows.shape[0]
    f = rows.view(ef + "f8")
    idx = np.array(els, dtype=np.int64)
    out = np.empty((len(els), n), dtype=ef + "f8")
    blk = 8192
    for s in range(0, n, blk):
        out[:, s : s + blk] = f[s : s + blk, idx].T
    return {e: out[i] for i, e in enumerate(els)}


def _system_missing(vals: np.ndarray, bits: np.ndarray) -> np.ndarray:
    return (
        (bits == SYSMIS_BITS)
        | (bits == LOWEST_BITS)
        | (bits == HIGHEST_BITS)
        | np.isnan(vals)
    )


def decode_numeric(
    rows: np.ndarray, var: SavVar, meta: SavMeta, dense=None
) -> tuple[np.ndarray, np.ndarray]:
    """→ (float64 values native-endian, missing mask). Missing =
    sysmis/LOWEST/HIGHEST/NaN + declared discrete/range values
    (reference is_missing_numeric, spss/data.rs:998-1026)."""
    vals = _numeric_elements(rows, var, meta, dense).astype("<f8", copy=False)
    bits = vals.view(np.uint64)
    mask = _system_missing(vals, bits)
    md = var.missing_doubles
    if md:
        if var.missing_range and len(md) >= 2:
            lo, hi = min(md[0], md[1]), max(md[0], md[1])
            with np.errstate(invalid="ignore"):
                mask |= (vals >= lo) & (vals <= hi)
            if len(md) >= 3:
                mask |= bits == np.float64(md[2]).view(np.uint64)
        else:
            for d in md:
                mask |= bits == np.float64(d).view(np.uint64)
    return vals, mask


def _string_bytes(rows: np.ndarray, var: SavVar) -> np.ndarray:
    off = var.start_el * 8
    return rows[:, off : off + var.width_el * 8]


def _reconstruct_long(buf: bytes, declared: int) -> bytes:
    """Very-long strings: 255 payload bytes per 256-byte chunk
    (ReadStat behavior, reference spss/data.rs:1028-1048)."""
    target = min(declared, len(buf))
    if target <= 255:
        return buf[:target]
    out = bytearray()
    pos = 0
    while target - len(out) > 255 and pos + 255 <= len(buf):
        out += buf[pos : pos + 255]
        pos += 256
    rem = target - len(out)
    if rem > 0 and pos + rem <= len(buf):
        out += buf[pos : pos + rem]
    return bytes(out)


# ASCII control bytes str.rstrip() strips beyond 0x20/NUL: rows ending
# in these must take the slow path (whose post-decode unicode rstrip
# removes them) to stay bit-identical
_WS_EXTRA = np.array([9, 10, 11, 12, 13, 0x1C, 0x1D, 0x1E, 0x1F], dtype=np.uint8)


def _decode_string_vectorized(
    blob: np.ndarray, declared: int, meta: SavMeta
) -> pa.Array | None:
    """Vectorized trim+decode for the common shape: short strings, no
    interior NULs, pure-ASCII bytes under an ASCII-compatible encoding.
    Returns None when any row needs the exact slow-path semantics
    (interior NUL removal, unicode rstrip of multi-byte whitespace,
    charset fallback)."""
    m = np.ascontiguousarray(blob[:, :declared])
    lens = strdecode.lengths_rstrip(m, strip=(0, 0x20))
    keep = np.arange(declared, dtype=np.int64)[None, :] < lens[:, None]
    if ((m == 0) & keep).any():
        return None  # interior NULs: slow path removes them
    nonempty = lens > 0
    if nonempty.any():
        last = m[np.arange(m.shape[0]), np.maximum(lens - 1, 0)]
        if (np.isin(last, _WS_EXTRA) & nonempty).any():
            return None  # trailing \t\n… the unicode rstrip would strip
    values, offsets = strdecode.compact(m, lens)
    if values.size and int(values.max()) >= 0x80:
        return None  # non-ASCII: charset + unicode-rstrip semantics
    if not strdecode.ascii_compatible(meta.encoding):
        return None
    return strdecode._from_buffers(values, offsets)


def decode_string_column(
    rows: np.ndarray, var: SavVar, meta: SavMeta
) -> pa.Array:
    blob = _string_bytes(rows, var)
    declared = var.string_len or blob.shape[1]
    long = declared > 255
    enc = meta.encoding
    miss = set(var.missing_strings) if var.missing_strings else None

    if not long and declared <= blob.shape[1]:
        arr = _decode_string_vectorized(blob, declared, meta)
        if arr is not None:
            import pyarrow.compute as pc

            if miss:
                arr = pc.if_else(
                    pc.is_in(arr, value_set=pa.array(sorted(miss))),
                    pa.scalar(None, pa.string()),
                    arr,
                )
            return arr

    out: list[str | None] = []
    for row in blob:
        b = row.tobytes()
        if long:
            b = _reconstruct_long(b, declared)
        else:
            b = b[:declared]
        b = b.rstrip(b" \0").replace(b"\0", b"")
        try:
            s = b.decode(enc)
        except (UnicodeDecodeError, LookupError):
            s = b.decode("latin-1")
        s = s.rstrip()
        out.append(None if miss and s in miss else s)
    return pa.array(out, type=pa.string())


def _range_keys(var: SavVar) -> list[float]:
    """Sorted labeled values inside a declared missing range."""
    lo, hi = sorted(var.missing_doubles[:2])
    return sorted(
        float(k)
        for k in var.value_labels
        if isinstance(k, (int, float)) and lo <= k <= hi
    )


def missing_dictionary(var: SavVar, use_value_labels: bool) -> pa.Array:
    """Indicator per ``missing_codes`` code of a numeric variable
    (reference missing_numeric_indicator, spss/data.rs:1054-1185): null
    for a present or system-missing value; a declared discrete value's
    code string and a declared range member's "MISSING", or with
    use_value_labels their value label where one is defined."""
    md = var.missing_doubles
    vl = var.value_labels if use_value_labels else {}

    def render(v: float) -> str:
        lab = vl.get(v)
        return strdecode.code_string(v) if lab is None else lab

    out = [None]
    if var.missing_range and len(md) >= 2:
        out += ["MISSING", *(vl.get(k, "MISSING") for k in _range_keys(var))]
        md = md[2:3]  # the range's one extra discrete value
    return pa.array(out + [render(float(d)) for d in md], pa.string())


def missing_codes(vals: np.ndarray, var: SavVar) -> np.ndarray:
    """Per-row code of a declared missing: discrete values count from 1
    in declaration order; a range member is 1, or 2 + its index among
    the labeled values in the range, and the range's extra discrete
    value comes last."""
    codes = np.zeros(vals.shape[0], dtype=np.int32)
    md = var.missing_doubles
    if not md:
        return codes
    bits = vals.view(np.uint64)
    declared = ~_system_missing(vals, bits)
    if var.missing_range and len(md) >= 2:
        lo, hi = sorted(md[:2])
        with np.errstate(invalid="ignore"):
            in_range = (vals >= lo) & (vals <= hi) & declared
        keys = np.array(_range_keys(var), dtype=np.float64)
        codes[in_range] = 1
        if keys.size:
            v = vals[in_range]
            j = np.minimum(np.searchsorted(keys, v), keys.size - 1)
            codes[in_range] = np.where(keys[j] == v, j + 2, 1)
        if len(md) >= 3:
            hit = (bits == np.float64(md[2]).view(np.uint64)) & declared
            codes[hit] = 2 + keys.size
    else:
        for c, d in enumerate(md, 1):
            codes[(bits == np.float64(d).view(np.uint64)) & declared] = c
    return codes


def decode_columns(
    meta: SavMeta,
    rows: np.ndarray,
    col_indices: list[int],
    specs: list[ColumnSpec],
):
    """(spec, payload) per selected column, for ``columns.build_batch``:
    a string array, or the numeric ``(values, mask, codes)`` whose codes
    are ``missing_codes``, built when ``spec`` asks."""
    dense = dense_numeric(rows, meta, [meta.variables[i] for i in col_indices])
    for i, spec in zip(col_indices, specs):
        var = meta.variables[i]
        if var.is_str:
            yield spec, decode_string_column(rows, var, meta)
            continue
        vals, mask = decode_numeric(rows, var, meta, dense)
        codes = missing_codes(vals, var) if spec.indicator is not None else None
        yield spec, (vals, mask, codes)
