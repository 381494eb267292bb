"""SPSS .sav writer — reference W3 re-expressed for Spark.

Same two-phase shape as the Stata writer (and the reference's
sink pre-pass, pybindings.rs:996-1047):

1. **Pre-pass job**: per-string-column max UTF-8 byte width + row
   count (one Spark aggregation).
2. **Stream**: the executors pack each chunk into the fixed-width
   8-byte-element case layout with numpy (vectorized; no per-value
   Python in the numeric path); the driver drains them in input
   order (writers.packed_stream).

``pack`` and ``assemble`` are the one sav/zsav layout: the part-file
writer (spark_sink.write_partition_file) runs the same two in its
task.

Output defaults to an *uncompressed* system file (compression=0):
every case is case_size×8 bytes, so the file we write is itself
partitionable by our own reader — the right trade at cluster scale
where re-read parallelism matters more than bytes on disk.
``compress=True`` opts into SPSS's bytecode compression (the
compression=1 stream real SPSS emits by default): integral values in
[1-bias, 251-bias] become one-byte bias commands, system missing →
255, all-spaces string elements → 254, everything else a literal —
typically 5-8× smaller for integer-coded survey data, at the cost of
a serial re-read (the bias stream has no affine byte↔element map).

Layout per the public PSPP system-file spec (same records the reader
parses): header, type-2 variable records (+ continuations), 3/4 value
labels, type-7 subtypes 3 (integer info), 4 (float info), 13 (long
names), 20 (encoding=UTF-8), then 999.

Reference parity: spss/writer.rs (≤255-byte strings enforced, auto
8-char short names, value/variable labels, measure/format carry-through).
"""

from __future__ import annotations

import datetime
import struct

import numpy as np

from pyspark.sql import DataFrame

from polars_readstat_spark.writers import (
    export_file,
    plan_export,
    str_cell_matrix,
)

SYSMIS_BITS = 0xFFEFFFFFFFFFFFFF


def _short_names(names: list[str]) -> list[bytes]:
    """Unique uppercase ≤8-byte short names (reference spss/writer.rs
    auto short-name behavior)."""
    out: list[bytes] = []
    seen: set[bytes] = set()
    for i, n in enumerate(names):
        base = "".join(
            c for c in n.upper() if c.isalnum() or c in "@#$_."
        ) or f"VAR{i + 1}"
        if base[0].isdigit():
            base = "V" + base
        cand = base[:8].encode("utf-8", "ignore")[:8] or f"VAR{i + 1}".encode()
        k = 1
        while cand in seen:
            suffix = str(k).encode()
            cand = cand[: 8 - len(suffix)] + suffix
            k += 1
        seen.add(cand)
        out.append(cand)
    return out


def _fmt_int(fmt_type: int, width: int, dec: int) -> int:
    return (fmt_type << 16) | (width << 8) | dec


def write_sav(
    df: DataFrame,
    path: str,
    data_label: str = "",
    variable_labels: dict | None = None,
    value_labels: dict | None = None,
    measures: dict | None = None,
    zsav: bool | None = None,
    compress: bool = False,
) -> None:
    """zsav=True (or a .zsav path) emits the ZLIB-container variant:
    same dictionary under a $FL3 magic, case data written as
    independently-decompressible zlib blocks with the offset trailer
    (the public PSPP "ZLIB data block" layout our reader partitions
    on). The inner stream uses bytecode compression's literal escape
    (253×8 command blocks) so the writer stays single-pass.

    compress=True (non-zsav) emits SPSS bytecode compression
    (compression=1, the stream real SPSS writes by default): integral
    values in [1-bias, 251-bias] become one-byte bias commands,
    system missing → 255, all-spaces string elements → 254, the rest
    literals. 5-8× smaller for integer-coded data; re-reads are
    serial (a bias stream has no affine byte↔element map), so the
    uncompressed default remains the cluster-scale choice."""
    if zsav is None:
        zsav = path.lower().endswith(".zsav")
    # zsav's zlib layer subsumes bytecode compression; its stream stays
    # all-literal so our reader's parallel plan applies
    plan, rows, _ = plan_export(
        df, "zsav" if zsav else "sav",
        data_label=data_label,
        variable_labels=variable_labels or {},
        value_labels=value_labels or {},
        measures=measures or {},
        bytecode=bool(compress) and not zsav,
    )
    export_file(df, path, plan, rows)


def _el_per(widths) -> list[int]:
    """8-byte case elements per column (a numeric takes one)."""
    return [max((w + 7) // 8, 1) if w else 1 for w in widths]


def pack(plan, pdf) -> bytes:
    """One chunk's cases in the fixed-width 8-byte-element layout: the
    one sav/zsav pack, run on the executors for a single-file export
    and inside the task for a part-file."""
    el_per = _el_per(plan.widths)
    return _pack_columns(
        [col for _, col in pdf.items()][: len(plan.kinds)],
        plan.kinds, plan.widths, el_per, sum(el_per),
    )


def assemble(fh, plan, payloads, n_rows) -> int:
    """The one sav/zsav file layout: the dictionary (whose header
    carries ``n_rows``), then the ``(payload, n)`` case stream plain,
    bytecode-compressed (``plan.bytecode``) or zlib-framed (zsav).
    Returns the rows written."""
    zsav = plan.fmt == "zsav"
    el_per = _el_per(plan.widths)
    head = _sav_dictionary(plan, el_per, n_rows)
    fh.write(bytes(head))
    if zsav:
        sink = _ZlibSink(fh, len(head))
    elif plan.bytecode:
        el_numeric = np.concatenate(
            [
                np.zeros(ne, dtype=bool) if k == "str" else np.ones(1, dtype=bool)
                for k, ne in zip(plan.kinds, el_per)
            ]
        ) if el_per else np.zeros(0, dtype=bool)
        sink = _BytecodeSink(fh, el_numeric)
    else:
        sink = fh
    got = 0
    try:
        for payload, n in payloads:
            sink.write(payload)
            got += n
        if sink is not fh:
            sink.close()
    except BaseException:
        # a failing Spark stage mid-stream must not leak the zsav
        # compression pool (or its in-flight blocks) for the
        # lifetime of the process — the file is dead either way
        if zsav:
            sink.abort()
        raise
    return got


def _sav_dictionary(plan, el_per, nrows) -> bytearray:
    """System-file dictionary: header, type-2 records, 3/4 value
    labels, type-7 subtypes, 999 terminator."""
    fields, names, shorts = plan.fields, plan.names, plan.shorts
    kinds, widths = plan.kinds, plan.widths
    variable_labels, value_labels = plan.variable_labels, plan.value_labels
    zsav, case_size = plan.fmt == "zsav", sum(el_per)
    out = bytearray()
    prod = ("@(#) SPSS DATA FILE - polars_readstat_spark").ljust(60)[:60]
    now = datetime.datetime.now()
    out += (b"$FL3" if zsav else b"$FL2") + prod.encode()
    out += struct.pack(
        "<5i", 2, case_size,
        2 if zsav else (1 if plan.bytecode else 0), 0, int(nrows),
    )
    out += struct.pack("<d", 100.0)
    out += now.strftime("%d %b %y").ljust(9)[:9].encode()
    out += now.strftime("%H:%M:%S").ljust(8)[:8].encode()
    out += plan.data_label.encode("utf-8")[:64].ljust(64)
    out += b"\x00\x00\x00"
    assert len(out) == 176

    el_index = []  # 1-based first element index per variable
    pos = 1
    for i, f in enumerate(fields):
        el_index.append(pos)
        k = kinds[i]
        w = widths[i]
        vtype = w if k == "str" else 0
        if k == "str":
            pf = _fmt_int(1, min(w, 255), 0)  # A
        elif k == "date":
            pf = _fmt_int(38, 10, 0)  # EDATE10
        elif k == "datetime":
            pf = _fmt_int(22, 20, 0)  # DATETIME20
        elif k == "time":
            pf = _fmt_int(21, 8, 0)  # TIME8
        else:
            pf = _fmt_int(5, 8, 2)  # F8.2
        label = variable_labels.get(f.name) or f.metadata.get("label") or ""
        lab_b = label.encode("utf-8")[:255] if label else b""
        out += struct.pack("<6i", 2, vtype, 1 if lab_b else 0, 0, pf, pf)
        out += shorts[i].ljust(8)
        if lab_b:
            out += struct.pack("<i", len(lab_b))
            out += lab_b.ljust((len(lab_b) + 3) // 4 * 4, b" ")
        for _ in range(el_per[i] - 1):
            out += struct.pack("<6i", 2, -1, 0, 0, 0, 0) + b" " * 8
        pos += el_per[i]

    # value labels (numeric columns only in record 3/4)
    for i, f in enumerate(fields):
        vl = value_labels.get(f.name)
        if not vl or kinds[i] == "str":
            continue
        out += struct.pack("<2i", 3, len(vl))
        for val, lab in vl.items():
            out += struct.pack("<d", float(val))
            lb = str(lab).encode("utf-8")[:255]
            # label byte + label, padded so (1+len) is a multiple of 8
            padded = (len(lb) + 1 + 7) // 8 * 8 - 1
            out += bytes([len(lb)]) + lb.ljust(padded)
        out += struct.pack("<3i", 4, 1, el_index[i])

    # subtype 3: integer info (machine/version; codepage 65001 = UTF-8)
    out += struct.pack("<3i", 7, 3, 4) + struct.pack("<i", 8)
    out += struct.pack("<8i", 1, 0, 0, 1, 1, 1, 2, 65001)
    # subtype 4: float info (sysmis, highest, lowest)
    out += struct.pack("<3i", 7, 4, 8) + struct.pack("<i", 3)
    sysmis = struct.unpack("<d", struct.pack("<Q", SYSMIS_BITS))[0]
    highest = struct.unpack("<d", struct.pack("<Q", 0x7FEFFFFFFFFFFFFF))[0]
    out += struct.pack("<3d", sysmis, highest, sysmis)
    # subtype 11: display parameters (measure, width, alignment)
    disp = []
    for i, f in enumerate(fields):
        m = plan.measures.get(f.name) or f.metadata.get("measure") or ""
        mcode = {"nominal": 1, "ordinal": 2, "scale": 3}.get(m, 1 if kinds[i] == "str" else 3)
        disp += [mcode, max(widths[i], 8), 0 if kinds[i] == "str" else 1]
    out += struct.pack("<3i", 7, 11, 4) + struct.pack("<i", len(disp))
    out += struct.pack(f"<{len(disp)}i", *disp)
    # subtype 13: long variable names
    pairs = b"\t".join(
        shorts[i] + b"=" + names[i].encode("utf-8") for i in range(len(names))
    )
    out += struct.pack("<3i", 7, 13, 1) + struct.pack("<i", len(pairs)) + pairs
    # subtype 20: encoding
    enc = b"UTF-8"
    out += struct.pack("<3i", 7, 20, 1) + struct.pack("<i", len(enc)) + enc
    # dictionary terminator
    out += struct.pack("<2i", 999, 0)
    return out


_SYSMIS_LE = np.frombuffer(struct.pack("<Q", SYSMIS_BITS), dtype=np.uint8)


def _pack_columns(cols_data, kinds, widths, el_per, case_size) -> bytes:
    """Column-wise vectorized case packing. cols_data: one pandas
    Series per column of a chunk."""
    n = len(cols_data[0]) if cols_data else 0
    mat = np.zeros((n, case_size * 8), dtype=np.uint8)
    colpos = 0
    for col, k, w, ne in zip(cols_data, kinds, widths, el_per):
        off = colpos * 8
        if k == "str":
            mat[:, off : off + ne * 8] = str_cell_matrix(col, ne * 8)
        else:
            vals = col.to_numpy(dtype="float64", na_value=np.nan)
            bts = vals.astype("<f8").view(np.uint8).reshape(n, 8)
            miss = np.isnan(vals)
            if miss.any():
                bts = bts.copy()
                bts[miss] = _SYSMIS_LE
            mat[:, off : off + 8] = bts
        colpos += ne
    return mat.tobytes()


class _BytecodeSink:
    """compression=1 data sink: buffers raw 8-byte case elements and
    encodes whole 8-element command groups vectorized — bias command
    for integral numerics in [1-bias, 251-bias], 255 for system
    missing, 254 for all-spaces string elements, 253 + payload for
    everything else. Kind-aware via the per-case element-numeric
    mask tiled over the stream (a string element whose bytes
    coincide with the sysmis pattern must stay literal)."""

    def __init__(self, fh, el_numeric: np.ndarray, bias: float = 100.0):
        self.fh = fh
        self.el_numeric = np.asarray(el_numeric, dtype=bool)
        self.bias = float(bias)
        self.pending = b""
        self.el_pos = 0  # global element counter → kind phase

    def write(self, raw: bytes):
        data = self.pending + raw if self.pending else raw
        full = (len(data) // 64) * 64  # whole 8-element groups
        if full:
            self._encode(data[:full])
        self.pending = data[full:]

    def _encode(self, chunk: bytes):
        els = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 8)
        n = els.shape[0]
        cs = max(self.el_numeric.size, 1)
        idx = (self.el_pos + np.arange(n, dtype=np.int64)) % cs
        num = (
            self.el_numeric[idx]
            if self.el_numeric.size
            else np.ones(n, dtype=bool)
        )
        self.el_pos += n
        u = els.view("<u8").reshape(-1)
        vals = els.view("<f8").reshape(-1)
        codes = np.full(n, 253, dtype=np.uint8)
        sysm = num & (u == np.uint64(SYSMIS_BITS))
        with np.errstate(invalid="ignore"):
            iv = np.floor(vals)
            biasable = (
                num
                & ~sysm
                & np.isfinite(vals)
                & (vals == iv)
                & (iv >= 1 - self.bias)
                & (iv <= 251 - self.bias)
            )
        codes[sysm] = 255
        codes[biasable] = (iv[biasable] + self.bias).astype(np.uint8)
        spaces = ~num & (u == np.uint64(0x2020202020202020))
        codes[spaces] = 254
        ng = (n + 7) // 8
        cpad = np.zeros(ng * 8, dtype=np.uint8)
        cpad[:n] = codes
        lit = cpad == 253
        lit_per = lit.reshape(ng, 8).sum(axis=1).astype(np.int64)
        out = np.empty(ng * 8 + int(lit_per.sum()) * 8, dtype=np.uint8)
        goff = np.zeros(ng, dtype=np.int64)
        np.cumsum(8 + lit_per[:-1] * 8, out=goff[1:])
        cols8 = np.arange(8, dtype=np.int64)
        out[goff[:, None] + cols8] = cpad.reshape(ng, 8)
        lit_idx = np.flatnonzero(lit[:n])
        if lit_idx.size:
            lit_grp = lit_idx >> 3
            starts = np.zeros(ng, dtype=np.int64)
            np.cumsum(lit_per[:-1], out=starts[1:])
            within = (
                np.arange(lit_idx.size, dtype=np.int64) - starts[lit_grp]
            )
            dest = goff[lit_grp] + 8 + within * 8
            out[dest[:, None] + cols8] = els[lit_idx]
        self.fh.write(out.tobytes())

    def close(self):
        if self.pending:
            tail = self.pending[: (len(self.pending) // 8) * 8]
            if tail:
                self._encode(tail)
            self.pending = b""
        self.fh.write(bytes([252] + [0] * 7))


class _ZlibSink:
    """ZSAV data sink: wraps 8-byte case elements in bytecode literal
    framing (253×8 command blocks), chunks the stream into
    independently-compressed zlib blocks, and writes the zheader +
    offset trailer (public PSPP ZLIB data block layout — the same
    structure the reader's block index parses)."""

    BLOCK = 0x3FF000

    def __init__(self, fh, zheader_ofs: int):
        import struct as _s
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        self.fh = fh
        self.zheader_ofs = zheader_ofs
        self.pending = b""  # raw elements not yet framed
        self.stream = bytearray()  # framed bytecode awaiting a block
        self.blocks = []  # (unc_ofs, c_ofs, unc_size, c_size)
        self.unc_pos = zheader_ofs  # PSPP: offsets count from zheader
        # blocks compress independently and zlib releases the GIL, so
        # a small pool pipelines the compression while this thread
        # keeps framing; blocks are still WRITTEN strictly in order
        # (deque drain), so the file is byte-identical to the serial
        # path. In-flight depth is capped to bound memory at ~8 blocks.
        self._pool = ThreadPoolExecutor(4)
        self._inflight = deque()  # (future, unc_ofs, unc_size)
        # placeholder zheader, backpatched in close()
        fh.write(_s.pack("<3q", zheader_ofs, 0, 0))

    def _frame(self, final: bool = False):
        import numpy as np

        data = self.pending
        full = len(data) // 64
        if full:
            elems = np.frombuffer(data, dtype=np.uint8, count=full * 64)
            grp = np.empty((full, 72), dtype=np.uint8)
            grp[:, :8] = 253
            grp[:, 8:] = elems.reshape(full, 64)
            self.stream += grp.tobytes()
            self.pending = data[full * 64 :]
        if final and self.pending:
            k = len(self.pending) // 8
            cmd = bytes([253] * k + [0] * (8 - k))
            self.stream += cmd + self.pending
            self.pending = b""
        if final:
            self.stream += bytes([252] + [0] * 7)

    def _drain(self, limit: int):
        while self._inflight and (
            len(self._inflight) > limit or self._inflight[0][0].done()
        ):
            fut, unc_ofs, unc_sz = self._inflight.popleft()
            comp = fut.result()
            self.blocks.append((unc_ofs, self.fh.tell(), unc_sz, len(comp)))
            self.fh.write(comp)

    def _flush_blocks(self, final: bool = False):
        import zlib

        while len(self.stream) >= self.BLOCK or (final and self.stream):
            chunk = bytes(self.stream[: self.BLOCK])
            del self.stream[: self.BLOCK]
            self._inflight.append(
                (
                    self._pool.submit(zlib.compress, chunk, 6),
                    self.unc_pos,
                    len(chunk),
                )
            )
            self.unc_pos += len(chunk)
            self._drain(8)
        if final:
            self._drain(0)

    def write(self, raw: bytes):
        self.pending += raw
        self._frame()
        self._flush_blocks()

    def abort(self):
        """Error-path cleanup: release the pool and any in-flight
        compressed blocks without touching the (now invalid) file."""
        self._pool.shutdown(wait=False, cancel_futures=True)
        self._inflight.clear()
        self.stream = bytearray()
        self.pending = b""

    def close(self):
        import struct as _s

        self._frame(final=True)
        self._flush_blocks(final=True)
        self._pool.shutdown()
        trailer_ofs = self.fh.tell()
        self.fh.write(_s.pack("<qqii", -100, 0, self.BLOCK, len(self.blocks)))
        for unc_ofs, c_ofs, unc_sz, c_sz in self.blocks:
            self.fh.write(_s.pack("<qqii", unc_ofs, c_ofs, unc_sz, c_sz))
        end = self.fh.tell()
        self.fh.seek(self.zheader_ofs)
        self.fh.write(
            _s.pack("<3q", self.zheader_ofs, trailer_ofs, end - trailer_ofs)
        )
        self.fh.seek(end)
