"""SAS Transport (XPT) v5/v8 metadata + decode.

Implements the publicly documented SAS transport format (SAS Technical
Note TS-140 for v5; the v8 extensions per SAS's "Record Layout of a
SAS Version 8 or 9 Data Set in SAS Transport Format"): 80-byte header
records, 140-byte NAMESTR variable descriptors, row-major fixed-width
records, IBM System/370 hexadecimal floating point numerics.

Reference parity: src/sas/xpt.rs (reader) — re-derived from the public
spec. The IBM→IEEE conversion is vectorized numpy
(reference xpt_to_f64, src/sas/xpt.rs:410-487).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from polars_readstat_spark.sources import strdecode
from polars_readstat_spark.sources.fs import fs_open, fs_size
from polars_readstat_spark.sources.sas7bdat.meta import (
    DATE_FORMATS,
    DATETIME_FORMATS,
    TIME_FORMATS,
)


@dataclass
class XptVar:
    name: str
    is_numeric: bool
    width: int  # bytes in record (numeric: 2-8 IBM float; char: n)
    fmt: str = ""
    label: str = ""
    position: int = 0

    @property
    def time_kind(self) -> str | None:
        f = self.fmt.upper().rstrip("0123456789.")
        if f in DATETIME_FORMATS:
            return "datetime"
        if f in DATE_FORMATS:
            return "date"
        if f in TIME_FORMATS:
            return "time"
        return None


@dataclass
class XptMeta:
    path: str
    version: int  # 5 or 8
    variables: list[XptVar] = field(default_factory=list)
    data_offset: int = 0
    record_width: int = 0
    n_rows: int = 0  # derived from file size (v5 has no row count)
    dataset_name: str = ""
    encoding: str = "cp1252"


def _rec(f) -> bytes:
    b = f.read(80)
    if len(b) < 80:
        raise EOFError("truncated xpt record")
    return b


def parse_xpt_meta(path: str) -> XptMeta:
    """(path, mtime, size)-memoized (sources/metamemo.py; consumers
    never mutate XptMeta)."""
    from polars_readstat_spark.sources.metamemo import memoized_parse

    return memoized_parse("xpt", path, _parse_xpt_meta)


def _parse_xpt_meta(path: str) -> XptMeta:
    with fs_open(path) as f:
        first = _rec(f)
        if not first.startswith(b"HEADER RECORD*******LIB"):
            raise ValueError("not an XPT file")
        version = 8 if b"LIBV8" in first else 5
        _rec(f)  # SAS SAS SASLIB + version/os
        _rec(f)  # datetime record
        # member header
        mh = _rec(f)
        if not mh.startswith(b"HEADER RECORD*******MEM"):
            raise ValueError("missing member header")
        # namestr size is in the member header (bytes 74-78)
        namestr_len = int(mh[74:78].strip() or b"140")
        _rec(f)  # DSCRPTR header
        member = _rec(f)  # sas symbol: dataset name at 8..16 (v5)
        dataset = member[8:16].strip().decode("ascii", errors="replace")
        _rec(f)  # dataset label/type record
        nh = _rec(f)
        if not nh.startswith(b"HEADER RECORD*******NAM"):
            raise ValueError(f"missing namestr header, got {nh[:40]!r}")
        n_vars = int(nh[54:58].strip())

        raw = f.read(namestr_len * n_vars)
        variables = []
        pos = 0
        for i in range(n_vars):
            ns = raw[i * namestr_len : (i + 1) * namestr_len]
            ntype = struct.unpack(">h", ns[0:2])[0]  # 1 numeric, 2 char
            nlng = struct.unpack(">h", ns[4:6])[0]  # length in record
            name = ns[8:16].strip().decode("ascii", errors="replace")
            if version == 8 and namestr_len >= 172:
                # v8: 32-byte long name field at offset 140
                long_name = ns[140:172].strip().decode("ascii", errors="replace")
                if long_name:
                    name = long_name
            label = ns[16:56].strip().decode("ascii", errors="replace")
            fmt = ns[56:64].strip().decode("ascii", errors="replace")
            # record positions are contiguous in NAMESTR order (TS-140);
            # computed cumulatively rather than trusting npos
            variables.append(XptVar(name, ntype == 1, nlng, fmt, label, pos))
            pos += nlng
        # pad namestr block to 80-byte boundary
        pad = (-(namestr_len * n_vars)) % 80
        f.read(pad)
        # v8/v9: optional LABELV8/LABELV9 records carry >8-char names
        # and >40-char labels (public v8 transport layout)
        oh = _rec(f)
        if b"LABELV" in oh[:40]:
            v9 = b"LABELV9" in oh[:40]
            n_lbl = int(oh[48:53].strip() or b"0")
            entries = []
            buf = b""
            # entries are packed back-to-back across 80-byte records
            need = None
            while len(entries) < n_lbl:
                buf += _rec(f)
                while len(entries) < n_lbl:
                    hdr = 10 if v9 else 6
                    if len(buf) < hdr:
                        break
                    if v9:
                        vn, nl, ll, fl, il = struct.unpack(">5h", buf[:10])
                        tot = 10 + nl + ll + fl + il
                    else:
                        vn, nl, ll = struct.unpack(">3h", buf[:6])
                        tot = 6 + nl + ll
                    if len(buf) < tot:
                        break
                    name = buf[hdr : hdr + nl].decode("ascii", errors="replace")
                    label = buf[hdr + nl : hdr + nl + ll].decode(
                        "ascii", errors="replace"
                    )
                    entries.append((vn, name, label))
                    buf = buf[tot:]
            for vn, name, label in entries:
                if 1 <= vn <= len(variables):
                    if name:
                        variables[vn - 1].name = name
                    if label:
                        variables[vn - 1].label = label
            oh = _rec(f)
        while not (
            oh.startswith(b"HEADER RECORD*******OBS") or b"OBSV8" in oh[:40]
        ):
            oh = _rec(f)
        data_offset = f.tell()

        # v8 files written with truncated 8-char names can collide;
        # Spark needs unique field names — suffix duplicates
        seen: dict[str, int] = {}
        for v in variables:
            if v.name in seen:
                seen[v.name] += 1
                v.name = f"{v.name}_{seen[v.name]}"
            else:
                seen[v.name] = 0

    record_width = sum(v.width for v in variables)
    size = fs_size(path)
    # v5 files are padded to 80-byte boundaries with blanks; row count =
    # usable bytes // record width, with trailing all-blank rows dropped
    # at read time
    n_rows = (size - data_offset) // record_width if record_width else 0
    return XptMeta(
        path=path,
        version=version,
        variables=variables,
        data_offset=data_offset,
        record_width=record_width,
        n_rows=n_rows,
        dataset_name=dataset,
    )


def ibm_to_ieee(raw: np.ndarray) -> np.ndarray:
    """Vectorized IBM System/370 float → IEEE double.

    raw: (n, 8) uint8 matrix (widths < 8 must be zero-padded on the
    right). IBM layout: 1 sign bit, 7-bit base-16 exponent (bias 64),
    56-bit hex mantissa with value = 0.mantissa * 16^(exp-64).
    """
    # One big-endian u64 view replaces the per-byte shift-or loop, and
    # ldexp replaces two transcendental np.power passes: the value is
    # mant * 2^(4*exp - 256 - 56), a pure power-of-two scale that ldexp
    # applies exactly (incl. gradual underflow into subnormals).
    be = np.ascontiguousarray(raw).view(">u8").ravel()
    b0 = (be >> np.uint64(56)).astype(np.int64)
    mant = be & np.uint64(0x00FF_FFFF_FFFF_FFFF)
    exp = (b0 & 0x7F).astype(np.int32)
    out = np.ldexp(mant.astype(np.float64), 4 * exp - 312)
    np.negative(out, out=out, where=b0 >= 0x80)
    # SAS missing values: '.' and .A-.Z/._ are stored as the tag char in
    # byte 0 with zero mantissa: 0x2e ('.'), 0x41-0x5a, 0x5f
    zero = mant == np.uint64(0)
    missing = zero & (
        (b0 == 0x2E) | ((b0 >= 0x41) & (b0 <= 0x5A)) | (b0 == 0x5F)
    )
    out[missing] = np.nan
    return out, missing


def file_text_is_utf8(meta: XptMeta) -> bool:
    """File-level codec decision for the charset-less xpt container,
    cached on the meta object: sample the leading records' string
    regions (≤1 MiB) — UTF-8 iff every sampled cell decodes. A
    file-level choice is deterministic under any batch size or
    partitioning (a per-batch choice made output depend on
    rows_per_partition) and keeps one column from mixing codecs;
    cells outside the sample that still fail the chosen codec fall
    back individually in the decoder."""
    cached = getattr(meta, "_text_utf8", None)
    if cached is not None:
        return cached
    ok = True
    str_vars = [v for v in meta.variables if not v.is_numeric]
    if str_vars and meta.record_width:
        with fs_open(meta.path) as f:
            f.seek(meta.data_offset)
            chunk = f.read(min(1 << 20, meta.record_width * 8192))
        for r in range(len(chunk) // meta.record_width):
            base = r * meta.record_width
            for v in str_vars:
                cell = chunk[
                    base + v.position : base + v.position + v.width
                ].rstrip(b"\x00 ")
                try:
                    cell.decode("utf-8")
                except UnicodeDecodeError:
                    ok = False
                    break
            if not ok:
                break
    meta._text_utf8 = ok
    return ok


def xpt_missing_offsets(b0: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Tag offsets from an XPT numeric field's byte 0 (reference
    is_xpt_missing, src/sas/xpt.rs:396-408): 'A'-'Z' → 1-26, '_' → 27,
    '.' (or any other missing pattern) → 0 = plain system missing."""
    offsets = np.zeros(len(b0), dtype=np.uint8)
    upper = (b0 >= 0x41) & (b0 <= 0x5A)
    offsets[upper] = (b0[upper] - 0x40).astype(np.uint8)
    offsets[b0 == 0x5F] = 27
    offsets[~mask] = 0
    return offsets


def decode_columns(meta: XptMeta, buf: bytes, col_indices, specs):
    """(spec, payload) per selected column, for ``columns.build_batch``:
    a string array, or the numeric ``(values, mask, codes)`` whose codes
    index ``SAS_TAGS``, built when ``spec`` asks."""
    rl = meta.record_width
    n = len(buf) // rl
    rows = np.frombuffer(buf, dtype=np.uint8, count=n * rl).reshape(n, rl)
    # drop trailing pad rows (all-blank, v5 padding to 80-byte boundary)
    keep = n
    while keep > 0 and bool((rows[keep - 1] == 0x20).all()):
        keep -= 1
    rows = rows[:keep]

    for i, spec in zip(col_indices, specs):
        v = meta.variables[i]
        sl = rows[:, v.position : v.position + v.width]
        if v.is_numeric:
            full = np.zeros((rows.shape[0], 8), dtype=np.uint8)
            full[:, : v.width] = sl
            vals, missing = ibm_to_ieee(full)
            mask = missing | ~np.isfinite(vals)
            codes = None
            if spec.indicator is not None:
                codes = xpt_missing_offsets(full[:, 0].astype(np.int64), mask)
            yield spec, (vals, mask, codes)
            continue
        m = np.ascontiguousarray(sl)
        arr = strdecode.try_vectorized(
            m, strdecode.lengths_rstrip(m, strip=(0, 0x20)), meta.encoding
        )
        if arr is None:  # non-ASCII bytes present
            b = m.tobytes()
            w = v.width
            raw = [
                b[r * w : (r + 1) * w].rstrip(b"\x00 ")
                for r in range(rows.shape[0])
            ]
            # xpt declares no charset. The codec is decided once
            # per FILE (sampled at first need, file_text_is_utf8):
            # a per-batch or per-value choice would make the output
            # depend on batch boundaries, or mix legacy bytes that
            # happen to form valid UTF-8 (CP1252 'é' pairs) with
            # UTF-8 inside one column. Cells the chosen codec
            # cannot decode (corrupt byte, or legacy text past the
            # sampled prefix) fall back individually.
            codecs = ("utf-8", meta.encoding)
            if not file_text_is_utf8(meta):
                codecs = codecs[::-1]
            arr = strdecode.decode_each(raw, *codecs)
        yield spec, arr
