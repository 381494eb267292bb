"""Vectorized Stata record decode: bytes → per-column arrays.

Strategy (reference parity with src/stata/data.rs, re-expressed as
array code): a row range is one contiguous byte slice (fixed-width
records ⇒ exact seeks, reference src/stata/data.rs:116-119); we map it
with a numpy structured dtype so every column decode is a vectorized
slice — no per-row Python in the numeric paths. Strings go through one
Python-level pass (NUL-split + charset decode), the only part that
genuinely needs it.

This module is the Stata kernel: per selected column it yields a
finished string array or the numeric (values, missing mask, tag codes)
triple, where codes index ``columns.STATA_TAGS`` ('.' and '.a'-'.z').
The shared decode tail (sources/columns.py) does the rest: value
labels, the %td/%tc epoch promotion, the informative-null indicator
and its assembly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from polars_readstat_spark.sources import strdecode
from polars_readstat_spark.sources.columns import ColumnSpec
from polars_readstat_spark.sources.fs import fs_open
from polars_readstat_spark.sources.dta.meta import (
    TC_BYTE,
    TC_DOUBLE,
    TC_FLOAT,
    TC_INT,
    TC_LONG,
    TC_STRL,
    DtaMeta,
    DtaVar,
)

# integer missing bases (public Stata spec)
INT_MISSING_BASE = {TC_BYTE: 101, TC_INT: 32741, TC_LONG: 2147483621}
FLOAT32_MISSING_BITS = 0x7F000000
FLOAT64_MISSING_BITS = 0x7FE0000000000000


def np_dtype_for(meta: DtaMeta) -> np.dtype:
    e = "<" if meta.little_endian else ">"
    fields = []
    for i, v in enumerate(meta.variables):
        if v.kind == "str":
            fmt = f"S{v.width}"
        elif v.kind == "strl":
            fmt = "V8"
        else:
            fmt = e + {"byte": "i1", "int": "i2", "long": "i4", "float": "f4", "double": "f8"}[
                v.kind
            ]
        fields.append((f"f{i}", fmt))
    return np.dtype(fields)


def decode_numeric(
    vals: np.ndarray, var: DtaVar, version: int = 118
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """→ (values, missing_mask, tag_index or None).

    tag_index: 0 for '.', 1..26 for '.a'..'.z' (valid where mask).
    Pre-113 files have no tagged missings and use larger valid int
    ranges (reference missing_rules, src/stata/value.rs:19-52)."""
    # normalize to native byte order once; all bit views below are then
    # exact (astype converts, preserving logical values)
    if vals.dtype.byteorder == ">" or (
        vals.dtype.byteorder == "=" and not np.little_endian
    ):
        vals = vals.astype(vals.dtype.newbyteorder("<"))
    tc = var.typecode
    if tc in INT_MISSING_BASE:
        if version < 113:
            base = {TC_BYTE: 0x7F, TC_INT: 0x7FFF, TC_LONG: 0x7FFFFFFF}[tc]
            mask = vals >= base
            return vals, mask, None
        base = INT_MISSING_BASE[tc]
        mask = vals >= base
        tags = (vals[mask].astype(np.int64) - base) if mask.any() else None
    elif tc == TC_FLOAT:
        bits = vals.view(np.uint32)
        # positive missing range only: sign bit set means a valid
        # negative value, so bound the compare below 0x80000000
        mask = (bits >= FLOAT32_MISSING_BITS) & (bits < 0x80000000)
        tags = (
            ((bits[mask].astype(np.uint64) - FLOAT32_MISSING_BITS) >> 11).astype(np.int64)
            if mask.any()
            else None
        )
    elif tc == TC_DOUBLE:
        bits = vals.view(np.uint64)
        mask = (bits >= FLOAT64_MISSING_BITS) & (bits < 0x8000000000000000)
        tags = (
            ((bits[mask] - FLOAT64_MISSING_BITS) >> 40).astype(np.int64)
            if mask.any()
            else None
        )
    else:
        raise ValueError(f"not numeric: {var.name}")
    return vals, mask, tags


def decode_columns(
    meta: DtaMeta,
    buf: bytes,
    n_rows: int,
    col_indices: list[int],
    specs: list[ColumnSpec],
    strl_lookup=None,
):
    """(spec, payload) per selected column, for ``columns.build_batch``:
    a string array, or the numeric ``(values, mask, codes)`` whose codes
    index ``STATA_TAGS`` (1 '.', 2-27 '.a'-'.z'), built when ``spec``
    asks."""
    data = np.frombuffer(buf, dtype=np_dtype_for(meta), count=n_rows)
    for i, spec in zip(col_indices, specs):
        var = meta.variables[i]
        col = data[f"f{i}"]
        if var.kind == "str":
            yield spec, _fixed_strings(col, meta.encoding)
        elif var.kind == "strl":
            yield spec, _strl_strings(col, var, meta, strl_lookup)
        else:
            # contiguous copy first: the structured-array field is a
            # strided view, and every downstream op (mask compares, bit
            # views, and especially pa.array — ~50× slower on strided
            # input) pays for it otherwise
            vals, mask, tags = decode_numeric(
                np.ascontiguousarray(col), var, meta.version
            )
            codes = None
            if spec.indicator is not None:
                codes = mask.astype(np.uint8)
                if tags is not None:
                    ok = (tags >= 1) & (tags <= 26)
                    codes[mask] += np.where(ok, tags, 0).astype(np.uint8)
            yield spec, (vals, mask, codes)


def _fixed_strings(col: np.ndarray, encoding: str) -> pa.Array:
    sl = np.ascontiguousarray(col)
    m = sl.view(np.uint8).reshape(-1, sl.dtype.itemsize)
    arr = strdecode.try_vectorized(m, strdecode.lengths_first_nul(m), encoding)
    if arr is not None:
        return arr
    # non-ASCII under a non-UTF8 codepage (rare): stop at the first NUL
    # (reference T5, src/sas/value.rs:94); v118+ files declare UTF-8 but
    # can carry stray latin-1 bytes, which fall back per value (pandas
    # does the same)
    return strdecode.decode_each(
        (b.split(b"\0", 1)[0] for b in col.tolist()), encoding
    )


def _strl_strings(col, var: DtaVar, meta: DtaMeta, strl_lookup) -> pa.Array:
    if strl_lookup is None:
        raise NotImplementedError(
            f"column {var.name} is strL and no strls index was built"
        )
    # the 8-byte data cell packs (v, o) with v in the low v_size
    # bytes (v_size: 4/2/3 for v117/118/119); the uint64 of the
    # cell is the lookup key (public dta_117..119 specs)
    raw = col.tobytes()
    if meta.little_endian:
        # LE: cell bytes are v_low..o_high, uint64 == packed key
        keys = np.frombuffer(raw, dtype="<u8")
    else:
        # BE: v in the first v_size bytes, o in the rest, both BE
        v_size = {117: 4, 118: 2, 119: 3}.get(meta.version, 4)
        shift = 8 * v_size
        keys = [
            int.from_bytes(raw[i * 8 : i * 8 + v_size], "big")
            | (int.from_bytes(raw[i * 8 + v_size : i * 8 + 8], "big") << shift)
            for i in range(len(col))
        ]
    out = [strl_lookup.get(int(k), "") for k in keys]
    return pa.array(out, type=pa.string())


def build_strl_lookup(meta: DtaMeta) -> dict[int, str]:
    """Read the <strls> GSO section into a packed-(v,o)-uint64 → str map.

    GSO records carry v:4 + o:4 (v117) or v:4 + o:8 (v118/119); the
    key reconstructs the 8-byte data-cell packing (v in the low
    v_size bytes: 4/2/3 for 117/118/119). One sequential pass;
    executors build it once per file and reuse it across partitions.
    At scale, strL-heavy reads should project strL columns only when
    needed — pruning skips this entirely."""
    out: dict[int, str] = {0: ""}
    e = "<" if meta.little_endian else ">"
    v_size = {117: 4, 118: 2, 119: 3}[meta.version] if meta.version >= 117 else 4
    import struct as _s

    with fs_open(meta.path) as f:
        f.seek(meta.strls_offset)
        tag = f.read(7)
        if tag != b"<strls>":
            return out
        while True:
            head = f.read(3)
            if head != b"GSO":
                break
            if meta.version == 117:
                v, o = _s.unpack(f"{e}II", f.read(8))
            else:
                v, o = _s.unpack(f"{e}IQ", f.read(12))
            t = f.read(1)[0]
            ln = _s.unpack(f"{e}I", f.read(4))[0]
            payload = f.read(ln)
            if t == 130:  # zero-terminated text
                s = strdecode.decode_one(payload.rstrip(b"\0"), meta.encoding)
            else:  # 129: binary — decode best-effort
                s = strdecode.decode_one(payload, meta.encoding)
            key = (v & ((1 << (8 * v_size)) - 1)) | (o << (8 * v_size))
            out[key] = s
    return out
