"""Vectorized fixed-width string decode shared by the dta/sas/sav
readers.

Round-1 profile: string columns were the readers' hot spot — a
per-value Python loop (find NUL / rstrip / bytes.decode) while every
numeric path was numpy-vectorized. This module replaces the loop with
array ops end-to-end:

1. trim lengths per row via one boolean-matrix reduction
   (first-NUL for Stata's stop-at-first-NUL semantics, or
   rstrip-space/NUL for SAS/SPSS),
2. compact the kept bytes with one boolean-mask flatten (row-major,
   order-preserving) into an Arrow offsets+values pair,
3. build the utf8 array zero-copy via ``StringArray.from_buffers``.

Correctness gate: step 3 is only exact when the kept bytes decode to
themselves under the file's declared encoding. That holds when the
bytes are pure ASCII and the encoding is ASCII-compatible (every
single-byte codepage, UTF-8, EUC/GBK/Shift-JIS families), or when the
encoding is UTF-8 and Arrow's binary→utf8 cast validates. Anything
else — high bytes under latin-1/cp125x, invalid UTF-8 — falls back to
the caller's per-value loop, so behavior is bit-identical to round 1;
the fast path just makes the overwhelmingly common case free.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# encodings whose bytes < 0x80 decode exactly as ASCII (python codec
# behavior; includes the DBCS families whose lead bytes are >= 0x80)
_ASCII_COMPATIBLE_PREFIXES = (
    "utf-8",
    "utf8",
    "ascii",
    "us-ascii",
    "latin",
    "iso8859",
    "iso-8859",
    "cp125",
    "windows-125",
    "cp437",
    "cp85",
    "gb",
    "big5",
    "euc",
    "shift",
    "sjis",
    "cp932",
    "cp936",
    "cp949",
    "cp950",
)


def ascii_compatible(encoding: str) -> bool:
    e = (encoding or "utf-8").lower().replace("_", "-")
    return e.startswith(_ASCII_COMPATIBLE_PREFIXES)


def lengths_first_nul(m: np.ndarray) -> np.ndarray:
    """Per-row kept length under stop-at-first-NUL semantics.
    m: (n, w) uint8."""
    w = m.shape[1]
    isnul = m == 0
    has = isnul.any(axis=1)
    return np.where(has, isnul.argmax(axis=1), w).astype(np.int64)


def lengths_rstrip(m: np.ndarray, strip=(0, 0x20)) -> np.ndarray:
    """Per-row kept length after stripping trailing strip-bytes."""
    keep = np.ones(m.shape, dtype=bool)
    for b in strip:
        keep &= m != b
    w = m.shape[1]
    has = keep.any(axis=1)
    # last kept index = w-1 - argmax over the reversed row
    last = w - np.argmax(keep[:, ::-1], axis=1)
    return np.where(has, last, 0).astype(np.int64)


def compact(m: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values_u8, offsets_i64): kept bytes flattened row-major."""
    n, w = m.shape
    keep = np.arange(w, dtype=np.int64)[None, :] < lens[:, None]
    values = m[keep]  # boolean-mask flatten preserves row-major order
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(lens, out=offsets[1:])
    return values, offsets


def _from_buffers(values: np.ndarray, offsets: np.ndarray) -> pa.Array:
    n = offsets.shape[0] - 1
    if offsets[-1] <= np.iinfo(np.int32).max:
        return pa.StringArray.from_buffers(
            n,
            pa.py_buffer(offsets.astype(np.int32).tobytes()),
            pa.py_buffer(values.tobytes()),
        )
    return pa.LargeStringArray.from_buffers(
        pa.large_string(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(values.tobytes())],
    )


def try_vectorized(
    m: np.ndarray, lens: np.ndarray, encoding: str
) -> pa.Array | None:
    """Build the string array without touching Python per value, or
    return None when the bytes need the caller's slow path."""
    values, offsets = compact(m, lens)
    has_high = bool(values.size) and int(values.max()) >= 0x80
    if not has_high:
        if not ascii_compatible(encoding):
            return None  # EBCDIC-style codecs remap even low bytes
        return _from_buffers(values, offsets)
    e = (encoding or "utf-8").lower().replace("_", "-")
    if e in ("utf-8", "utf8"):
        if offsets[-1] > np.iinfo(np.int32).max:
            return None  # >2 GiB of kept bytes in one batch: slow path
        try:
            ba = pa.Array.from_buffers(
                pa.binary(),
                offsets.shape[0] - 1,
                [
                    None,
                    pa.py_buffer(offsets.astype(np.int32).tobytes()),
                    pa.py_buffer(values.tobytes()),
                ],
            )
            return ba.cast(pa.string())  # safe cast validates UTF-8
        except (pa.ArrowInvalid, OverflowError):
            return None  # stray latin-1 bytes → per-value fallback
    return None


def decode_one(b: bytes, *codecs: str) -> str:
    """``b`` in the first codec that decodes it, else latin-1: files
    declare one encoding but real-world ones carry stray latin-1 bytes
    (pandas does the same fallback)."""
    for enc in codecs:
        try:
            return b.decode(enc)
        except (UnicodeDecodeError, LookupError):
            pass
    return b.decode("latin-1")


def decode_each(cells, *codecs: str) -> pa.Array:
    """Per-cell ``decode_one`` of the bytes ``try_vectorized`` declines."""
    return pa.array([decode_one(b, *codecs) for b in cells], type=pa.string())


def empty_to_null(arr: pa.Array) -> pa.Array:
    import pyarrow.compute as pc

    return pc.if_else(
        pc.equal(pc.binary_length(arr), 0), pa.scalar(None, arr.type), arr
    )


def code_string(v: float, scalar=float) -> str:
    """An unlabeled numeric code as a string, integral values without a
    trailing .0 (reference NumericStringCache, spss/data.rs:1555);
    ``scalar`` gives the repr of the rest (np.float32 for float32)."""
    return str(int(v)) if v.is_integer() else str(scalar(v))


def map_via_unique(codes: np.ndarray, mask: np.ndarray, render) -> pa.Array:
    """Apply a per-value renderer through the unique codes only
    (categorical cardinality ≪ row count); masked rows null. Returns a
    plain utf8 array."""
    uniq, inverse = np.unique(codes, return_inverse=True)
    rendered = [render(v) for v in uniq.tolist()]
    d = pa.DictionaryArray.from_arrays(
        pa.array(inverse.astype(np.int32), mask=mask),
        pa.array(rendered, type=pa.string()),
    )
    return d.cast(pa.string())


def map_str_labels(arr: pa.Array, labels: dict) -> pa.Array:
    """Labeled-string → label strings, unlabeled values pass through
    unchanged (vl.get(s, s) semantics), nulls stay null. Vectorized:
    one index_in + take over the label table instead of a per-row
    Python dict lookup (review r12 — the last per-row loops on the
    T1/T2 decode path)."""
    import pyarrow.compute as pc

    # Match the old per-row vl.get(s, s) edge semantics exactly: a
    # non-str label key can never equal a decoded string, so drop it
    # (the dict lookup silently ignored it); a non-str label value
    # (incl. None) yielded null, not str(v) (advice r12).
    pairs = [(k, v) for k, v in labels.items() if isinstance(k, str)]
    keys = pa.array([k for k, _ in pairs], type=pa.string())
    labs = pa.array(
        [v if isinstance(v, str) else None for _, v in pairs],
        type=pa.string(),
    )
    idx = pc.index_in(arr, value_set=keys)
    return pc.if_else(pc.is_valid(idx), pc.take(labs, idx), arr)


def map_int_labels(
    codes: np.ndarray, mask: np.ndarray, labels: dict
) -> pa.Array:
    """Labeled-numeric → label strings: unlabeled codes render
    numeric-as-string (reference NumericStringCache behavior)."""
    return map_via_unique(
        codes, mask, lambda c: labels.get(int(c), str(int(c)))
    )


def pa_masked(vals, pa_type, mask):
    """pa.array that drops a no-op mask and densifies strided input.

    Two silent pa.array costs the readers must never pay per column:
    a mask kwarg forces the slow masked path even when every row is
    valid (~30× on an all-false mask), and strided (structured-field /
    sliced) input hits an element-wise copy (~50× vs contiguous).
    ascontiguousarray is free on already-dense arrays.
    """
    if mask is not None and not mask.any():
        mask = None
    return pa.array(np.ascontiguousarray(vals), type=pa_type, mask=mask)
