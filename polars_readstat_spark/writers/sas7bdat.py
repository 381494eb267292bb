"""SAS7BDAT writer — the one capability no public engine ships.

Emits the publicly documented sas7bdat binary layout (Shotwell's
"SAS7BDAT Database Binary Format" spec, the same one our reader
implements): 64-bit little-endian variant, UTF-8 text (encoding code
20), uncompressed DATA pages or row-compressed META pages with
``compress='rle'`` (SASYZCRL) / ``compress='rdc'`` (SASYZCR2). One
META page carries the row_size / col_size / col_text / col_name /
col_attrs subheaders plus one fmt_label subheader per column; rows
stream onto fixed-size DATA pages (uncompressed) or as per-row
compressed subheaders (each codec's encoder is the exact inverse of
our reader's decompressor — property-tested — which also means the
reader's page-parallel compressed scan applies to our own output).
Row count and page count are back-patched with two seeks when the
stream ends, so the writer is single-pass over the data and
memory-bounded regardless of row count. ``pack`` and ``assemble`` are
the one sas7bdat layout, run by the single-file export and, in its
task, by the part-file writer.

Each codec has one production encoder, the numpy-vectorized
``_X_encode_rows``, which works through the row matrix in row blocks of
``_BLOCK_BYTES`` (64 KiB) so a pack task's memory stays bounded at any
row width; rows encode independently, so the blocks change no byte.
``_pieces`` cuts every run and literal span into the commands the spec
allows. ``_X_encode_rows_scalar`` is the spec and the test reference,
matched byte for byte. A compressed chunk travels from
``pack`` to ``assemble`` unframed: the row blobs back to back, then
``lens`` (<i4 per row) and ``comps`` (u8 per row, 1 = encoded, 0 =
raw); the row count comes with the payload. The assembler greedily
fills META pages from those arrays, copying each page's blobs with
one slice.

Independently verified: files written here are read back by
``pandas.read_sas`` (a reader we do not control) bit-for-bit equal to
the source frame — see tests/test_sas7bdat_writer.py.

Type mapping (the inverse of sources/sas7bdat/decode.py):
- numerics → 8-byte IEEE little-endian doubles (NaN is a SAS missing)
- date     → days since 1960-01-01, format DATE
- timestamp→ seconds since 1960-01-01 (fractional µs), format DATETIME
- bigint tagged as nanoseconds since midnight → seconds, format TIME
- string   → fixed width (global max octet length), space padded

Reference parity target: the reference has NO sas7bdat writer
(its FIXTURES note calls the format read-only everywhere); this
closes that asymmetry so sas7bdat joins the write→scan roundtrip
oracle like dta/sav/xpt/por.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame

from polars_readstat_spark.writers import (
    export_file,
    plan_export,
    str_cell_matrix,
)
from polars_readstat_spark.writers.tagged import (
    NO_TAG as _TAG_NONE,
    sas7bdat_tag_rows as _sas7bdat_tag_rows,
    slot_tags as _slot_tags,
)
from polars_readstat_spark.sources.sas7bdat.meta import _SIGS as _META_SIGS

MAGIC = (
    b"\x00\x00\x00\x00\x00\x00\x00\x00"
    b"\x00\x00\x00\x00\xc2\xea\x81\x60"
    b"\xb3\x14\x11\xcf\xbd\x92\x08\x00"
    b"\x09\xc7\x31\x8c\x18\x1f\x10\x11"
)
HEADER_LENGTH = 1024
BIT_OFFSET = 32  # u64 page header prefix
INT_LEN = 8
PTR_LEN = 24
PAGE_DATA_TYPE = 0x0100

# u64 little-endian subheader signatures (sources/sas7bdat/meta.py _SIGS)
SIG_ROW_SIZE = b"\x00\x00\x00\x00\xf7\xf7\xf7\xf7"
SIG_COL_SIZE = b"\x00\x00\x00\x00\xf6\xf6\xf6\xf6"
SIG_COL_TEXT = b"\xfd\xff\xff\xff\xff\xff\xff\xff"
SIG_COL_NAME = b"\xff\xff\xff\xff\xff\xff\xff\xff"
SIG_COL_ATTRS = b"\xfc\xff\xff\xff\xff\xff\xff\xff"
SIG_FMT_LABEL = b"\xfe\xfb\xff\xff\xff\xff\xff\xff"

RLE_LITERAL = b"SASYZCRL"
RDC_LITERAL = b"SASYZCR2"

# Input bytes per row block of the vectorized rle/rdc encoders. Their
# piece arrays run to 50-130x a block's bytes: unblocked, one 8,000 x
# 4,112-byte chunk peaked at 1.6 GiB (rle) / 1.3 GiB (rdc) traced. A
# no-Spark sweep of 32 KiB-4 MiB blocks (4-core VM) encoded narrow
# (74-byte) and wide (4,112/8,240-byte) rows fastest at 64-128 KiB,
# where a block's arrays stay cache-sized; the smaller keeps the peak
# lower.
_BLOCK_BYTES = 1 << 16


def _collides_with_signature(raw: bytes) -> bool:
    """True when a raw row's leading bytes would be classified as a
    metadata subheader by the readers, which match the full 8-byte
    signature AND its 4-byte prefix (sources/sas7bdat/meta.py _SIGS —
    the exact same table, so the guard can't drift). A compressed row
    can't collide (the encoder pins its first command byte to
    0x80-0xBF, which no signature starts with); an incompressible raw
    row that collides is refused rather than written corrupt."""
    return bool(_META_SIGS.get(raw[:8]) or _META_SIGS.get(raw[:4]))


def _runs(mat: np.ndarray):
    """Maximal same-byte runs of a (rows, row_length) uint8 matrix,
    split at every row boundary: (flat bytes, run starts, run lengths),
    offsets into the flat bytes."""
    r, rl = mat.shape
    flat = np.ascontiguousarray(mat).ravel()
    brk = flat[1:] != flat[:-1]
    if r > 1:  # force a run break at every row boundary (no sort)
        brk[np.arange(1, r, dtype=np.int64) * rl - 1] = True
    bounds = np.flatnonzero(brk) + 1
    starts = np.concatenate(([0], bounds))
    return flat, starts, np.concatenate((bounds, [r * rl])) - starts


def _pieces(length, cap, least, first=None):
    """Cut segments of ``length`` bytes into the spec encoders' command
    pieces: a first piece of at most ``first`` bytes (default ``cap``),
    then pieces of at most ``cap``; a last piece shorter than ``least``
    is literal bytes (the spec's remnant rule). Each of ``cap``,
    ``least`` and ``first`` is a scalar or one value per segment.
    Returns (seg, off, plen, lit): piece k is bytes [off[k], off[k] +
    plen[k]) of segment seg[k], and lit[k] marks a literal remnant."""
    first = cap if first is None else first
    head = np.minimum(length, first)
    # only segments longer than their first piece get more pieces
    long = np.flatnonzero(length > head)

    def at(v, i):
        return v[i] if np.ndim(v) else v

    c = at(cap, long)
    n = (length[long] - head[long] + c - 1) // c
    t_seg = np.repeat(long, n)
    k = np.arange(t_seg.size, dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
    c = at(cap, t_seg)
    t_off = head[t_seg] + k * c
    t_len = np.minimum(c, length[t_seg] - t_off)
    # a segment's further pieces go right after its first one
    ins = t_seg + 1
    seg = np.insert(np.arange(length.size, dtype=np.int64), ins, t_seg)
    plen = np.insert(head, ins, t_len)
    off = np.insert(np.zeros(length.size, np.int64), ins, t_off)
    return seg, off, plen, plen < at(least, seg)


def _in_blocks(encode, mat: np.ndarray) -> list:
    """``encode`` over consecutive row blocks of about _BLOCK_BYTES.
    Rows encode independently, so the blocking changes no byte; it
    bounds the piece arrays, which run to 50-130x a block's bytes."""
    r, rl = mat.shape
    if rl == 0:
        return [None] * r
    step = max(1, _BLOCK_BYTES // rl)
    out: list = []
    for i in range(0, r, step):
        out += encode(mat[i : i + step])
    return out


def _rle_encode_rows(mat: np.ndarray) -> list:
    """Batch SASYZCRL encode of a (rows, row_length) uint8 matrix, in
    row blocks of about _BLOCK_BYTES — byte-identical per row to the
    spec, _rle_encode_rows_scalar (property-tested against it)."""
    return _in_blocks(_rle_encode_block, mat)


# rle's dedicated run commands: zero, blank and '@' runs
_SPECIAL = np.zeros(256, np.uint8)
_SPECIAL[[0x00, 0x20, 0x40]] = [0x70, 0x60, 0x50]


def _rle_encode_block(mat: np.ndarray) -> list:
    """SASYZCRL-encode one row block, numpy-vectorized. Each row with
    a real run (length >= 3 special / 4 plain) is a sequence of
    segments: literal spans, real runs, and the synthetic 1-byte
    literal the signature guard requires when a run opens the row.
    ``_pieces`` cuts them into commands (literal 4,159 bytes after a
    row-opening 64; special run 4,112; plain run 4,113), and the
    piece headers and literal bytes are scattered into one flat
    buffer; per-row Python is just the final slice. Rows without a
    real run cannot shorten and get no pieces."""
    r, rl = mat.shape
    flat, starts, run_len = _runs(mat)
    run_byte = flat[starts]
    real = run_len >= np.where(_SPECIAL[run_byte] != 0, 3, 4)
    rs = starts[real]
    rL = run_len[real]
    rrow = rs // rl
    n_real = rs.size
    if n_real == 0:
        return [None] * r
    # literal span before each real run / after each row's last one
    first_in_row = np.ones(n_real, bool)
    first_in_row[1:] = rrow[1:] != rrow[:-1]
    last_in_row = np.ones(n_real, bool)
    last_in_row[:-1] = first_in_row[1:]
    span_start = np.empty(n_real, np.int64)
    span_start[first_in_row] = rrow[first_in_row] * rl
    span_start[~first_in_row] = (rs + rL)[:-1][~first_in_row[1:]]
    span_len = rs - span_start
    t_start = (rs + rL)[last_in_row]
    t_len = (rrow[last_in_row] + 1) * rl - t_start
    # a run opening the row -> synthetic literal of its first byte
    synth = first_in_row & (span_len == 0)
    sd = synth.astype(np.int64)
    # segment table (kind 0 = literal, 1 = special run, 2 = plain run),
    # in emission order: segment starts are distinct
    lit_s = np.concatenate((span_start, rs[synth], t_start))
    lit_l = np.concatenate((span_len, sd[synth], t_len))
    keep = lit_l > 0
    lit_s, lit_l = lit_s[keep], lit_l[keep]
    s_start = np.concatenate((rs + sd, lit_s))
    order = np.argsort(s_start)
    s_start = s_start[order]
    s_len = np.concatenate((rL - sd, lit_l))[order]
    s_byte = np.concatenate((run_byte[real], np.zeros(lit_s.size, np.uint8)))
    s_kind = np.where(_SPECIAL[s_byte] != 0, 1, 2)
    s_kind[rs.size :] = 0
    s_byte, s_kind = s_byte[order], s_kind[order]
    cap = np.array([4159, 4112, 4113])[s_kind]
    # a row's first command stays in 0x80-0xBF: a literal of <= 64
    opening = np.diff(s_start // rl, prepend=-1) != 0
    seg, off, plen, rem = _pieces(
        s_len, cap, np.array([1, 2, 3])[s_kind], np.where(opening, 64, cap)
    )
    kind = np.where(rem, 0, s_kind[seg])
    psrc = s_start[seg] + off
    pbyte = s_byte[seg]
    psp = _SPECIAL[pbyte]

    lit = kind == 0
    spec = kind == 1
    plain = kind == 2
    long_lit = lit & (plen > 64)
    long_spec = spec & (plen > 17)
    long_plain = plain & (plen > 18)
    hdr = np.ones(kind.size, np.int64)  # short literal / short special
    hdr[long_lit | long_spec | plain] = 2
    hdr[long_plain] = 3
    psize = hdr + np.where(lit, plen, 0)
    dst_end = np.cumsum(psize)
    dst = dst_end - psize
    buf = np.empty(int(dst_end[-1]), np.uint8)
    # header byte 0
    b0 = np.empty(kind.size, np.int64)
    b0[lit] = np.where(
        long_lit[lit], (plen[lit] - 64) >> 8, 0x80 + plen[lit] - 1
    )
    b0[spec] = np.where(
        long_spec[spec],
        psp[spec] | ((plen[spec] - 17) >> 8),
        (psp[spec] | 0x80) | (plen[spec] - 2),
    )
    b0[plain] = np.where(
        long_plain[plain],
        0x40 | ((plen[plain] - 18) >> 8),
        0xC0 | (plen[plain] - 3),
    )
    buf[dst] = b0.astype(np.uint8)
    # header byte 1
    m2 = hdr >= 2
    b1 = np.empty(kind.size, np.int64)
    b1[long_lit] = (plen[long_lit] - 64) & 0xFF
    b1[long_spec] = (plen[long_spec] - 17) & 0xFF
    b1[plain & ~long_plain] = pbyte[plain & ~long_plain]
    b1[long_plain] = (plen[long_plain] - 18) & 0xFF
    buf[dst[m2] + 1] = b1[m2].astype(np.uint8)
    # header byte 2 (long plain run: the repeated byte)
    buf[dst[long_plain] + 2] = pbyte[long_plain]
    # literal bytes: pieces are in source and in output order, so the
    # literal bytes are one masked copy
    buf[_cover(buf.size, dst[lit] + hdr[lit], plen[lit])] = flat[
        _cover(flat.size, psrc[lit], plen[lit])
    ]
    # per-row slices (a row's pieces are contiguous)
    row_len = np.bincount(psrc // rl, weights=psize, minlength=r).astype(np.int64)
    row_start = (np.cumsum(row_len) - row_len).tolist()
    data = buf.tobytes()
    return [
        data[s : s + ln] if 0 < ln < rl else None
        for s, ln in zip(row_start, row_len.tolist())
    ]


def _cover(size: int, starts, lens) -> np.ndarray:
    """Bool mask of length ``size``, True on the disjoint ranges
    [starts[i], starts[i] + lens[i])."""
    d = np.zeros(size + 1, np.int8)
    d[starts] = 1
    d[starts + lens] -= 1
    return np.cumsum(d[:-1], dtype=np.int8).view(bool)


def _rle_encode_rows_scalar(mat: np.ndarray) -> list:
    """SASYZCRL-encode each row of a (rows, row_length) uint8 matrix:
    the spec encoder and the test reference for _rle_encode_rows.
    A row's entry is None when its encoding is not strictly shorter
    than the row (both readers treat length == row_length as an
    uncompressed row).

    Exact inverse of sources/sas7bdat/pages.py:rle_decompress — the
    public control-byte table: literal copies (0x8-0xB short, 0x0
    long), same-byte runs (0xC short / 0x4 long), and dedicated
    zero/blank/'@' runs (0xF/0xE/0xD short, 0x7/0x6/0x5 long)."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    flat, starts, run_len = _runs(mat)
    starts_all = starts.tolist()
    ends_all = (starts + run_len).tolist()
    firsts = flat[starts].tolist()
    # row ri's runs are [k_of_row[ri], k_of_row[ri + 1])
    k_of_row = np.searchsorted(starts, np.arange(r + 1) * rl).tolist()
    data = flat.tobytes()

    results: list = []
    for ri in range(r):
        base = ri * rl
        out = bytearray()
        lit0 = lit1 = 0

        def emit_literal(a: int, b: int) -> None:
            i = a
            while i < b:
                take = min(b - i, 4159)
                if not out and take > 64:
                    take = 64  # first command stays in 0x80-0xBF
                if take <= 16:
                    out.append(0x80 | (take - 1))
                elif take <= 32:
                    out.append(0x90 | (take - 17))
                elif take <= 48:
                    out.append(0xA0 | (take - 33))
                elif take <= 64:
                    out.append(0xB0 | (take - 49))
                else:
                    out.append((take - 64) >> 8)
                    out.append((take - 64) & 0xFF)
                out.extend(data[base + i : base + i + take])
                i += take

        for k in range(k_of_row[ri], k_of_row[ri + 1]):
            s = starts_all[k] - base
            e = ends_all[k] - base
            b = firsts[k]
            L = e - s
            special = (
                0x70 if b == 0 else 0x60 if b == 0x20
                else 0x50 if b == 0x40 else 0
            )
            if L < (3 if special else 4):
                lit1 = e
                continue
            if lit1 > lit0:
                emit_literal(lit0, lit1)
            if not out:  # a run may not open the stream (signature guard)
                emit_literal(s, s + 1)
                s += 1
                L -= 1
            while L > 0:
                if special:
                    if L > 17:
                        take = min(L, 4112)
                        out.append(special | ((take - 17) >> 8))
                        out.append((take - 17) & 0xFF)
                    else:
                        take = max(L, 2)
                        out.append((special | 0x80) | (take - 2))
                else:
                    if L > 18:
                        take = min(L, 4113)
                        out.append(0x40 | ((take - 18) >> 8))
                        out.append((take - 18) & 0xFF)
                        out.append(b)
                    else:
                        take = L
                        if take < 3:
                            emit_literal(e - take, e)
                            break
                        out.append(0xC0 | (take - 3))
                        out.append(b)
                L -= take
                if 0 < L < (2 if special else 3):
                    emit_literal(e - L, e)
                    L = 0
            lit0 = lit1 = e
        if lit1 > lit0:
            emit_literal(lit0, lit1)
        results.append(bytes(out) if len(out) < rl else None)
    return results


def _rdc_encode_rows(mat: np.ndarray) -> list:
    """Batch SASYZCR2 encode of a (rows, row_length) uint8 matrix, in
    row blocks of about _BLOCK_BYTES — byte-identical per row to the
    spec, _rdc_encode_rows_scalar (property-tested against it)."""
    return _in_blocks(_rdc_encode_block, mat)


def _rdc_encode_block(mat: np.ndarray) -> list:
    """SASYZCR2-encode one row block, numpy-vectorized. ``_pieces``
    cuts every run into commands of at most 4,114 bytes; a run or
    remnant under 3 bytes becomes one literal item per byte, every
    other piece one short (3..18) or long (19..4114) RLE item. Item
    bits, control words, payload bytes and output offsets are then
    computed with repeat/cumsum/reduceat and scattered into one flat
    buffer; the only per-row Python left is the final slice and the
    subheader-signature guard."""
    r, rl = mat.shape
    flat, starts, run_len = _runs(mat)
    seg, _, plen, lit = _pieces(run_len, 4114, 3)
    # a literal piece is one item per byte, any other piece one item
    item = np.repeat(np.arange(seg.size, dtype=np.int64), np.where(lit, plen, 1))
    total_items = item.size
    i_lit = lit[item]
    i_len = plen[item]
    i_start = starts[seg[item]]
    i_byte = flat[i_start]
    i_short = ~i_lit & (i_len <= 18)
    paylen = np.where(i_lit, 1, np.where(i_short, 2, 3)).astype(np.int64)
    cnt = i_len - 19  # long-RLE count field (valid where paylen == 3)
    p0 = np.where(
        i_lit, i_byte,
        np.where(i_short, i_len - 3, 0x10 | (cnt & 0x0F)),
    ).astype(np.uint8)
    p1 = np.where(i_short, i_byte, cnt >> 4).astype(np.uint8)
    # per-row item/group geometry (runs never cross row boundaries)
    row_of_item = i_start // rl
    items_per_row = np.bincount(row_of_item, minlength=r).astype(np.int64)
    row_item_base = np.concatenate(
        ([0], np.cumsum(items_per_row))
    )[:-1]
    idx_in_row = (
        np.arange(total_items, dtype=np.int64) - row_item_base[row_of_item]
    )
    bitpos = 15 - (idx_in_row & 15)
    groups_per_row = (items_per_row + 15) >> 4
    row_group_base = np.concatenate(
        ([0], np.cumsum(groups_per_row))
    )[:-1]
    group_id = row_group_base[row_of_item] + (idx_in_row >> 4)
    first_idx = np.flatnonzero(np.diff(group_id, prepend=-1))
    ctrl = np.add.reduceat(
        (~i_lit).astype(np.int32) << bitpos, first_idx
    )
    group_pay = np.add.reduceat(paylen, first_idx)
    group_size = group_pay + 2
    group_start = np.concatenate(([0], np.cumsum(group_size)))[:-1]
    cpay = np.concatenate(([0], np.cumsum(paylen)))[:-1]
    item_start = group_start[group_id] + 2 + (cpay - cpay[first_idx][group_id])
    buf = np.empty(int(group_size.sum()), np.uint8)
    buf[group_start] = (ctrl >> 8).astype(np.uint8)
    buf[group_start + 1] = (ctrl & 0xFF).astype(np.uint8)
    buf[item_start] = p0
    m2 = paylen >= 2
    buf[item_start[m2] + 1] = p1[m2]
    m3 = paylen == 3
    buf[item_start[m3] + 2] = i_byte[m3]
    row_out_start = group_start[row_group_base].tolist()
    row_out_len = (
        2 * groups_per_row
        + np.bincount(row_of_item, weights=paylen, minlength=r).astype(
            np.int64
        )
    ).tolist()
    data = buf.tobytes()
    results: list = []
    for ri in range(r):
        ln = row_out_len[ri]
        if ln >= rl:
            results.append(None)
            continue
        s = row_out_start[ri]
        enc = data[s : s + ln]
        results.append(None if _collides_with_signature(enc) else enc)
    return results


def _rdc_encode_rows_scalar(mat: np.ndarray) -> list:
    """SASYZCR2-encode each row of a (rows, row_length) uint8 matrix:
    the spec encoder and the test reference for _rdc_encode_rows. A
    run longer than one long-RLE command (4,114 bytes) takes several
    command words. A row's entry is None when its encoding is not
    strictly shorter than the row, or when it would collide with a
    subheader signature prefix (a literal-opening RDC stream begins
    with a 0x0000 control word, so the guard matters here where RLE's
    0x80-0xBF first byte makes it structurally impossible).

    Exact inverse of sources/sas7bdat/pages.py:rdc_decompress's
    literal and RLE forms: 16-bit big-endian control words, clear bit
    = one literal byte, set bit = a command group — short RLE
    (0x0n + value, runs 3..18) or long RLE (0x1n + count + value,
    runs 19..4114). The format's LZ pattern commands are decoder-side
    freedom this encoder doesn't use; every conforming decompressor
    (ours, pandas, readstat) accepts literal+RLE-only streams."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    flat, starts, run_len = _runs(mat)
    starts_all = starts.tolist()
    ends_all = (starts + run_len).tolist()
    # row ri's runs are [k_of_row[ri], k_of_row[ri + 1])
    k_of_row = np.searchsorted(starts, np.arange(r + 1) * rl).tolist()
    data = flat.tobytes()

    results: list = []
    for ri in range(r):
        base = ri * rl
        items: list = []
        for k in range(k_of_row[ri], k_of_row[ri + 1]):
            s = starts_all[k]
            e = ends_all[k]
            L = e - s
            if L < 3:
                for p in range(s, e):
                    items.append((0, data[p : p + 1]))
                continue
            b = data[s : s + 1]
            while L > 0:
                if L > 18:
                    take = min(L, 4114)
                    cnt = take - 19
                    items.append(
                        (1, bytes([0x10 | (cnt & 0x0F), cnt >> 4]) + b)
                    )
                elif L >= 3:
                    take = L
                    items.append((1, bytes([0x00 | (take - 3)]) + b))
                else:  # 1-2 leftover bytes after a long run
                    take = L
                    for _ in range(take):
                        items.append((0, b))
                L -= take
        out = bytearray()
        for c in range(0, len(items), 16):
            chunk = items[c : c + 16]
            ctrl = 0
            for pos, (bit, _) in enumerate(chunk):
                ctrl |= bit << (15 - pos)
            out += ctrl.to_bytes(2, "big")
            for _, payload in chunk:
                out += payload
        if len(out) >= rl:
            results.append(None)
            continue
        enc = bytes(out)
        results.append(None if _collides_with_signature(enc) else enc)
    return results


class _MetaOverflow(ValueError):
    """Metadata doesn't fit the current page_length — growable by
    retrying with a larger page (unlike e.g. the 64 KiB col_text
    limit, which no page size fixes)."""


class _TextBlob:
    """col_text block builder: [0:2] = block size (u16, counted from
    the block start per the spec), strings appended 4-byte aligned.
    Both readers rstrip trailing ``\\x00 `` from the block, so padding
    never lands inside a referenced slice."""

    def __init__(self):
        self.buf = bytearray(8)  # size u16 + 6 reserved bytes
        self._seen: dict[bytes, tuple[int, int]] = {b"": (0, 0)}

    def add(self, s: str) -> tuple[int, int]:
        b = s.encode("utf-8")
        if b in self._seen:
            return self._seen[b]
        off = len(self.buf)
        self.buf += b
        self.buf += b"\x00" * ((-len(self.buf)) % 4)
        self._seen[b] = (off, len(b))
        return off, len(b)

    def finish(self) -> bytes:
        if len(self.buf) > 0xFFFF:
            raise ValueError(
                "write_sas7bdat: column name/label/format text exceeds the "
                "64 KiB col_text block (too many / too long columns)"
            )
        struct.pack_into("<H", self.buf, 0, len(self.buf))
        return bytes(self.buf)


def _build_meta_page(
    fields, names, kinds, widths, variable_labels, page_length,
    compression: bytes = b"",
) -> tuple[bytes, int]:
    """One META page holding every metadata subheader. Returns
    (page bytes, offset-within-page of the u64 row_count field) so the
    caller can back-patch the count after streaming."""
    ncols = len(fields)
    text = _TextBlob()
    if compression:
        # the compression literal lives in the first col_text block —
        # that is how every reader (ours, pandas) detects RLE
        text.add(compression.decode("ascii"))
    fmt_refs, label_refs = [], []
    for f, k in zip(fields, kinds):
        fmt = {"date": "DATE", "datetime": "DATETIME", "time": "TIME"}.get(k, "")
        fmt_refs.append(text.add(fmt))
        label_refs.append(text.add(variable_labels.get(f.name, "")))
    name_refs = [text.add(n) for n in names]
    blob = text.finish()

    offsets = []
    pos = 0
    for w in widths:
        offsets.append(pos)
        pos += w
    row_length = pos

    bodies: list[bytes] = []

    # row_size: fields at the exact int offsets both readers use
    # (row_length @5*8, row_count @6*8, col counts @9/10*8,
    # mix_page_row_count @15*8, lcs/lcp @682/706)
    rs = bytearray(808)
    rs[0:8] = SIG_ROW_SIZE
    struct.pack_into("<Q", rs, 5 * INT_LEN, row_length)
    struct.pack_into("<Q", rs, 6 * INT_LEN, 0)  # row_count placeholder
    struct.pack_into("<Q", rs, 9 * INT_LEN, ncols)  # col_count_p1
    struct.pack_into("<Q", rs, 10 * INT_LEN, 0)  # col_count_p2
    struct.pack_into("<Q", rs, 15 * INT_LEN, 0)  # mix_page_row_count
    struct.pack_into("<H", rs, 682, 0)  # lcs
    struct.pack_into("<H", rs, 706, 0)  # lcp
    bodies.append(bytes(rs))
    row_count_body_off = 6 * INT_LEN

    cs = bytearray(24)
    cs[0:8] = SIG_COL_SIZE
    struct.pack_into("<Q", cs, INT_LEN, ncols)
    bodies.append(bytes(cs))

    bodies.append(SIG_COL_TEXT + blob)

    # col_name: entries of (text idx u16, offset u16, length u16, pad)
    # at sig + 8 + 8*(k+1); total length 8n + 28 (the readers derive
    # the pointer count from that exact formula)
    cn = bytearray(8 * ncols + 28)
    cn[0:8] = SIG_COL_NAME
    for k, (noff, nlen) in enumerate(name_refs):
        struct.pack_into("<3H", cn, INT_LEN + 8 * (k + 1), 0, noff, nlen)
    bodies.append(bytes(cn))

    # col_attrs: 16-byte entries (row offset u64, width u32, 2 pad,
    # type u8: 1 numeric / 2 char); total length 16n + 28
    ca = bytearray(16 * ncols + 28)
    ca[0:8] = SIG_COL_ATTRS
    for k, (off, w, kind) in enumerate(zip(offsets, widths, kinds)):
        base = INT_LEN + 8 + 16 * k
        struct.pack_into("<Q", ca, base, off)
        struct.pack_into("<I", ca, base + 8, w)
        ca[base + 14] = 2 if kind == "str" else 1
    bodies.append(bytes(ca))

    # one fmt_label per column, in column order (pandas materializes
    # its column list from these, so order and count are load-bearing)
    for (foff, flen), (loff, llen) in zip(fmt_refs, label_refs):
        fl = bytearray(64)
        fl[0:8] = SIG_FMT_LABEL
        b0 = 3 * INT_LEN
        struct.pack_into("<3H", fl, b0 + 22, 0, foff, flen)
        struct.pack_into("<3H", fl, b0 + 28, 0, loff, llen)
        bodies.append(bytes(fl))

    n_sub = len(bodies)
    ptr_end = BIT_OFFSET + 8 + PTR_LEN * n_sub
    need = ptr_end + sum(len(b) for b in bodies)
    if need > page_length:
        raise _MetaOverflow(
            f"write_sas7bdat: metadata ({need} bytes) exceeds the "
            f"{page_length}-byte page; raise page_length"
        )

    page = bytearray(page_length)
    struct.pack_into("<4H", page, BIT_OFFSET, 0x0000, n_sub, n_sub, 0)
    pos = ptr_end
    row_count_page_off = None
    for i, body in enumerate(bodies):
        struct.pack_into(
            "<QQ", page, BIT_OFFSET + 8 + PTR_LEN * i, pos, len(body)
        )
        # comp / type bytes stay 0 (uncompressed metadata)
        if i == 0:
            row_count_page_off = pos + row_count_body_off
        page[pos : pos + len(body)] = body
        pos += len(body)
    return bytes(page), row_count_page_off


def _build_header(dataset_name: str, page_length: int) -> bytes:
    """1024-byte file header, u64 little-endian layout. page_count is
    back-patched at offset 208 once the data pages are counted."""
    h = bytearray(HEADER_LENGTH)
    h[0:32] = MAGIC
    h[32] = 0x33  # u64
    h[35] = 0x33  # align1 = 4
    h[36] = 0x01
    h[37] = 0x01  # little-endian
    h[39] = 0x31  # unix
    h[41:43] = b"\x01\x01"
    h[70] = 20  # UTF-8
    h[84:92] = b"SAS FILE"
    ds = dataset_name.encode("utf-8")[:64]
    h[92 : 92 + len(ds)] = ds
    for i in range(92 + len(ds), 156):
        h[i] = 0x20
    h[156:164] = b"DATA    "
    # created/modified: SAS epoch seconds (fixed for determinism)
    struct.pack_into("<d", h, 168, 0.0)
    struct.pack_into("<d", h, 176, 0.0)
    struct.pack_into("<I", h, 200, HEADER_LENGTH)
    struct.pack_into("<I", h, 204, page_length)
    struct.pack_into("<Q", h, 208, 0)  # page_count placeholder
    h[224:232] = b"9.0401M2"
    h[232:240] = b"Linux".ljust(8)
    return bytes(h)


def _pack_rows(
    cols_data, kinds, widths, row_length, tags_data=None
) -> np.ndarray:
    """Column-wise vectorized row packing: (n, row_length) uint8.

    tags_data: optional per-column list of tag-offset arrays (None for
    untagged columns) — tagged rows overwrite the numeric cell with
    the SAS tagged-missing NaN pattern (writers/tagged.py)."""
    n = len(cols_data[0]) if cols_data else 0
    mat = np.zeros((n, row_length), dtype=np.uint8)
    off = 0
    for ci, (col, k, w) in enumerate(zip(cols_data, kinds, widths)):
        if k == "str":
            mat[:, off : off + w] = str_cell_matrix(col, w)
        else:
            vals = col.to_numpy(dtype="float64", na_value=np.nan)
            # IEEE NaN is a SAS missing on disk (any non-finite decodes
            # to null in both our reader and pandas)
            bts = vals.astype("<f8").view(np.uint8).reshape(n, 8)
            if w < 8:
                # SAS LENGTH truncation: keep the HIGH-order end (the
                # trailing w bytes in LE) — sign, exponent, and the
                # top 8w-12 mantissa bits; the reader zero-pads the
                # dropped tail back (decode_numeric_raw)
                mat[:, off : off + w] = bts[:, 8 - w :]
            else:
                mat[:, off : off + 8] = bts
            offs = tags_data[ci] if tags_data else None
            if offs is not None:
                tagged = offs != _TAG_NONE
                if tagged.any():
                    mat[tagged, off : off + 8] = _sas7bdat_tag_rows(
                        offs[tagged]
                    )
        off += w
    return mat


class _SasFileSink:
    """Streaming file assembly: header + meta page up front, DATA
    pages (plain) or META pages of compressed rows as rows arrive,
    two-seek back-patch on close."""

    def __init__(self, fh, plan):
        self.fh = fh
        self.row_length = sum(plan.widths)
        literal = (
            {"rle": RLE_LITERAL, "rdc": RDC_LITERAL}[plan.compress]
            if plan.compress
            else b""
        )
        pl = plan.page_length or 0x10000
        # every page must hold ≥1 row (plus one subheader pointer in
        # the compressed layout); metadata must fit the meta page
        pl = max(pl, self.row_length + BIT_OFFSET + 8 + PTR_LEN)
        while True:
            pl = (pl + 0xFFF) & ~0xFFF
            try:
                meta_page, self._rc_off = _build_meta_page(
                    plan.fields, plan.names, plan.kinds, plan.widths,
                    plan.variable_labels, pl, literal,
                )
                break
            except _MetaOverflow:
                # growable; terminal errors (e.g. the 64 KiB col_text
                # limit) propagate immediately instead of looping
                if pl >= 1 << 26:
                    raise
                pl *= 2
        self.page_length = pl
        self.rows_per_page = (pl - BIT_OFFSET - 8) // max(self.row_length, 1)
        fh.write(_build_header(plan.dataset_name, pl))
        fh.write(meta_page)
        self.pending = bytearray()
        self.n_rows = 0
        self.n_data_pages = 0
        # compressed layout: the rows not yet on a page, as their blobs
        # back to back plus per-row lengths and compressed flags
        self._blobs = b""
        self._lens = np.empty(0, dtype=np.int64)
        self._comps = np.empty(0, dtype=np.uint8)

    def write_packed(self, packed: bytes, n: int) -> None:
        """Append pre-packed uncompressed row bytes (n rows)."""
        if n <= 0:
            return
        self.n_rows += n
        self.pending += packed
        chunk = self.rows_per_page * self.row_length
        while len(self.pending) >= chunk:
            self._emit_page(self.pending[:chunk], self.rows_per_page)
            del self.pending[:chunk]

    def write_encoded(self, payload: bytes, n: int) -> None:
        """Append n rows compressed by ``pack``. A page is written once
        the next row no longer fits it; the last, possibly partial,
        page stays pending, so the bytes do not depend on how the rows
        are chunked. A payload whose lengths do not add up raises
        before any of its rows reaches a page."""
        size = len(payload) - 5 * n
        lens = (
            np.frombuffer(payload, "<i4", n, size).astype(np.int64)
            if size >= 0
            else None
        )
        if lens is None or lens.min(initial=1) < 1 or lens.sum() != size:
            raise RuntimeError(
                f"write_sas7bdat: a {len(payload)}-byte payload does not "
                f"hold the {n} compressed rows its lengths describe"
            )
        blobs = memoryview(self._blobs + memoryview(payload)[:size])
        lens = np.concatenate((self._lens, lens))
        comps = np.concatenate(
            (self._comps, np.frombuffer(payload, np.uint8, n, size + 4 * n))
        )
        ends = np.cumsum(lens)
        cap = self.page_length - (BIT_OFFSET + 8)
        # a page holds at most cap // (PTR_LEN + 1) rows, so the greedy
        # fit only ever inspects that many lengths per page
        window = cap // (PTR_LEN + 1) + 1
        done = lo = 0
        while True:
            w = min(lens.size - done, window)
            used = ends[done : done + w] - lo + PTR_LEN * np.arange(1, w + 1)
            k = max(int(np.searchsorted(used, cap, side="right")), 1)
            if done + k >= lens.size:
                break
            hi = int(ends[done + k - 1])
            self._emit_rows(
                blobs[lo:hi], lens[done : done + k], comps[done : done + k]
            )
            done, lo = done + k, hi
        self._blobs = bytes(blobs[lo:])
        self._lens, self._comps = lens[done:], comps[done:]
        self.n_rows += n

    def _emit_rows(self, blobs, lens: np.ndarray, comps: np.ndarray) -> None:
        """One META page whose subheaders are the given compressed-layout
        rows: the pointer array, then the blobs in one copy."""
        k = lens.size
        base = BIT_OFFSET + 8 + PTR_LEN * k
        ptr = np.zeros((k, PTR_LEN), dtype=np.uint8)
        offs = base + np.cumsum(lens) - lens
        ptr[:, 0:8] = offs.astype("<u8").view(np.uint8).reshape(k, 8)
        ptr[:, 8:16] = lens.astype("<u8").view(np.uint8).reshape(k, 8)
        ptr[:, 16] = np.where(comps != 0, 4, 0)  # COMPRESSED_SUBHEADER_ID
        ptr[:, 17] = 1  # COMPRESSED_SUBHEADER_TYPE
        page = bytearray(self.page_length)
        struct.pack_into("<4H", page, BIT_OFFSET, 0x0000, k, k, 0)
        page[BIT_OFFSET + 8 : base] = ptr.tobytes()
        page[base : base + len(blobs)] = blobs
        self.fh.write(page)
        self.n_data_pages += 1

    def _emit_page(self, rows_bytes, nrows) -> None:
        page = bytearray(self.page_length)
        struct.pack_into("<4H", page, BIT_OFFSET, PAGE_DATA_TYPE, nrows, 0, 0)
        page[BIT_OFFSET + 8 : BIT_OFFSET + 8 + len(rows_bytes)] = rows_bytes
        self.fh.write(page)
        self.n_data_pages += 1

    def close(self) -> None:
        if self._lens.size:
            self._emit_rows(self._blobs, self._lens, self._comps)
        if self.pending:
            self._emit_page(
                self.pending, len(self.pending) // max(self.row_length, 1)
            )
            self.pending.clear()
        end = self.fh.tell()
        self.fh.seek(208)
        self.fh.write(struct.pack("<Q", 1 + self.n_data_pages))
        self.fh.seek(HEADER_LENGTH + self._rc_off)
        self.fh.write(struct.pack("<Q", self.n_rows))
        self.fh.seek(end)


def write_sas7bdat(
    df: DataFrame,
    path: str,
    dataset_name: str = "DATA",
    variable_labels: dict | None = None,
    page_length: int | None = None,
    compress: str | None = None,
    tagged_missing: dict | None = None,
    numeric_lengths: dict | None = None,
) -> None:
    """Write a Spark DataFrame as a 64-bit LE sas7bdat: plain DATA
    pages, or row-compressed META pages with ``compress='rle'`` or
    ``compress='rdc'``.

    Same two-phase shape as the other single-file writers: one
    pre-pass aggregation resolves string widths, then the executors
    pack (and RLE/RDC-encode) row chunks that the driver drains in
    input order (``writers.packed_stream``) onto pages. Use
    ``write_sas7bdat_partitioned`` for the distributed bulk-export
    path.

    numeric_lengths: SAS ``LENGTH var 3-8;`` truncated numeric
    storage — col → bytes (3..8). Keeps sign + exponent + the top
    8w-12 mantissa bits, so integers with |v| < 2^(8w-13) roundtrip
    exactly (how real survey files store small integer codes at half
    the bytes); not combinable with tagged_missing on the same column
    (the tag lives in the dropped mantissa tail).
    """
    plan, rows, tag_exprs = plan_export(
        df, "sas7bdat", tagged_missing, numeric_lengths,
        dataset_name=dataset_name,
        variable_labels=variable_labels or {},
        page_length=page_length,
        compress=compress or None,
    )
    export_file(df, path, plan, rows, tag_exprs)


def pack(plan, pdf) -> bytes:
    """One chunk's fixed-width rows (tagged missings from the indicator
    columns at the chunk's tail): the one sas7bdat pack, run on the
    executors for a single-file export and inside the task for a
    part-file. Rows are independent, so the expensive work
    parallelizes; the assembler only lays out pages. The reference's
    sink is single-threaded end to end.

    Plain: the rows back to back. With ``plan.compress``: each row's
    RLE/RDC blob (the raw row where encoding does not shorten it) back
    to back, then ``lens`` as <i4×n and ``comps`` as u8×n (1 =
    encoded). A raw row whose leading bytes spell a subheader
    signature is refused."""
    ncols, rl = len(plan.kinds), sum(plan.widths)
    cols = [col for _, col in pdf.items()]
    tags = _slot_tags(cols, plan.tag_slot, ncols)
    mat = _pack_rows(cols[:ncols], plan.kinds, plan.widths, rl, tags)
    if not plan.compress:
        return mat.tobytes()
    encode = _rdc_encode_rows if plan.compress == "rdc" else _rle_encode_rows
    blobs = encode(mat)
    comps = np.fromiter((b is not None for b in blobs), np.uint8, len(blobs))
    for j in np.flatnonzero(comps == 0).tolist():
        blobs[j] = mat[j].tobytes()
        if _collides_with_signature(blobs[j]):
            raise ValueError(
                "write_sas7bdat: incompressible row collides with a "
                "subheader signature prefix; write without compress"
            )
    lens = np.fromiter(map(len, blobs), "<i4", len(blobs))
    return b"".join(blobs) + lens.tobytes() + comps.tobytes()


def assemble(fh, plan, payloads, n_rows=None) -> int:
    """The one sas7bdat file layout (``_SasFileSink``): header and meta
    page, then the ``(payload, n)`` stream onto DATA pages (plain) or
    META pages of compressed rows, then the row and page counts
    back-patched (``n_rows`` is unused). Returns the rows written.
    A compressed payload whose lengths do not add up to its size
    raises RuntimeError."""
    sink = _SasFileSink(fh, plan)
    write = sink.write_encoded if plan.compress else sink.write_packed
    for payload, n in payloads:
        write(payload, n)
    sink.close()
    return sink.n_rows
