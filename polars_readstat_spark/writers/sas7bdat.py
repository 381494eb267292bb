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


def _collides_with_signature(raw: bytes) -> bool:
    """True when a raw row's leading bytes would be classified as a
    metadata subheader by the readers, which match the full 8-byte
    signature AND its 4-byte prefix (sources/sas7bdat/meta.py _SIGS —
    the exact same table, so the guard can't drift). A compressed row
    can't collide (the encoder pins its first command byte to
    0x80-0xBF, which no signature starts with); an incompressible raw
    row that collides is refused rather than written corrupt."""
    return bool(_META_SIGS.get(raw[:8]) or _META_SIGS.get(raw[:4]))


def _rle_encode_row(arr: np.ndarray) -> bytes | None:
    """SASYZCRL-encode one row (uint8 vector). Returns None when the
    encoding is not strictly shorter than the raw row (both readers
    treat length == row_length as an uncompressed row).

    Exact inverse of sources/sas7bdat/pages.py:rle_decompress — the
    public control-byte table: literal copies (0x8-0xB short, 0x0
    long), same-byte runs (0xC short / 0x4 long), and dedicated
    zero/blank/'@' runs (0xF/0xE/0xD short, 0x7/0x6/0x5 long)."""
    n = arr.shape[0]
    if n == 0:
        return None
    bounds = np.flatnonzero(arr[1:] != arr[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [n]))
    out = bytearray()
    lit0 = lit1 = 0  # pending literal span [lit0, lit1)

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
            out.extend(arr[i : i + take].tobytes())
            i += take

    for s, e in zip(starts, ends):
        b = int(arr[s])
        L = e - s
        special = 0x70 if b == 0 else 0x60 if b == 0x20 else 0x50 if b == 0x40 else 0
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
                    take = max(L, 2)  # L >= 2 by threshold
                    out.append((special | 0x80) | (take - 2))
            else:
                if L > 18:
                    take = min(L, 4113)
                    out.append(0x40 | ((take - 18) >> 8))
                    out.append((take - 18) & 0xFF)
                    out.append(b)
                else:
                    take = L  # >= 4 (or remainder >= ... see below)
                    if take < 3:
                        # leftover shorter than the short form: literal
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
    return bytes(out) if len(out) < n else None


def _rle_encode_rows(mat: np.ndarray) -> list:
    """Batch SASYZCRL encode — byte-identical per row to
    _rle_encode_row (property-tested against it).

    Fully numpy-vectorized for row_length <= 4112 (the tightest
    single-command limit: a special run's long form covers 4112
    bytes), where the scalar encoder's while-loops never iterate
    twice and every segment maps to a fixed piece shape:

    - a real run (length >= 3 special / 4 plain) -> one command of
      1-3 header bytes;
    - the literal span between real runs -> one piece (1-byte header
      up to 64 bytes, 2-byte beyond), except the stream-opening span
      which is capped at 64 and may split in two;
    - a row whose first real run starts at offset 0 opens with the
      synthetic 1-byte literal the signature guard requires.

    Pieces are assembled as parallel arrays, ordered with one global
    argsort, and scattered into a flat buffer (headers by case mask,
    literal bytes via a repeat/cumsum gather); per-row Python is just
    the final slice. Wider rows fall back to the per-row assembly."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    if rl > 4112:
        return _rle_encode_rows_scalar(mat)
    flat = np.ascontiguousarray(mat).ravel()
    brk = flat[1:] != flat[:-1]
    if r > 1:  # force a run break at every row boundary (no sort)
        brk[np.arange(1, r, dtype=np.int64) * rl - 1] = True
    bounds = np.flatnonzero(brk) + 1
    starts = np.concatenate(([0], bounds))
    run_len = np.concatenate((bounds, [r * rl])) - starts
    run_byte = flat[starts]
    sp = np.zeros(starts.size, np.uint8)
    sp[run_byte == 0x00] = 0x70
    sp[run_byte == 0x20] = 0x60
    sp[run_byte == 0x40] = 0x50
    real = run_len >= np.where(sp != 0, 3, 4)
    rs = starts[real]
    rL = run_len[real].astype(np.int64)
    rbyte = run_byte[real]
    rsp = sp[real]
    rrow = rs // rl
    n_real = rs.size
    # rows with no real run at all encode to (literal header + the
    # whole row) >= row_length -> None; generate no pieces for them
    if n_real == 0:
        return [None] * r
    # first real run per row / span before each real run
    first_in_row = np.ones(n_real, bool)
    first_in_row[1:] = rrow[1:] != rrow[:-1]
    span_start = np.empty(n_real, np.int64)
    span_start[first_in_row] = rrow[first_in_row] * rl
    span_start[~first_in_row] = (rs + rL)[:-1][~first_in_row[1:]]
    span_len = rs - span_start
    # stream-opening adjustments (only the row's first segment):
    # run at offset 0 -> synthetic 1-byte literal + run shortened by 1
    synth = first_in_row & (span_len == 0)
    cmdL = rL - synth.astype(np.int64)
    # opening literal span > 64 -> split 64 + rest
    cap = first_in_row & (span_len > 64)
    # trailing literal span of each row that has >= 1 real run
    last_in_row = np.ones(n_real, bool)
    last_in_row[:-1] = first_in_row[1:]
    t_start = (rs + rL)[last_in_row]
    t_row = rrow[last_in_row]
    t_len = (t_row + 1) * rl - t_start

    # piece table: kind 0=literal, 1=special run, 2=plain run
    # (category arrays concatenated, then one argsort restores the
    # in-row emission order; suborder puts a synthetic literal
    # before the command sharing its position)
    p_kind = [np.full(n_real, 1, np.uint8)]
    p_key = [2 * rs + 1]  # run command after a same-position literal
    p_len = [cmdL]
    p_src = [rs]
    p_byte = [rbyte]
    p_sp = [rsp]
    p_kind[0][rsp == 0] = 2

    def add_lit(srcs, lens, keys):
        p_kind.append(np.zeros(srcs.size, np.uint8))
        p_key.append(keys)
        p_len.append(lens)
        p_src.append(srcs)
        p_byte.append(np.zeros(srcs.size, np.uint8))
        p_sp.append(np.zeros(srcs.size, np.uint8))

    nc = ~cap
    mid = nc & (span_len > 0)
    add_lit(span_start[mid], span_len[mid], 2 * span_start[mid])
    add_lit(span_start[cap], np.full(int(cap.sum()), 64, np.int64),
            2 * span_start[cap])
    add_lit(span_start[cap] + 64, span_len[cap] - 64,
            2 * (span_start[cap] + 64))
    add_lit(rs[synth], np.ones(int(synth.sum()), np.int64), 2 * rs[synth])
    tm = t_len > 0
    add_lit(t_start[tm], t_len[tm], 2 * t_start[tm])

    kind = np.concatenate(p_kind)
    key = np.concatenate(p_key)
    plen = np.concatenate(p_len)
    psrc = np.concatenate(p_src)
    pbyte = np.concatenate(p_byte)
    psp = np.concatenate(p_sp)
    order = np.argsort(key, kind="stable")
    kind, key, plen, psrc, pbyte, psp = (
        kind[order], key[order], plen[order], psrc[order], pbyte[order],
        psp[order],
    )
    lit = kind == 0
    spec = kind == 1
    plain = kind == 2
    long_lit = lit & (plen > 64)
    long_spec = spec & (plen > 17)
    long_plain = plain & (plen > 18)
    hdr = np.ones(kind.size, np.int64)  # short literal / short special
    hdr[long_lit | long_spec | plain] = 2
    hdr[long_plain] = 3
    copy = np.where(lit, plen, 0)
    psize = hdr + copy
    prow = psrc // rl
    row_out_len = np.bincount(prow, weights=psize, minlength=r).astype(
        np.int64
    )
    dst_end = np.cumsum(psize)
    dst = dst_end - psize
    buf = np.empty(int(dst_end[-1]) if psize.size else 0, np.uint8)
    # header byte 0
    b0 = np.empty(kind.size, np.int64)
    b0[lit] = np.where(
        long_lit[lit], (plen[lit] - 64) >> 8, 0x80 + plen[lit] - 1
    )
    sL = np.maximum(plen, 2)
    b0[spec] = np.where(
        long_spec[spec],
        psp[spec] | ((plen[spec] - 17) >> 8),
        (psp[spec] | 0x80) | (sL[spec] - 2),
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
    # literal payload gather
    lsrc = psrc[lit]
    llen = plen[lit]
    ldst = dst[lit] + hdr[lit]
    tot = int(llen.sum())
    if tot:
        seq = np.arange(tot, dtype=np.int64)
        base = np.repeat(np.cumsum(llen) - llen, llen)
        off = seq - base
        buf[np.repeat(ldst, llen) + off] = flat[np.repeat(lsrc, llen) + off]
    # per-row slices (rows are contiguous in piece order)
    row_first_piece = np.full(r, -1, np.int64)
    fp = np.flatnonzero(np.diff(prow, prepend=-1))
    row_first_piece[prow[fp]] = fp
    data = buf.tobytes()
    out_start = dst
    results: list = []
    rol = row_out_len.tolist()
    for ri in range(r):
        ln = rol[ri]
        if ln == 0 or ln >= rl:
            results.append(None)
            continue
        s = int(out_start[row_first_piece[ri]])
        results.append(data[s : s + ln])
    return results


def _rle_encode_rows_scalar(mat: np.ndarray) -> list:
    """Per-row-assembly fallback for rows wider than one command can
    cover (row_length > 4112). Byte-identical to _rle_encode_row."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    flat = np.ascontiguousarray(mat).ravel()
    brk = flat[1:] != flat[:-1]
    if r > 1:  # force a run break at every row boundary (no sort)
        brk[np.arange(1, r, dtype=np.int64) * rl - 1] = True
    bounds = np.flatnonzero(brk) + 1
    starts_all = np.concatenate(([0], bounds)).tolist()
    ends_all = np.concatenate((bounds, [r * rl])).tolist()
    firsts = flat[np.concatenate(([0], bounds))].tolist()
    k_of_row = np.searchsorted(
        np.concatenate(([0], bounds)), np.arange(r + 1, dtype=np.int64) * rl
    ).tolist()
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


def _rdc_encode_row(arr: np.ndarray) -> bytes | None:
    """SASYZCR2-encode one row (uint8 vector). Returns None when the
    encoding is not strictly shorter than the raw row, or when the
    compressed stream would collide with a subheader signature prefix
    (a literal-opening RDC stream begins with a 0x0000 control word,
    so the guard matters here where RLE's 0x80-0xBF first byte made
    it structurally impossible).

    Exact inverse of sources/sas7bdat/pages.py:rdc_decompress's
    literal and RLE forms: 16-bit big-endian control words, clear bit
    = one literal byte, set bit = a command group — short RLE
    (0x0n + value, runs 3..18) or long RLE (0x1n + count + value,
    runs 19..4114). The format's LZ pattern commands are decoder-side
    freedom this encoder doesn't use; every conforming decompressor
    (ours, pandas, readstat) accepts literal+RLE-only streams."""
    n = arr.shape[0]
    if n == 0:
        return None
    bounds = np.flatnonzero(arr[1:] != arr[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [n]))
    # items: (bit, payload) — literal items are single bytes
    items: list[tuple[int, bytes]] = []
    row = arr.tobytes()
    for s, e in zip(starts, ends):
        L = e - s
        if L < 3:
            for k in range(s, e):
                items.append((0, row[k : k + 1]))
            continue
        b = row[s : s + 1]
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
    if len(out) >= n:
        return None
    enc = bytes(out)
    return None if _collides_with_signature(enc) else enc


def _rdc_encode_rows(mat: np.ndarray) -> list:
    """Batch SASYZCR2 encode — byte-identical per row to
    _rdc_encode_row (property-tested against it).

    Fully numpy-vectorized: when every run fits one command word
    (row_length <= 4114, so take == L always and the while-loop in the
    scalar encoder never iterates twice), each run maps to a fixed
    item shape — L literal items for L < 3, one short-RLE item for
    3..18, one long-RLE item for 19..4114. Item bits, control words,
    payload bytes and output offsets are then all computable with
    repeat/cumsum/reduceat and scattered into one flat buffer; the
    only per-row Python left is the final slice + the subheader-
    signature guard. ~15x over the per-item tuple assembly the scalar
    path pays (55 -> ~3.5 us/row on packed lineitem rows)."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    if rl > 4114:
        return _rdc_encode_rows_scalar(mat)
    flat = np.ascontiguousarray(mat).ravel()
    brk = flat[1:] != flat[:-1]
    if r > 1:  # force a run break at every row boundary (no sort)
        brk[np.arange(1, r, dtype=np.int64) * rl - 1] = True
    bounds = np.flatnonzero(brk) + 1
    starts = np.concatenate(([0], bounds))
    run_len = np.concatenate((bounds, [r * rl])) - starts
    run_byte = flat[starts]
    lit_run = run_len < 3
    # item expansion: a literal run of L contributes L 1-byte items,
    # every other run exactly one command item
    n_items_run = np.where(lit_run, run_len, 1)
    item_run = np.repeat(
        np.arange(starts.size, dtype=np.int64), n_items_run
    )
    total_items = item_run.size
    i_lit = lit_run[item_run]
    i_len = run_len[item_run]
    i_byte = run_byte[item_run]
    i_short = ~i_lit & (i_len <= 18)
    paylen = np.where(i_lit, 1, np.where(i_short, 2, 3)).astype(np.int64)
    cnt = i_len - 19  # long-RLE count field (valid where paylen == 3)
    p0 = np.where(
        i_lit, i_byte,
        np.where(i_short, i_len - 3, 0x10 | (cnt & 0x0F)),
    ).astype(np.uint8)
    p1 = np.where(i_short, i_byte, cnt >> 4).astype(np.uint8)
    # per-row item/group geometry (runs never cross row boundaries)
    row_of_item = (starts // rl)[item_run]
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
    """Per-row-assembly fallback for rows wider than one long-RLE
    command can cover (row_length > 4114), where a single run may need
    several command words. Byte-identical to _rdc_encode_row."""
    r, rl = mat.shape
    if rl == 0 or r == 0:
        return [None] * r
    flat = np.ascontiguousarray(mat).ravel()
    brk = flat[1:] != flat[:-1]
    if r > 1:  # force a run break at every row boundary (no sort)
        brk[np.arange(1, r, dtype=np.int64) * rl - 1] = True
    bounds = np.flatnonzero(brk) + 1
    starts_all = np.concatenate(([0], bounds)).tolist()
    ends_all = np.concatenate((bounds, [r * rl])).tolist()
    k_of_row = np.searchsorted(
        np.concatenate(([0], bounds)), np.arange(r + 1, dtype=np.int64) * rl
    ).tolist()
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


def _encode_packed(packed: bytes, row_length: int, comp: str) -> bytes:
    """RLE/RDC-encode a packed fixed-width chunk into the sink's
    per-row framing (<BI compressed-flag, length> + payload), plus a
    numpy-parseable footer [lens i32×n][comps u8×n][<I n>][b"SLEN"]
    so the driver can assemble pages WITHOUT walking 5-byte headers
    per row — the per-row driver loop was ~2 s of a 5 s compressed
    export (round 10). Pure — runs on executors in either the single-
    or two-stage pack path; write_encoded falls back to the header
    walk when the footer is absent."""
    import io
    import struct as _st

    rows = np.frombuffer(packed, np.uint8).reshape(-1, row_length)
    enc_rows = _rdc_encode_rows if comp == "rdc" else _rle_encode_rows
    encoded = enc_rows(rows)
    n = rows.shape[0]
    lens = np.empty(n, dtype="<i4")
    comps = np.empty(n, dtype=np.uint8)
    out = io.BytesIO()
    for j in range(n):
        e = encoded[j]
        if e is None:
            raw = rows[j].tobytes()
            if _collides_with_signature(raw):
                raise ValueError(
                    "write_sas7bdat: incompressible row collides with a "
                    "subheader signature prefix; write without compress"
                )
            out.write(_st.pack("<BI", 0, len(raw)))
            out.write(raw)
            lens[j], comps[j] = len(raw), 0
        else:
            out.write(_st.pack("<BI", 1, len(e)))
            out.write(e)
            lens[j], comps[j] = len(e), 1
    out.write(lens.tobytes())
    out.write(comps.tobytes())
    out.write(_st.pack("<I", n))
    out.write(b"SLEN")
    return out.getvalue()


def _pack_rows(cols_data, kinds, widths, row_length, tags_data=None) -> bytes:
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
    return mat.tobytes()


class _SasFileSink:
    """Streaming file assembly: header + meta page up front,
    DATA pages as rows arrive, two-seek back-patch on close."""

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
        # compressed layout: rows pending for the current META page as
        # (blob, is_compressed); bodies pack after the pointer array
        self._crows: list[tuple[bytes, bool]] = []
        self._crows_bytes = 0

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
        """Append n executor-encoded rows from the staged frame: a
        [u8 is_compressed][u32 len][blob] sequence per row, followed
        (new executors) by the SLEN footer — see _encode_packed.

        With the footer, page assembly is vectorized: blob lengths
        come from one frombuffer, whole pages cut with searchsorted,
        the pointer array built as one structured numpy write and the
        blob block copied with ONE slice per page (frames store blobs
        consecutively and META pages pack them consecutively in the
        same order). The legacy path walks headers per row."""
        if n > 0 and payload[-4:] == b"SLEN":
            nf = struct.unpack_from("<I", payload, len(payload) - 8)[0]
            foot = 8 + nf + 4 * nf
            if nf == n and len(payload) >= foot:
                lens = np.frombuffer(
                    payload, "<i4", count=n, offset=len(payload) - foot
                ).astype(np.int64)
                comps = np.frombuffer(
                    payload, np.uint8, count=n,
                    offset=len(payload) - 8 - n,
                )
                if int(lens.sum()) + 5 * n + foot == len(payload):
                    self._append_encoded_vec(
                        payload[: len(payload) - foot], lens, comps
                    )
                    self.n_rows += n
                    return
        i = 0
        for _ in range(n):
            comp, ln = struct.unpack_from("<BI", payload, i)
            i += 5
            self._append_blob(payload[i : i + ln], bool(comp))
            i += ln
        self.n_rows += n

    def _append_encoded_vec(
        self, frames: bytes, lens: np.ndarray, comps: np.ndarray
    ) -> None:
        """Vectorized META-page assembly of framed rows. Rows already
        pending in _crows ride along: they're prepended so page
        fitting sees one ordered sequence, and the LAST (possibly
        partial) greedy group always goes back to _crows — the
        per-row writer only flushes a page when the NEXT row
        overflows it, so deferring the tail keeps the output
        byte-identical whether rows arrive singly or in chunks
        (close() flushes the remainder the same way)."""
        n = lens.shape[0]
        # blob start offsets inside `frames` (each blob sits 5 bytes
        # after its frame start; frame k starts at sum of (5+len) of
        # the frames before it)
        starts = np.empty(n, dtype=np.int64)
        starts[0] = 5
        if n > 1:
            np.cumsum(lens[:-1] + 5, out=starts[1:])
            starts[1:] += 5
        pend = self._crows
        npend = len(pend)
        pend_lens = (
            np.array([len(b) for b, _ in pend], dtype=np.int64)
            if pend
            else np.empty(0, dtype=np.int64)
        )
        all_lens = (
            np.concatenate([pend_lens, lens]) if npend else lens
        )
        total = all_lens.shape[0]
        cap = self.page_length - (BIT_OFFSET + 8)
        csum = np.cumsum(all_lens)
        # a page holds at most cap // (PTR_LEN + 1) rows, so the
        # greedy fit only ever inspects a bounded window per page
        max_rows = cap // (PTR_LEN + 1) + 1
        done = 0
        while True:
            base_bytes = int(csum[done - 1]) if done else 0
            win = min(total - done, max_rows)
            rel = (
                csum[done : done + win]
                - base_bytes
                + PTR_LEN * np.arange(1, win + 1, dtype=np.int64)
            )
            k = int(np.searchsorted(rel, cap, side="right"))
            if k <= 0:
                k = 1  # page_length admits >=1 row by construction
            if done + k >= total:
                break  # last greedy group stays pending
            self._emit_meta_page(
                frames, starts, lens, comps, pend, done, k, all_lens
            )
            done += k
        # rebuild the pending tail
        tail: list = []
        for j in range(done, total):
            if j < npend:
                tail.append(pend[j])
            else:
                jj = j - npend
                s = int(starts[jj])
                tail.append(
                    (frames[s : s + int(lens[jj])], bool(comps[jj]))
                )
        self._crows = tail
        self._crows_bytes = int(sum(len(b) for b, _ in tail))

    def _emit_meta_page(
        self, frames, starts, lens, comps, pend, done, k, all_lens
    ) -> None:
        npend = len(pend)
        page = bytearray(self.page_length)
        struct.pack_into("<4H", page, BIT_OFFSET, 0x0000, k, k, 0)
        base = BIT_OFFSET + 8 + PTR_LEN * k
        # pointer block: one structured write per field
        ptr = np.zeros((k, PTR_LEN), dtype=np.uint8)
        offs_out = np.full(k, base, dtype=np.int64)
        if k > 1:
            offs_out[1:] += np.cumsum(all_lens[done : done + k - 1])
        ptr[:, 0:8] = offs_out.astype("<u8").view(np.uint8).reshape(k, 8)
        ptr[:, 8:16] = (
            all_lens[done : done + k]
            .astype("<u8")
            .view(np.uint8)
            .reshape(k, 8)
        )
        pos = base
        # blobs: pending rows (if any) one by one, then ONE slice for
        # the contiguous new-frame run
        rows_from_pend = max(0, min(npend - done, k))
        for j in range(done, done + rows_from_pend):
            blob, comp = pend[j]
            page[pos : pos + len(blob)] = blob
            ptr[j - done, 16] = 4 if comp else 0
            ptr[j - done, 17] = 1
            pos += len(blob)
        new_lo = max(done, npend) - npend
        new_hi = done + k - npend  # > new_lo iff new rows in page
        if new_hi > new_lo:
            s0 = int(starts[new_lo]) - 5  # include row new_lo's header
            s1 = int(starts[new_hi - 1] + lens[new_hi - 1])
            span = frames[s0:s1]
            # strip the 5-byte headers: build one contiguous blob run
            if new_hi - new_lo == 1:
                blob_run = span[5:]
            else:
                arr = np.frombuffer(span, np.uint8)
                keep = np.ones(arr.shape[0], dtype=bool)
                hdr_starts = (
                    starts[new_lo:new_hi] - 5 - s0
                ).astype(np.int64)
                drop = (
                    hdr_starts[:, None] + np.arange(5)[None, :]
                ).reshape(-1)
                keep[drop] = False
                blob_run = arr[keep].tobytes()
            page[pos : pos + len(blob_run)] = blob_run
            pos += len(blob_run)
            sl = slice(rows_from_pend, k)
            ptr[sl, 16] = np.where(comps[new_lo:new_hi] != 0, 4, 0)
            ptr[sl, 17] = 1
        page[BIT_OFFSET + 8 : base] = ptr.tobytes()
        self.fh.write(page)
        self.n_data_pages += 1

    def _append_blob(self, blob: bytes, comp: bool) -> None:
        need = PTR_LEN + len(blob)
        avail = self.page_length - (BIT_OFFSET + 8) - (
            PTR_LEN * len(self._crows) + self._crows_bytes
        )
        if self._crows and need > avail:
            self._flush_compressed_page()
        self._crows.append((blob, comp))
        self._crows_bytes += len(blob)

    def _flush_compressed_page(self) -> None:
        if not self._crows:
            return
        nsub = len(self._crows)
        page = bytearray(self.page_length)
        # META-type page whose subheaders are the compressed rows
        struct.pack_into("<4H", page, BIT_OFFSET, 0x0000, nsub, nsub, 0)
        pos = BIT_OFFSET + 8 + PTR_LEN * nsub
        for i, (blob, comp) in enumerate(self._crows):
            p = BIT_OFFSET + 8 + PTR_LEN * i
            struct.pack_into("<QQ", page, p, pos, len(blob))
            page[p + 16] = 4 if comp else 0  # COMPRESSED_SUBHEADER_ID
            page[p + 17] = 1  # COMPRESSED_SUBHEADER_TYPE
            page[pos : pos + len(blob)] = blob
            pos += len(blob)
        self.fh.write(page)
        self.n_data_pages += 1
        self._crows.clear()
        self._crows_bytes = 0

    def _emit_page(self, rows_bytes, nrows) -> None:
        page = bytearray(self.page_length)
        struct.pack_into("<4H", page, BIT_OFFSET, PAGE_DATA_TYPE, nrows, 0, 0)
        page[BIT_OFFSET + 8 : BIT_OFFSET + 8 + len(rows_bytes)] = rows_bytes
        self.fh.write(page)
        self.n_data_pages += 1

    def close(self) -> None:
        self._flush_compressed_page()
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
    """Write a Spark DataFrame as an uncompressed 64-bit LE sas7bdat.

    Same two-phase shape as the other single-file writers: one
    pre-pass aggregation resolves string widths, then the executors
    pack (and RLE/RDC-encode) row chunks that the driver drains in
    input order (``writers.packed_stream``) onto DATA pages. Use
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
    columns at the chunk's tail), RLE/RDC-encoded with the page
    footer when ``plan.compress`` (``_encode_packed``): the one
    sas7bdat pack, run on the executors for a single-file export and
    inside the task for a part-file. Rows are independent, so the
    expensive work parallelizes; the assembler only lays out pages.
    The reference's sink is single-threaded end to end."""
    ncols, rl = len(plan.kinds), sum(plan.widths)
    cols = [col for _, col in pdf.items()]
    tags = _slot_tags(cols, plan.tag_slot, ncols)
    packed = _pack_rows(cols[:ncols], plan.kinds, plan.widths, rl, tags)
    return _encode_packed(packed, rl, plan.compress) if plan.compress else packed


def assemble(fh, plan, payloads, n_rows=None) -> int:
    """The one sas7bdat file layout (``_SasFileSink``): header and meta
    page, then the ``(payload, n)`` stream onto DATA pages (plain) or
    META pages of compressed rows, then the row and page counts
    back-patched (``n_rows`` is unused). Returns the rows written."""
    sink = _SasFileSink(fh, plan)
    write = sink.write_encoded if plan.compress else sink.write_packed
    for payload, n in payloads:
        write(payload, n)
    sink.close()
    return sink.n_rows
