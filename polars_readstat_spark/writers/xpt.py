"""SAS Transport (.xpt) v5 writer — reference W4 re-expressed.

Public spec: SAS Technical Note TS-140 ("The Record Layout of a SAS
Transport Data Set"): 80-byte header records, 140-byte NAMESTR
descriptors (big-endian), fixed-width row-major records, IBM
System/370 hexadecimal floats, blank-padded to 80-byte boundaries.

Same two-phase Spark shape as the other writers: a pre-pass
aggregation for string widths + row count, then chunks packed
vectorized on the executors and drained in input order
(writers.packed_stream). IEEE→IBM is exact (56-bit hex mantissa ⊇
53-bit IEEE) and fully numpy-vectorized. ``pack`` and ``assemble`` are
the one xpt layout: the part-file writer runs the same two in its
task.

Reference parity: src/sas/xpt_writer.rs (v5 limits: 8-char upper-case
names, 40-char labels, numerics 8 bytes, '.' missing).
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
from polars_readstat_spark.writers.tagged import (
    NO_TAG as _TAG_NONE,
    slot_tags as _slot_tags,
    xpt_tag_byte0 as _xpt_tag_byte0,
)


def _hdr(tag: str, tail: str = "0" * 30) -> bytes:
    s = f"HEADER RECORD*******{tag:<8}HEADER RECORD!!!!!!!{tail}"
    return s.encode("ascii").ljust(80)


def _short_names(names: list[str]) -> list[str]:
    out, seen = [], set()
    for i, n in enumerate(names):
        base = "".join(c for c in n.upper() if c.isalnum() or c == "_")
        base = base or f"VAR{i + 1}"
        if base[0].isdigit():
            base = "V" + base
        cand = base[:8]
        k = 1
        while cand in seen:
            sfx = str(k)
            cand = base[: 8 - len(sfx)] + sfx
            k += 1
        seen.add(cand)
        out.append(cand)
    return out


def ieee_to_ibm(vals: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """(n,) float64 + missing mask → (n, 8) uint8 IBM/370 doubles.

    IBM layout: sign bit, 7-bit base-16 exponent (bias 64), 56-bit hex
    mantissa, value = 0.mantissa × 16^(exp-64). Missing = 0x2E ('.')
    in byte 0, zero mantissa (TS-140 convention, matches our reader's
    ibm_to_ieee inverse)."""
    n = vals.shape[0]
    out = np.zeros((n, 8), dtype=np.uint8)
    v = np.where(mask, 0.0, vals)
    neg = v < 0
    m = np.abs(v)
    nonzero = (m > 0) & np.isfinite(m)

    f, e2 = np.frexp(m)  # m = f * 2^e2, f in [0.5, 1)
    e16 = np.ceil(e2 / 4.0).astype(np.int64)
    shift = 4 * e16 - e2  # 0..3
    frac = f / np.power(2.0, shift)  # in [1/32, 1) → wait: [0.03125,1)
    mant = np.round(frac * float(1 << 56)).astype(np.uint64)
    # rounding overflow: mantissa hit 2^56 → renormalize one hex digit
    ovf = mant >= np.uint64(1 << 56)
    if ovf.any():
        mant[ovf] >>= np.uint64(4)
        e16[ovf] += 1
    eb = e16 + 64
    # IBM hex-float range is 16^-65 .. ~7.24e75 — narrower than IEEE
    # double on both ends. Below it, flush to zero (standard underflow);
    # above it there is nothing valid to write, so refuse loudly rather
    # than wrap the exponent into a wrong finite value.
    over = nonzero & (eb > 127)
    if over.any():
        bad = float(np.max(m[over]))
        raise ValueError(
            f"write_xpt: magnitude {bad:.6g} exceeds the IBM/370 double "
            "range (~7.24e75) used by the xpt transport format"
        )
    nonzero &= eb >= 0
    expb = np.where(nonzero, np.clip(eb, 0, 127), 0).astype(np.uint64)
    b0 = (neg.astype(np.uint64) << np.uint64(7)) | np.where(nonzero, expb, 0)
    out[:, 0] = b0.astype(np.uint8)
    for i in range(7):
        out[:, 1 + i] = (
            (mant >> np.uint64(8 * (6 - i))) & np.uint64(0xFF)
        ).astype(np.uint8)
    out[~nonzero] = 0
    out[~nonzero, 0] = np.where(neg[~nonzero], 0x80, 0)
    out[mask] = 0
    out[mask, 0] = 0x2E  # '.'
    return out


def write_xpt(
    df: DataFrame,
    path: str,
    dataset_name: str = "DATA",
    variable_labels: dict | None = None,
    version: int = 5,
    tagged_missing: dict | None = None,
) -> None:
    """version=8 writes the V8 transport layout (public "Record Layout
    of a SAS Version 8 or 9 Data Set in SAS Transport Format"): LIBV8/
    MEMBV8/NAMSTV8/OBSV8 header tags plus a LABELV8 section carrying
    names up to 32 chars and labels up to 256 — the same records our
    reader's LABELV8 parser consumes."""
    if version not in (5, 8):
        raise ValueError("write_xpt: version must be 5 or 8")
    plan, rows, tag_exprs = plan_export(
        df, "xpt", tagged_missing,
        dataset_name=dataset_name,
        variable_labels=variable_labels or {},
        version=version,
    )
    export_file(df, path, plan, rows, tag_exprs)


def pack(plan, pdf) -> bytes:
    """One chunk's fixed-width records (IEEE→IBM included), tagged
    missings from the indicator columns at the chunk's tail: the one
    xpt pack, run on the executors for a single-file export and inside
    the task for a part-file."""
    ncols = len(plan.kinds)
    cols = [col for _, col in pdf.items()]
    tags = _slot_tags(cols, plan.tag_slot, ncols)
    return _pack_xpt(cols[:ncols], plan.kinds, plan.widths, sum(plan.widths), tags)


def assemble(fh, plan, payloads, n_rows=None) -> int:
    """The one xpt file layout: header records, the ``(payload, n)``
    record stream, then the blank pad to an 80-byte boundary. The
    header carries no row count (``n_rows`` is unused). Returns the
    rows written."""
    fh.write(bytes(_xpt_header(plan)))
    total = got = 0
    for payload, n in payloads:
        fh.write(payload)
        total += len(payload)
        got += n
    fh.write(b" " * ((-total) % 80))
    return got


def _xpt_header(plan) -> bytearray:
    fields, shorts, kinds = plan.fields, plan.shorts, plan.kinds
    widths, variable_labels = plan.widths, plan.variable_labels
    now = datetime.datetime.now()
    ts = now.strftime("%d%b%y:%H:%M:%S").upper()

    v8 = plan.version == 8
    tag_lib = "LIBV8" if v8 else "LIBRARY"
    tag_mem = "MEMBV8" if v8 else "MEMBER"
    tag_dsc = "DSCPTV8" if v8 else "DSCRPTR"
    tag_nam = "NAMSTV8" if v8 else "NAMESTR"
    sasver = "8.2" if v8 else "6.06"
    out = bytearray()
    out += _hdr(tag_lib)
    out += (
        f"{'SAS':<8}{'SAS':<8}{'SASLIB':<8}{sasver:<8}{'Linux':<8}"
        + " " * 24 + f"{ts:<16}"
    ).encode("ascii").ljust(80)
    out += f"{ts:<16}".encode("ascii").ljust(80)
    out += _hdr(tag_mem, "0" * 16 + "0160" + "0" * 7 + "140" + "  ")
    out += _hdr(tag_dsc)
    dsname = (plan.dataset_name or "DATA").upper()[: (32 if v8 else 8)]
    out += (
        f"{'SAS':<8}{dsname:<8.8}{'SASDATA':<8}{sasver:<8}{'Linux':<8}"
        + " " * 24 + f"{ts:<16}"
    ).encode("ascii").ljust(80)
    out += (f"{ts:<16}" + " " * 16).encode("ascii").ljust(80)
    out += _hdr(tag_nam, "0" * 6 + f"{len(fields):04d}" + "0" * 20)

    pos = 0
    for i, f in enumerate(fields):
        k = kinds[i]
        ntype = 2 if k == "str" else 1
        fmt = {"date": "DATE", "datetime": "DATETIME", "time": "TIME"}.get(k, "")
        fl = {"date": 9, "datetime": 20, "time": 8}.get(k, 0)
        label = (variable_labels.get(f.name) or f.metadata.get("label") or "")[:40]
        ns = struct.pack(
            ">hhhh", ntype, 0, widths[i], i + 1
        )
        ns += shorts[i].ljust(8).encode("ascii")
        ns += label.ljust(40)[:40].encode("ascii", "replace")
        ns += fmt.ljust(8).encode("ascii")
        ns += struct.pack(">hhhh", fl, 0, 0, 0)
        ns += b" " * 8  # informat name
        ns += struct.pack(">hh", 0, 0)
        ns += struct.pack(">i", pos)
        ns += b"\x00" * 52
        assert len(ns) == 140
        out += ns
        pos += widths[i]
    out += b" " * ((-(140 * len(fields))) % 80)
    if v8:
        # LABELV8: names up to 32 / labels up to 256, packed
        # back-to-back across 80-byte records (public v8 layout; our
        # reader's LABELV8 parser is the inverse)
        entries = []
        for i, f in enumerate(fields):
            label = (
                variable_labels.get(f.name) or f.metadata.get("label") or ""
            )
            if len(f.name) > 8 or len(label) > 40:
                nm = f.name.encode("ascii", "replace")[:32]
                lb = label.encode("ascii", "replace")[:256]
                entries.append(
                    struct.pack(">3h", i + 1, len(nm), len(lb)) + nm + lb
                )
        if entries:
            out += _hdr("LABELV8", f"{len(entries):>5}".replace(" ", "0") + "0" * 25)
            blob = b"".join(entries)
            out += blob + b" " * ((-len(blob)) % 80)
        out += _hdr("OBSV8", "0" * 30)
    else:
        out += _hdr("OBS")
    return out


def _pack_xpt(cols_data, kinds, widths, record_width, tags_data=None) -> bytes:
    """Column-wise pack into blank-padded fixed-width records; numerics
    go through the vectorized IEEE→IBM converter. tags_data: optional
    per-column tag-offset arrays (writers/tagged.py) — tagged rows
    write the tag char in byte 0 over a zeroed field."""
    n = len(cols_data[0]) if cols_data else 0
    mat = np.full((n, record_width), 0x20, dtype=np.uint8)
    off = 0
    for ci, (col, k, w) in enumerate(zip(cols_data, kinds, widths)):
        if k == "str":
            # UTF-8, truncated at a character boundary (the xpt
            # container is raw bytes with no declared charset, and
            # UTF-8 is what modern SAS sessions and our reader's
            # auto-detection expect); encoded once per distinct value
            mat[:, off : off + w] = str_cell_matrix(
                col, w, utf8_boundary=True
            )
        else:
            vals = col.to_numpy(dtype="float64", na_value=np.nan)
            mask = np.isnan(vals)
            mat[:, off : off + 8] = ieee_to_ibm(vals, mask)
            offs = tags_data[ci] if tags_data else None
            if offs is not None:
                tagged = offs != _TAG_NONE
                if tagged.any():
                    mat[tagged, off : off + 8] = 0
                    mat[tagged, off] = _xpt_tag_byte0(offs[tagged])
        off += w
    return mat.tobytes()
