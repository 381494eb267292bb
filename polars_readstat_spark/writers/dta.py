"""Stata .dta writer (v118 layout) — reference W1/W2 re-expressed.

One layout, like every other format (``writers._LAYOUTS``):

1. **Plan** (``writers.plan_export``): one pre-pass job returns the
   row count, each string column's max UTF-8 byte width and the
   min/max that narrow each integer and float column
   (``_plan_columns``/``_finalize_cols``) — the Spark shape of the
   reference's sink pre-pass (pybindings.rs:996-1047).
2. **Pack** (``pack``): one numpy structured array per chunk. A
   single-file export packs on the executors and drains the chunks in
   input order (``writers.export_file``); a part-file packs inside
   its task (spark_sink's ``write_partition_file``).
3. **Assemble** (``assemble``): header and metadata sections, the
   streamed <data> records, then <strls>, the value labels and the
   back-patched N and section map.

Layout per the public dta-118 spec (same section tags the reader
parses). Nulls → Stata sentinel missings; date → %td day numbers;
timestamp → %tc ms. Strings up to 2045 bytes are written as fixed
str#; wider columns become strL: a data cell holds the key
v | o << 16 (v the 1-based column, o the 1-based row) of one GSO
record in <strls>. ``pack`` numbers a chunk's rows from 1 and
``assemble`` adds the rows before the chunk to its keys and GSO
records, so the keys are global row numbers whatever the chunking.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_readstat_spark.sources.columns import STATA_EPOCH_DAYS
from polars_readstat_spark.writers import export_file, plan_export
from polars_readstat_spark.writers.tagged import (
    NO_TAG as _TAG_NONE,
    slot_tags as _slot_tags,
)

_MISS = {
    "byte": 101,
    "int": 32741,
    "long": 2147483621,
}
_FLOAT_MISS_BITS = 0x7F000000
_DOUBLE_MISS_BITS = 0x7FE0000000000000
# smallest float/double interpreted as a missing code on read
_FLOAT_MISS_VALUE = struct.unpack("<f", struct.pack("<I", _FLOAT_MISS_BITS))[0]
_DOUBLE_MISS_VALUE = struct.unpack("<d", struct.pack("<Q", _DOUBLE_MISS_BITS))[0]
# largest magnitude a double holds exactly for every integer
_DOUBLE_EXACT_INT = 1 << 53
# µs from 1970-01-01 back to the Stata epoch (1960-01-01)
_STATA_EPOCH_US = -315_619_200_000_000


def _plan_columns(fields):
    """→ (name, stata kind) per field, and the min/max aggregates that
    narrow the kinds ending in ``?`` (``writers.prepass_aggs`` adds
    the row count and the string widths to the same job)."""
    plan = []
    aggs = []
    for f in fields:
        t = f.dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            # integer widths are decided by the pre-pass range: Stata
            # reserves the top of each integer range for missing
            # sentinels (byte > 100, int > 32740, long > 2147483620),
            # so e.g. an int32 column holding 2147483645 must widen to
            # the next Stata type or the value reads back as missing.
            # Each Spark type keeps its natural Stata floor (stable
            # roundtrip dtypes); the pre-pass only ever promotes.
            floor = {
                "tinyint": "byte",
                "smallint": "int",
                "int": "long",
                "bigint": "long",
            }[t]
            plan.append((f.name, f"{floor}?"))
            aggs.append(F.min(f.name).alias(f"__min_{f.name}"))
            aggs.append(F.max(f.name).alias(f"__max_{f.name}"))
        elif t == "float":
            # Stata float reserves bit patterns >= 0x7F000000
            # (~1.7014e38) for missing codes, but float32 values run to
            # 3.4e38 — the pre-pass promotes such columns to double
            # (exact for every float32)
            plan.append((f.name, "float?"))
            aggs.append(F.min(f.name).alias(f"__min_{f.name}"))
            aggs.append(F.max(f.name).alias(f"__max_{f.name}"))
        elif t == "double":
            plan.append((f.name, "double"))
        elif t == "boolean":
            plan.append((f.name, "byte"))
        elif t == "date":
            plan.append((f.name, "date"))
        elif t in ("timestamp", "timestamp_ntz"):
            plan.append((f.name, "datetime"))
        elif t == "string":
            plan.append((f.name, "str"))
        else:
            raise ValueError(f"write_dta: unsupported column type {t} ({f.name})")
    return plan, aggs


def _finalize_cols(plan, stats) -> list[tuple]:
    """Pre-pass stats → concrete (name, kind, width, fmt) per column.
    Kinds ending in ``?`` narrow from the stats' min/max; the rest
    (the sink's schema-only plan passes only these) are final."""
    cols = []
    _INT_ORDER = ("byte", "int", "long")
    _FITS = {
        "byte": (-127, 100),
        "int": (-32767, 32740),
        "long": (-2147483647, 2147483620),
    }
    for name, kind in plan:
        if kind == "float?":
            hi = stats.get(f"__max_{name}")
            lo = stats.get(f"__min_{name}")
            kind = "float"
            if hi is not None and (
                hi >= _FLOAT_MISS_VALUE or lo <= -_FLOAT_MISS_VALUE
            ):
                kind = "double"
        elif kind.endswith("?"):
            # smallest Stata integer type at or above the floor whose
            # NONMISSING range holds the observed values (all-null →
            # floor); doubles hold anything the integer types can't
            floor = kind[:-1]
            lo = stats.get(f"__min_{name}")
            hi = stats.get(f"__max_{name}")
            kind = floor
            if lo is not None and hi is not None:
                for cand in _INT_ORDER[_INT_ORDER.index(floor):]:
                    flo, fhi = _FITS[cand]
                    if lo >= flo and hi <= fhi:
                        kind = cand
                        break
                else:
                    # Stata has no int64; values past long fall back to
                    # double, which is exact only up to 2^53. Refuse
                    # loudly beyond that (mirrors the double
                    # missing-code guard) instead of silently changing
                    # values on roundtrip.
                    if lo < -_DOUBLE_EXACT_INT or hi > _DOUBLE_EXACT_INT:
                        raise ValueError(
                            f"write_dta: column {name!r} holds integers "
                            f"outside ±2^53 ({lo}..{hi}); Stata's widest "
                            "numeric type (double) cannot represent them "
                            "exactly — rescale or split the column first"
                        )
                    kind = "double"
        if kind == "str":
            w = max(int(stats.get(f"__w_{name}") or 0), 1)
            if w > 2045:
                # wide text → strL: data cells hold (v, o) refs into
                # the GSO section (public dta-118 spec; our reader's
                # build_strl_lookup inverse)
                cols.append((name, "strl", 8, "%9s"))
            else:
                cols.append((name, "str", w, f"%{max(w, 9)}s"))
        else:
            cols.append((name, kind, *_LAYOUT[kind]))
    return cols


# (byte width, display format) per fixed-width Stata kind
_LAYOUT = {
    "byte": (1, "%8.0g"),
    "int": (2, "%8.0g"),
    "long": (4, "%12.0g"),
    "float": (4, "%9.0g"),
    "double": (8, "%10.0g"),
    "date": (4, "%td"),
    "datetime": (8, "%tc"),
}


_TYPECODE = {
    "str": None,  # width
    "strl": 32768,
    "byte": 65530,
    "int": 65529,
    "long": 65528,
    "float": 65527,
    "double": 65526,
    "date": 65528,  # long + %td
    "datetime": 65526,  # double + %tc
}


def _rec_dtype(cols) -> np.dtype:
    dtype_fields = []
    for i, (name, kind, w, fmt) in enumerate(cols):
        if kind == "str":
            dtype_fields.append((f"f{i}", f"S{w}"))
        elif kind == "strl":
            dtype_fields.append((f"f{i}", "<u8"))
        elif kind == "byte":
            dtype_fields.append((f"f{i}", "<i1"))
        elif kind == "int":
            dtype_fields.append((f"f{i}", "<i2"))
        elif kind in ("long", "date"):
            dtype_fields.append((f"f{i}", "<i4"))
        elif kind == "float":
            dtype_fields.append((f"f{i}", "<f4"))
        else:
            dtype_fields.append((f"f{i}", "<f8"))
    return np.dtype(dtype_fields)


def _apply_tags(rec_field, kind, offs) -> None:
    """Overwrite tagged rows with Stata's .a-.z sentinel for the
    column's storage type (the exact inverse of decode_numeric,
    sources/dta/decode.py:57-97): integers add the offset to the
    missing base, float/double add it at the tag bit position."""
    tagged = offs != _TAG_NONE
    if not tagged.any():
        return
    off = offs[tagged].astype(np.int64)
    if kind in ("byte", "int", "long", "date"):
        base = _MISS["long"] if kind == "date" else _MISS[kind]
        rec_field[tagged] = (base + off).astype(rec_field.dtype)
    elif kind == "float":
        rec_field.view("<u4")[tagged] = (
            _FLOAT_MISS_BITS + (off << 11)
        ).astype("<u4")
    else:  # double, datetime
        rec_field.view("<u8")[tagged] = (
            _DOUBLE_MISS_BITS + (off << 40)
        ).astype("<u8")


def write_dta(
    df: DataFrame,
    path: str,
    *,
    data_label: str = "",
    variable_labels: dict[str, str] | None = None,
    value_labels: dict[str, dict[int, str]] | None = None,
    tagged_missing: dict[str, str] | None = None,
) -> None:
    plan, rows, tag_exprs = plan_export(
        df, "dta", tagged_missing,
        data_label=data_label,
        variable_labels=variable_labels or {},
        value_labels=value_labels or {},
    )
    export_file(df, path, plan, rows, tag_exprs)


def pack(plan, pdf) -> bytes:
    """One chunk's records, then the GSO records of its strL cells
    keyed from the chunk's own row 1 (``assemble`` shifts both to the
    global row); tagged missings from the indicator columns at the
    chunk's tail. The one dta pack, run on the executors for a
    single-file export and inside the task for a part-file."""
    cols = plan.dta_cols
    data = [col for _, col in pdf.items()]
    tags = _slot_tags(data, plan.tag_slot, len(cols)) or [None] * len(cols)
    if any(t is not None and (t == 27).any() for t in tags):
        raise ValueError(
            "tagged_missing: Stata has no '._' tag (only '.' and '.a'-'.z')"
        )
    n = len(pdf)
    rec = np.zeros(n, dtype=_rec_dtype(cols))
    gso = bytearray()
    for i, ((name, kind, w, _), s, offs) in enumerate(zip(cols, data, tags)):
        if kind == "strl":
            # v118 cell: uint64 LE = v | (o << 16); one GSO per
            # non-empty value, keyed (v=col 1-based, o=row 1-based)
            keys = np.zeros(n, dtype="<u8")
            for r, text in enumerate(s.fillna("").astype(str)):
                if text == "":
                    continue  # key 0 → ""
                keys[r] = (i + 1) | ((r + 1) << 16)
                payload = text.encode("utf-8") + b"\x00"
                gso += struct.pack(
                    "<3sIQBI", b"GSO", i + 1, r + 1, 130, len(payload)
                ) + payload
            rec[f"f{i}"] = keys
        elif kind == "str":
            vals = s.fillna("").astype(str)
            rec[f"f{i}"] = np.array(
                [v.encode("utf-8")[:w] for v in vals], dtype=f"S{w}"
            )
        elif kind in ("byte", "int", "long"):
            miss = _MISS[kind]
            v = s.astype("float64")
            nulls = v.isna().values
            iv = np.where(nulls, miss, v.fillna(0).values).astype(
                {"byte": "<i1", "int": "<i2", "long": "<i4"}[kind]
            )
            rec[f"f{i}"] = iv
        elif kind == "date":
            # datetime64[D] spans years 1-9999 exactly; nulls → NaT
            nulls = s.isna().values
            days = np.asarray(s.values, dtype="datetime64[D]").astype("<i8")
            rec[f"f{i}"] = np.where(
                nulls, _MISS["long"], days - STATA_EPOCH_DAYS
            ).astype("<i4")
        elif kind == "datetime":
            nulls = s.isna().values
            miss = np.frombuffer(
                struct.pack("<Q", _DOUBLE_MISS_BITS), dtype="<f8"
            )[0]
            v = np.full(n, miss, dtype="<f8")
            ss = s
            if getattr(ss.dtype, "tz", None) is not None:
                # wall-clock semantics, matching the scalar path's
                # tzinfo strip
                ss = ss.dt.tz_localize(None)
            elif ss.dtype == object and any(
                getattr(x, "tzinfo", None) is not None
                for x in ss if x is not None
            ):
                # object batches can hide tz-aware datetimes, and
                # numpy's datetime64 coercion silently converts those
                # to UTC (DeprecationWarning only) — strip tzinfo
                # first so they keep the wall-clock semantics of the
                # tz-dtype branch above
                ss = ss.map(
                    lambda x: x.replace(tzinfo=None)
                    if getattr(x, "tzinfo", None) is not None
                    else x
                )
            try:
                # vectorized fast path: any datetime64 unit (and object
                # arrays of datetimes, full year 1-9999 range — µs
                # resolution spans ±290k years, so nothing %tc can
                # express overflows it). Exact integer µs math, then
                # split into whole ms + fractional µs like the scalar
                # path.
                us = ss.values.astype("datetime64[us]").astype("<i8")
                q, rem = np.divmod(us - _STATA_EPOCH_US, 1000)
                live = ~nulls
                v[live] = (
                    q[live].astype("<f8") + rem[live].astype("<f8") / 1000.0
                )
            except (TypeError, ValueError):
                # exotic object batches numpy can't coerce — per-row
                import datetime as _dt

                epoch = _dt.datetime(1960, 1, 1)
                for r, x in enumerate(ss):
                    if nulls[r]:
                        continue
                    xp = (
                        x.to_pydatetime()
                        if hasattr(x, "to_pydatetime")
                        else x
                    )
                    if xp.tzinfo is not None:
                        xp = xp.replace(tzinfo=None)
                    d = xp - epoch
                    v[r] = (
                        d.days * 86_400_000.0
                        + d.seconds * 1_000.0
                        + d.microseconds / 1_000.0
                    )
            rec[f"f{i}"] = v
        elif kind == "float":
            v = s.astype("float32").values.copy()
            nulls = s.isna().values
            if nulls.any():
                v.view("<u4")[nulls] = _FLOAT_MISS_BITS
            rec[f"f{i}"] = v
        else:  # double
            v = s.astype("float64").values.copy()
            nulls = s.isna().values
            live = v[~nulls]
            if live.size and float(np.max(live)) >= _DOUBLE_MISS_VALUE:
                # 0x7FE0... and above are Stata missing codes; there is
                # no wider numeric type to promote to, so refuse rather
                # than silently returning missing on read
                raise ValueError(
                    f"write_dta: column {name!r} holds values >= "
                    f"{_DOUBLE_MISS_VALUE:.6g}, Stata's double "
                    "missing-code threshold; rescale the column first"
                )
            if nulls.any():
                v.view("<u8")[nulls] = _DOUBLE_MISS_BITS
            rec[f"f{i}"] = v
        if offs is not None:
            _apply_tags(rec[f"f{i}"], kind, offs)
    return rec.tobytes() + bytes(gso)


def assemble(fh, plan, payloads, n_rows=None) -> int:
    """The one dta file layout: header and metadata sections, the
    ``(payload, n)`` records streamed into <data>, then <strls> (held
    until the data ends), the value labels, and N and the section map
    back-patched in the header. Each chunk's strL keys and GSO rows
    shift by the rows before it. ``n_rows`` is unused: N is the
    streamed count. Returns the rows written."""
    cols, value_labels = plan.dta_cols, plan.value_labels
    rec_dtype = _rec_dtype(cols)
    strl = [f"f{i}" for i, c in enumerate(cols) if c[1] == "strl"]
    head, offsets, n_pos, map_pos = _dta_head(plan)
    fh.write(head)
    pos = len(head)
    got = 0
    strls = bytearray()
    for payload, n in payloads:
        cut = n * rec_dtype.itemsize
        data, gso = payload[:cut], payload[cut:]
        if strl and got:
            rec = np.frombuffer(data, dtype=rec_dtype).copy()
            for f in strl:
                keys = rec[f]
                keys[keys != 0] += np.uint64(got << 16)
            data = rec.tobytes()
            gso = _shift_gso(gso, got)
        fh.write(data)
        strls += gso
        pos += len(data)
        got += n
    fh.write(b"</data><strls>")
    fh.write(strls)
    fh.write(b"</strls>")
    offsets[10] = pos + len(b"</data>")
    offsets[11] = offsets[10] + len(b"<strls></strls>") + len(strls)
    tail = bytearray(b"<value_labels>")
    for name, *_ in cols:
        if name not in value_labels:
            continue
        labels = value_labels[name]
        keys = sorted(labels)
        txt = bytearray()
        offs = []
        for k in keys:
            offs.append(len(txt))
            txt += labels[k].encode("utf-8") + b"\x00"
        table = (
            struct.pack("<ii", len(keys), len(txt))
            + b"".join(struct.pack("<i", o) for o in offs)
            + b"".join(struct.pack("<i", int(k)) for k in keys)
            + bytes(txt)
        )
        tail += b"<lbl>"
        tail += struct.pack("<i", len(table))
        tail += _pad(name.encode("utf-8"), 129) + b"\x00\x00\x00"
        tail += table
        tail += b"</lbl>"
    tail += b"</value_labels>"
    offsets[12] = offsets[11] + len(tail)
    tail += b"</stata_dta>"
    offsets[13] = offsets[11] + len(tail)
    fh.write(tail)
    fh.seek(n_pos)
    fh.write(struct.pack("<Q", got))
    fh.seek(map_pos)
    fh.write(struct.pack("<14Q", *offsets))
    fh.seek(offsets[13])
    return got


def _shift_gso(gso: bytes, rows: int) -> bytearray:
    """GSO records with each record's o (its 1-based row) moved down
    by ``rows``: 3-byte "GSO", v uint32, o uint64, type byte, payload
    length uint32, then the payload."""
    out = bytearray(gso)
    at = 0
    while at < len(out):
        (o,) = struct.unpack_from("<Q", out, at + 7)
        struct.pack_into("<Q", out, at + 7, o + rows)
        (ln,) = struct.unpack_from("<I", out, at + 16)
        at += 20 + ln
    return out


def _pad(b: bytes, n: int) -> bytes:
    return b[:n] + b"\x00" * (n - len(b))


def _dta_head(plan):
    """Everything before the first record → (bytes through <data>,
    the 14-entry section map with offsets 0-9 filled, the file offset
    of N, the file offset of the map)."""
    cols, variable_labels = plan.dta_cols, plan.variable_labels
    out = bytearray()
    out += b"<stata_dta><header><release>118</release><byteorder>LSF</byteorder><K>"
    out += struct.pack("<H", len(cols))
    out += b"</K><N>"
    n_pos = len(out)
    out += struct.pack("<Q", 0)
    out += b"</N><label>"
    lbl = plan.data_label.encode("utf-8")[:80]
    out += struct.pack("<H", len(lbl)) + lbl
    out += b"</label><timestamp>"
    ts = b"13 Aug 2026 00:00"
    out += bytes([len(ts)]) + ts
    out += b"</timestamp></header>"

    offsets = [0] * 14
    offsets[1] = len(out)
    map_pos = len(out) + len(b"<map>")
    out += b"<map>" + b"\x00" * (14 * 8) + b"</map>"

    offsets[2] = len(out)
    out += b"<variable_types>"
    for name, kind, w, fmt in cols:
        out += struct.pack("<H", w if kind == "str" else _TYPECODE[kind])
    out += b"</variable_types>"

    offsets[3] = len(out)
    out += b"<varnames>"
    for name, *_ in cols:
        out += _pad(name.encode("utf-8"), 129)
    out += b"</varnames>"

    offsets[4] = len(out)
    out += b"<sortlist>" + b"\x00" * (2 * (len(cols) + 1)) + b"</sortlist>"

    offsets[5] = len(out)
    out += b"<formats>"
    for name, kind, w, fmt in cols:
        out += _pad(fmt.encode(), 57)
    out += b"</formats>"

    offsets[6] = len(out)
    out += b"<value_label_names>"
    for name, *_ in cols:
        lab = name if name in plan.value_labels else ""
        out += _pad(lab.encode("utf-8"), 129)
    out += b"</value_label_names>"

    offsets[7] = len(out)
    out += b"<variable_labels>"
    for name, *_ in cols:
        out += _pad(variable_labels.get(name, "").encode("utf-8"), 321)
    out += b"</variable_labels>"

    offsets[8] = len(out)
    out += b"<characteristics></characteristics>"

    offsets[9] = len(out)
    out += b"<data>"
    return out, offsets, n_pos, map_pos
