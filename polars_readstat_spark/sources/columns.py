"""The decode tail every format reader shares.

The reference builds each batch through a few typed column builders —
Numeric, Date, DateTime, Time and Character
(src/sas/polars_output.rs:81-87). Here a per-format kernel yields, per
selected column, its ``ColumnSpec`` and either a string array or the
numeric ``(values, missing mask, tag codes)``; ``build_batch`` then
applies ``missing_string_as_null`` and value labels, promotes dates,
datetimes and times by the format family's epoch rule, takes the
informative-null indicator from the column's tag-code dictionary
(code 0 = null) and assembles the informative-null output.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

from polars_readstat_spark.sources import informative as inf
from polars_readstat_spark.sources import strdecode

# SAS and Stata count from 1960-01-01, SPSS in seconds from 1582-10-14
SAS_EPOCH_DAYS = -3653
SAS_EPOCH_US = SAS_EPOCH_DAYS * 86400 * 1_000_000
STATA_EPOCH_DAYS = -3653
STATA_EPOCH_MS = STATA_EPOCH_DAYS * 86400000
SPSS_SEC_SHIFT = 12_219_379_200  # 1582-10-14 → 1970-01-01 in seconds
SEC_PER_DAY = 86_400

# tag-code dictionaries: Stata reads '.' then '.a'-'.z' (reference
# offset_to_stata_label, src/stata/value.rs:341); SAS reads '.A'-'.Z'
# then '._', and plain '.' stays a bare null (sas_offset_to_label,
# src/sas/value.rs:197-204)
STATA_TAGS = pa.array([None, "."] + [f".{chr(c)}" for c in range(97, 123)])
SAS_TAGS = pa.array([None] + [f".{chr(c)}" for c in range(65, 91)] + ["._"])


class ColumnSpec(NamedTuple):
    """What the tail needs to know about one column; static per file."""

    name: str
    rule: str  # "sas" | "spss" | "stata": epoch and label rendering
    time_kind: str | None = None  # "date" | "datetime" | "time"
    labels: dict | None = None  # value labels to apply
    indicator: pa.Array | None = None  # tag code → indicator string


# (rule, time kind) → promotion of the values with missing cells at 0.
# SAS rounds; Stata and SPSS truncate toward zero (reference
# apply_format_class_date, spss/data.rs:1466). Time is int64 ns since
# midnight: Spark has no time type (SURVEY.md §1.3).
_PROMOTE = {
    ("sas", "date"): lambda v: np.round(v).astype(np.int64) + SAS_EPOCH_DAYS,
    ("sas", "datetime"): lambda v: (
        np.round(v * 1e6).astype(np.int64) + SAS_EPOCH_US
    ),
    ("sas", "time"): lambda v: np.round(v * 1e9).astype(np.int64),
    ("stata", "date"): lambda v: v.astype(np.int64) + STATA_EPOCH_DAYS,
    ("stata", "datetime"): lambda v: (
        (v.astype(np.int64) + STATA_EPOCH_MS) * 1000
    ),
    ("spss", "date"): lambda v: (
        (v.astype(np.int64) - SPSS_SEC_SHIFT) / SEC_PER_DAY
    ).astype(np.int64),
    ("spss", "datetime"): lambda v: v.astype(np.int64) - SPSS_SEC_SHIFT,
    ("spss", "time"): lambda v: v.astype(np.int64) * 1_000_000_000,
}
# SPSS nulls days / seconds that Python's datetime cannot hold (pandas
# NaT behavior; haven's datetime.sav is one such file), then scales
_SPSS_BOUNDS = {
    "date": (-719_162, 2_932_896, 1),
    "datetime": (-62_135_596_800, 253_402_300_799, 1_000_000),
}
_TIME_TYPES = {
    "date": pa.date32(),
    "datetime": pa.timestamp("us"),
    "time": pa.int64(),
}


def _spss_labels(vals, mask, labels):
    def render(v):
        lab = labels.get(v)
        return strdecode.code_string(v) if lab is None else lab

    return strdecode.map_via_unique(np.where(mask, 0.0, vals), mask, render)


def _stata_labels(vals, mask, labels):  # integer codes
    iv = np.where(mask, 0, vals).astype(np.int64)
    return strdecode.map_int_labels(iv, mask, labels)


_LABEL_MAPS = {"spss": _spss_labels, "stata": _stata_labels}


def numeric_array(spec: ColumnSpec, vals, mask) -> pa.Array:
    """Decoded numbers + missing mask → the column's Arrow array."""
    if spec.labels is not None:
        return _LABEL_MAPS[spec.rule](vals, mask, spec.labels)
    promote = _PROMOTE.get((spec.rule, spec.time_kind))
    if promote is None:  # a plain numeric: its dtype is its Arrow type
        return strdecode.pa_masked(vals, None, mask)
    out = promote(np.where(mask, 0, vals))
    if spec.rule == "spss" and spec.time_kind in _SPSS_BOUNDS:
        lo, hi, scale = _SPSS_BOUNDS[spec.time_kind]
        mask = mask | (out < lo) | (out > hi)
        out = np.where(mask, 0, out) * scale
    if spec.time_kind == "date":
        out = out.astype(np.int32)
    return strdecode.pa_masked(out, _TIME_TYPES[spec.time_kind], mask)


def indicator(dictionary: pa.Array, codes: np.ndarray) -> pa.Array:
    """Indicator strings: one take of each row's tag code."""
    return dictionary.take(pa.array(codes))


def build_batch(
    columns, informative: dict | None = None, missing_string_as_null=False
) -> pa.RecordBatch:
    """``columns``: ``(spec, payload)`` per selected column, in order;
    payload is a string array or the numeric ``(values, mask, codes)``,
    whose codes are read only when the spec has an indicator."""
    arrays, names = [], []
    for spec, payload in columns:
        if isinstance(payload, pa.Array):
            arr = payload
            if missing_string_as_null:
                arr = strdecode.empty_to_null(arr)
            if spec.labels is not None:
                arr = strdecode.map_str_labels(arr, spec.labels)
        else:
            vals, mask, codes = payload
            arr = numeric_array(spec, vals, mask)
            if spec.indicator is not None:
                for nm, a in inf.assemble(
                    informative["mode"], spec.name, informative["suffix"],
                    arr, indicator(spec.indicator, codes),
                ):
                    arrays.append(a)
                    names.append(nm)
                continue
        arrays.append(arr)
        names.append(spec.name)
    return pa.RecordBatch.from_arrays(arrays, names=names)
