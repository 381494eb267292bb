"""Informative-null scan modes (reference M2-M4, src/lib.rs:80-378).

Statistical formats distinguish *kinds* of missingness (Stata `.a`-`.z`
tagged missings, SPSS declared missing values/ranges). A plain null
drops that information; these three output modes preserve it:

- ``separate``: each eligible column is followed by a String column
  ``<col><suffix>`` holding the indicator (``.``/``.a``…, or the SPSS
  label/value), null where the value is present;
- ``struct``: the column becomes ``struct<col: T, null_indicator:
  string>`` (reference as_struct, src/lib.rs:341-357);
- ``merged``: the column becomes String =
  ``coalesce(cast(value, string), indicator)`` (src/lib.rs:358-377).

Indicator per format (built by the shared decode tail,
sources/columns.py, as one take from a tag-code dictionary):

  format        eligible columns          indicator where missing
  dta           numerics not read as      '.' system missing,
                value-label strings       '.a'-'.z' tagged
  sas7bdat/xpt  numerics                  '.A'-'.Z', '._'; plain '.'
                                          stays a bare null
  sav/zsav      numerics not read as      declared discrete value: its
                value-label strings       code string (its label with
                                          use_value_labels); declared
                                          range member: "MISSING" (its
                                          label with use_value_labels);
                                          system missing: null
  por           none (its reader parses no declared missings)

Options (option names on the `readstat` data source):
  informative_nulls         separate | struct | merged
  informative_null_columns  csv subset (default: all eligible)
  informative_null_suffix   default "_null"
  use_value_labels          indicator prefers the value label (M5)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from polars_readstat_spark.sources import strdecode


def parse_opts(options) -> dict | None:
    mode = options.get("informative_nulls")
    if not mode:
        return None
    mode = str(mode).lower()
    if mode in ("separate", "separate_column"):
        mode = "separate"
    elif mode not in ("struct", "merged", "merged_string"):
        raise ValueError(f"informative_nulls: unknown mode {mode!r}")
    if mode == "merged_string":
        mode = "merged"
    cols = options.get("informative_null_columns")
    return {
        "mode": mode,
        "columns": (
            {c.strip() for c in str(cols).split(",") if c.strip()}
            if cols
            else None
        ),
        "suffix": options.get("informative_null_suffix") or "_null",
        "use_value_labels": str(
            options.get("use_value_labels") or ""
        ).lower() in {"1", "true", "yes"},
    }


def eligible(opts: dict, name: str) -> bool:
    return opts["columns"] is None or name in opts["columns"]


def merged_value_strings(values: pa.Array) -> pa.Array:
    """cast(value, string) with integer-valued floats rendered without
    a trailing .0 — the reference's Polars cast renders 2.0 → "2.0" for
    floats but codes are integers in practice; we match the reference's
    numeric-as-string code rendering (src/stata/data.rs:1050-1103).
    Floats render once per distinct value; NaN reads as null."""
    if pa.types.is_floating(values.type):
        np_vals = values.to_numpy(zero_copy_only=False)
        scalar = np_vals.dtype.type  # float32 keeps its shortest repr
        nan = np.isnan(np_vals)
        return strdecode.map_via_unique(
            np.where(nan, 0, np_vals),
            nan,
            lambda v: strdecode.code_string(v, scalar),
        )
    return pc.cast(values, pa.string())


def assemble(
    mode: str,
    name: str,
    suffix: str,
    values: pa.Array,
    indicator: pa.Array,
) -> list[tuple[str, pa.Array]]:
    """→ [(out_name, array), ...] for one eligible column."""
    if mode == "separate":
        return [(name, values), (name + suffix, indicator)]
    if mode == "struct":
        struct = pa.StructArray.from_arrays(
            [values, indicator], names=[name, "null_indicator"]
        )
        return [(name, struct)]
    # merged: value-as-string where present, indicator where missing
    merged = pc.if_else(
        values.is_null(), indicator, merged_value_strings(values)
    )
    return [(name, merged)]

