"""Tagged-missing encode helpers shared by the SAS-family writers
(the dta writer parses its indicators here too; Stata has no `._`).

SAS distinguishes 28 kinds of missing (`.`, `.A`-`.Z`, `._`). Writers
accept them through ``tagged_missing={"value_col": "indicator_col"}``:
the indicator column holds the reader-side indicator strings
(``"."``/``".A"``…/``"._"``, case-insensitive, leading dot optional)
and is consumed — it does not become a data column. Rows with a tag
write the format's tagged-missing byte pattern regardless of the value
cell; rows with a null/empty indicator write the value (or plain
system missing when the value is null).

Encodings (the exact inverses of the scan-side decoders):
- sas7bdat: negative-NaN doubles 0xFFFF_tb00_0000_0000 with the
  ones-complement tag byte at bits [47:40] — `.X` = 0xffffe6…, the
  pattern real SAS emits (verified against a SAS-generated fixture;
  reference decode src/sas/value.rs:142-194).
- xpt: tag character in byte 0 of an otherwise-zero 8-byte field
  (TS-140; reference is_xpt_missing, src/sas/xpt.rs:396-408).
"""

from __future__ import annotations

import numpy as np

NO_TAG = 255  # sentinel: row has no tag (use the value cell)
SYSTEM = 0  # explicit '.' (force system missing)


def parse_tag_offsets(indicators) -> np.ndarray:
    """Indicator strings → uint8 offsets: NO_TAG where absent/empty,
    0 for '.', 1-26 for A-Z, 27 for '_'."""
    out = np.full(len(indicators), NO_TAG, dtype=np.uint8)
    for i, s in enumerate(indicators):
        if s is None:
            continue
        s = str(s).strip()
        if not s:
            continue
        t = s[1:] if s.startswith(".") else s
        if t == "":
            out[i] = SYSTEM
        elif t == "_":
            out[i] = 27
        elif len(t) == 1 and t.isalpha() and t.isascii():
            out[i] = ord(t.upper()) - ord("A") + 1
        else:
            raise ValueError(
                f"tagged_missing: invalid indicator {s!r} "
                "(expected '.', '.A'-'.Z', or '._')"
            )
    return out


def slot_tags(cols, tag_slot: dict, ncols: int):
    """Per data column tag offsets from the indicator column at
    ``cols[tag_slot[ci]]`` (None for an untagged column); None when
    nothing is tagged."""
    if not tag_slot:
        return None
    return [
        parse_tag_offsets(cols[tag_slot[ci]].tolist())
        if ci in tag_slot
        else None
        for ci in range(ncols)
    ]


def sas7bdat_tag_rows(offsets: np.ndarray) -> np.ndarray:
    """(k,) offsets (no NO_TAG entries) → (k, 8) uint8 LE doubles."""
    tb = np.empty(len(offsets), dtype=np.uint8)
    letters = (offsets >= 1) & (offsets <= 26)
    # decoded tag 2..27 under the complement scheme (real-SAS pattern)
    tb[letters] = (~(offsets[letters] + 1)) & 0xFF
    tb[offsets == 27] = 0xFF  # '._' — complement of 0
    tb[offsets == SYSTEM] = 0xD1  # '.'  — complement of 0x2E
    bits = np.uint64(0xFFFF_0000_0000_0000) | (
        tb.astype(np.uint64) << np.uint64(40)
    )
    return bits.view(np.uint8).reshape(-1, 8) if np.little_endian else (
        bits.byteswap().view(np.uint8).reshape(-1, 8)
    )


def xpt_tag_byte0(offsets: np.ndarray) -> np.ndarray:
    """(k,) offsets (no NO_TAG entries) → byte-0 values."""
    b0 = np.empty(len(offsets), dtype=np.uint8)
    letters = (offsets >= 1) & (offsets <= 26)
    b0[letters] = offsets[letters] + ord("A") - 1
    b0[offsets == 27] = ord("_")
    b0[offsets == SYSTEM] = ord(".")
    return b0
