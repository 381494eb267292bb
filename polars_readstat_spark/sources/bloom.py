"""Per-file Bloom filters for point-predicate file skipping (round 13).

Zone maps prune range predicates on CLUSTERED columns — min/max over a
file says nothing about `key = X` when every file's range spans the
whole key domain (the common case for join/lookup keys in an unsorted
lake). The classic fix (Parquet column blooms, ORC bloom streams,
Delta/Iceberg puffin blobs) is a per-file Bloom filter: `key = X`
refutes a file when X's bits are absent. False positives only cost the
skip; a false NEGATIVE would drop rows, so the whole design reduces to
one invariant:

    canon(value the reader outputs) == canon(operand Spark pushes)
    whenever Spark considers them equal.

Canonicalization (the single function both sides share):

- numeric → the 64-bit IEEE bit pattern of float64(v), with -0.0
  normalized to +0.0 (Spark/SQL: -0.0 = 0.0). float64() IS the cast
  union-by-name widening applies, so int-file blooms stay sound for
  float-widened union columns where int RANGE stats must be scrubbed:
  equal-after-cast values canon identically by construction. NaN never
  canons (Spark's NaN=NaN is true, but a bloom can't bound NaN rows
  whose on-disk form is a format missing sentinel → conservative
  no-refute).
- date → the epoch-day int64 (two's-complement as uint64). Operands
  coerce through the same `_date_days_operand` rule as date zone maps:
  datetime.date only — ints and strings never refute.
- string → blake2b-64 of the UTF-8 bytes. Subject to the same
  label-rewrite guard as string zone-map stats (str_ok): a scan with
  value_labels_as_strings / use_value_labels rewrites labeled string
  values, so membership over the unlabeled domain must not refute.

Bit placement is double hashing over a power-of-two table:
h1 = mix64(x), h2 = mix64(x ^ SALT) | 1, bit_i = (h1 + i*h2) mod m,
k = 7 (optimal near 9.6 bits/element ≈ 1% fp). Publication sizes m to
~10 bits per distinct value, capped by ``max_bytes`` (default 16 KiB
→ ~13k distinct values per file per column; raise
``zonemap_bloom_max_bytes`` for bigger ID domains — a dropped bloom
costs only the skip).

Soundness inherits the zone-map regime wholesale: blooms accumulate in
the same ZoneMapStats pass, publish only for columns whose range stats
survived the fix-point/poison rules (a value the reader would hand
back CHANGED breaks membership exactly like it breaks ranges), ride
the same manifest entries, and every refutation is still gated by the
reader's size+mtime freshness check. Reference parity note: the
reference engine has no data-skipping layer at all (its scans are
single-file); this is the Delta/Iceberg/ORC idea re-expressed for
statistical-file lakes.
"""

from __future__ import annotations

import base64
import math

_MASK = (1 << 64) - 1
_SALT = 0xA5A5A5A5A5A5A5A5
K_HASHES = 7
_BITS_PER_ELEM = 10  # ≈1% fp at k=7
DEFAULT_MAX_BYTES = 16384


def mix64(x: int) -> int:
    """splitmix64 finalizer — the avalanche both sides share."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _MASK
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _MASK
    x ^= x >> 31
    return x


def canon_num(v) -> int | None:
    """float64 bit pattern of a numeric operand (None: can't refute).
    bool is excluded to mirror the range rules (bool stats/operands
    never refute); NaN is excluded — see module docstring."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    try:
        f = float(v) + 0.0  # -0.0 + 0.0 == +0.0
    except OverflowError:
        return None
    if math.isnan(f):
        return None
    import struct

    return int.from_bytes(struct.pack("<d", f), "little")


def canon_str(v) -> int | None:
    if not isinstance(v, str):
        return None
    import hashlib

    return int.from_bytes(
        hashlib.blake2b(v.encode("utf-8"), digest_size=8).digest(),
        "little",
    )


class BloomAccumulator:
    """Write-side distinct-canon collector for ONE column.

    Accumulates the set of canonical 64-bit values seen; `payload()`
    sizes and fills the bit table. `dropped` goes sticky when the
    column's values can't be hashed soundly (decimal/bool/unknown
    array types — publishing a bloom MISSING values would be a false
    negative) or when the distinct count exceeds what ``max_bytes``
    can hold at ~10 bits/element."""

    def __init__(self, domain: str, max_bytes: int = DEFAULT_MAX_BYTES):
        self.domain = domain  # "num" | "str" | "date"
        self.max_bytes = max(64, int(max_bytes))
        self.max_ndv = (self.max_bytes * 8) // _BITS_PER_ELEM
        self.seen: set[int] = set()
        self.dropped = False

    def drop(self) -> None:
        self.dropped = True
        self.seen = set()

    def _update(self, vals) -> None:
        self.seen.update(vals)
        if len(self.seen) > self.max_ndv:
            self.drop()

    def add_array(self, valid) -> None:
        """Accumulate an Arrow array of NON-NULL, domain-normalized
        values (the same `valid` the zone-map min/max runs over: NaN
        already filtered on the numeric path, epoch-day ints on the
        date path, fix-point-checked strings on the string path)."""
        if self.dropped or not len(valid):
            return
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        t = valid.type
        if self.domain == "str":
            uniq = pc.unique(valid)
            if uniq.null_count:
                uniq = uniq.drop_null()
            self._update(
                c
                for c in (canon_str(s) for s in uniq.to_pylist())
                if c is not None
            )
            return
        if self.domain == "date":
            if not pa.types.is_integer(t):
                self.drop()  # unnormalized date representation
                return
            a = np.unique(
                valid.to_numpy(zero_copy_only=False).astype(np.int64)
            )
            self._update(a.view(np.uint64).tolist())
            return
        # numeric: only int/float arrays hash soundly (decimal's
        # →double cast isn't guaranteed to match the writer's path;
        # bool mirrors the range-rule exclusion)
        if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
            self.drop()
            return
        a = valid.to_numpy(zero_copy_only=False).astype(np.float64)
        a = a[~np.isnan(a)] + 0.0  # NaN out (belt+braces), -0.0 → +0.0
        self._update(np.unique(a).view(np.uint64).tolist())

    def payload(self) -> dict | None:
        """{"k", "m", "b" (base64 bits), "d" (domain)} or None."""
        if self.dropped:
            return None
        n = len(self.seen)
        m = 64
        while m < n * _BITS_PER_ELEM:
            m <<= 1
        if m > self.max_bytes * 8:
            return None
        bits = bytearray(m // 8)
        for x in self.seen:
            h1 = mix64(x)
            h2 = mix64(x ^ _SALT) | 1
            for i in range(K_HASHES):
                b = (h1 + i * h2) & (m - 1)
                bits[b >> 3] |= 1 << (b & 7)
        return {
            "k": K_HASHES,
            "m": m,
            "b": base64.b64encode(bytes(bits)).decode("ascii"),
            "d": self.domain,
        }


def bloom_valid(bf) -> bool:
    """Shape check a manifest's bloom fragment before trusting it —
    hand-edited or corrupt entries must degrade to no-refute."""
    if not isinstance(bf, dict):
        return False
    k, m, b, d = bf.get("k"), bf.get("m"), bf.get("b"), bf.get("d")
    if d not in ("num", "str", "date"):
        return False
    if not isinstance(k, int) or not 1 <= k <= 16:
        return False
    if not isinstance(m, int) or m < 8 or m & (m - 1):
        return False
    return isinstance(b, str)


def _bloom_bits(bf: dict) -> bytes | None:
    """Decode (and memoize on the plan-local dict) the bit table."""
    bits = bf.get("_bits")
    if bits is None:
        try:
            bits = base64.b64decode(bf["b"], validate=True)
        except Exception:  # noqa: BLE001 — corrupt b64: no refute
            bits = b""
        bf["_bits"] = bits
    if len(bits) * 8 != bf["m"]:
        return None
    return bits


def bloom_absent(bf: dict, x: int) -> bool:
    """True when canon value x is PROVABLY not in the published set
    (some of its k bits are clear). False ⇒ maybe-present ⇒ keep."""
    if not bloom_valid(bf):
        return False
    bits = _bloom_bits(bf)
    if not bits:
        return False
    m = bf["m"]
    h1 = mix64(x)
    h2 = mix64(x ^ _SALT) | 1
    for i in range(bf["k"]):
        b = (h1 + i * h2) & (m - 1)
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return True
    return False
