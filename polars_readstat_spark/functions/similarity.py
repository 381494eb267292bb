"""Sign-random-projection LSH over the `embeddings` table — the scale
path for similarity search and embedding near-dup detection.

planes hyperplanes → planes-bit code → bands × (planes/bands)-bit
band keys. Two vectors become join candidates when they share any band
key, turning the quadratic pair search into an equi-join on
(band_idx, band_key) — exactly the MinHash-banding shape in
queries/dedup.py, but for dense vectors. Band width sets the candidate
volume: b-bit bands give 2^b buckets per band, so expected candidates
are ~bands·n²/2^b. (planes, bands) are caller parameters —
``recommended_lsh(n)`` sizes them so bucket occupancy stays bounded as
the corpus grows; the registry queries use the 32/4 test-scale default
(4-bit bands were measured 8× slower at sf0.1 purely from candidate
explosion; see SCALE.md for measured candidate counts per width).

Cross-engine determinism (the oracle gate compares value hashes):

- Hyperplane coefficients come from an LCG evaluated per (plane, dim):
  ``c(p,d) = ((1103515245*(p*64+d) + 12345) % 2^31) div 2^16 - 2^14``
  — pure 64-bit integer arithmetic on nonnegative dividends, identical
  in Spark and DuckDB (the high LCG bits are kept; low bits of a
  power-of-two-modulus LCG have short periods).
- Vector elements are scaled to integers ``floor(double(x) * 1e6)``
  (float→double is exact, the product is one correctly-rounded IEEE op
  in both engines, floor is exact), so the projection sign is a sum of
  int64 products: |c| < 2^14, |x_scaled| ≲ 2^24, 64 terms → < 2^44,
  no overflow, no float summation-order wobble.

The reference has no similarity operators (SURVEY.md §2.9 "absent
entirely"); this module is part of the training-pipeline extension
surface built on the same tables.
"""

from __future__ import annotations

import math

_PLANES = 32
_BANDS = 4
_XSCALE = "1000000.0"

# warn when any band bucket exceeds this share of candidate blowup
DEFAULT_BUCKET_CAP = 100_000


def recommended_lsh(n_vectors: int, bands: int = 4) -> tuple[int, int]:
    """(planes, bands) sized so expected band-bucket occupancy stays
    ≤ ~64 vectors under a uniform code distribution: bits_per_band ≥
    log2(n/64), floored at 8 (the test-scale default) and capped at 24.

    Candidate volume is ~bands · n² / 2^bits_per_band, so fixed 8-bit
    bands are a scale cliff: at n = 10⁹ every bucket holds ~4M ids and
    the band equi-join explodes quadratically. 20-bit bands at that
    scale keep expected occupancy ~1k. Recall drops as bands narrow —
    compensate with more bands (each added band is one more linear
    table, not a quadratic term)."""
    bits = max(8, min(24, math.ceil(math.log2(max(n_vectors, 2) / 64))))
    return bits * bands, bands


def lsh_scaled_dim_expr(x_col: str = "xf") -> str:
    """Scaled-integer value of one exploded vector element."""
    return f"CAST(FLOOR(CAST({x_col} AS DOUBLE) * {_XSCALE}) AS BIGINT)"


def lsh_coef(p: int, d: int) -> int:
    """Integer LCG coefficient of hyperplane ``p`` at dimension ``d``
    (index p*64 + d), evaluated at plan-build time."""
    return ((1103515245 * (p * 64 + d) + 12345) % 2147483648) // 65536 - 16384


def lsh_coef_rows(planes: int = _PLANES) -> list[tuple]:
    """64 rows (d, c0..c{planes-1}) — the hyperplane matrix as a
    broadcastable dim table. Joining this beats inlining the LCG
    arithmetic into the SUM expressions: the generated plan is small
    column products, which Catalyst optimizes/compiles in milliseconds
    instead of seconds (measured: inline expressions cost ~5 s of
    driver time per cold run at any data size)."""
    return [
        tuple([d] + [lsh_coef(p, d) for p in range(planes)]) for d in range(64)
    ]


def lsh_bands_stack(planes: int = _PLANES, bands: int = _BANDS) -> str:
    """stack() expr turning the s0..s{planes-1} sum columns into
    (band_idx, band_key)."""
    bits_per_band = planes // bands
    parts = []
    for b in range(bands):
        bits = ", ".join(
            f"CASE WHEN s{b * bits_per_band + i} >= 0 THEN '1' ELSE '0' END"
            for i in range(bits_per_band)
        )
        parts.append(f"{b}, concat({bits})")
    return f"stack({bands}, " + ", ".join(parts) + ") AS (band_idx, band_key)"


def lsh_xi_duck(table: str = "embeddings") -> str:
    """DuckDB CTE `lsh_xi(vec_id, d, x)` — every vector exploded into
    scaled-int64 elements, the shared exact representation for LSH
    codes, IVF assignment, and bulk cosine verification."""
    return f"""
    lsh_xi AS (
      SELECT e.vec_id, i.i - 1 AS d,
             CAST(FLOOR(CAST(e.embedding[i.i] AS DOUBLE) * {_XSCALE}) AS BIGINT) AS x
      FROM {table} e CROSS JOIN (SELECT UNNEST(RANGE(1, 65)) AS i) i
    )
    """


def lsh_bands_duck(
    table: str = "embeddings", planes: int = _PLANES, bands: int = _BANDS
) -> str:
    """DuckDB CTE chain ending in lsh_bands(vec_id, band_idx, band_key).

    DuckDB's `%` on nonnegative ints and `//` floor-division match the
    Spark expressions above term for term.
    """
    bits_per_band = planes // bands
    sums = ", ".join(
        "SUM((((1103515245 * ({p} * 64 + d) + 12345) % 2147483648) // 65536 - 16384)"
        " * x) AS s{p}".format(p=p)
        for p in range(planes)
    )
    band_rows = []
    for b in range(bands):
        key = " || ".join(
            f"CASE WHEN s{b * bits_per_band + i} >= 0 THEN '1' ELSE '0' END"
            for i in range(bits_per_band)
        )
        band_rows.append(f"SELECT vec_id, {b} AS band_idx, {key} AS band_key FROM lsh_sums")
    return (
        lsh_xi_duck(table)
        + f""",
    lsh_sums AS (
      SELECT vec_id, {sums} FROM lsh_xi GROUP BY vec_id
    ),
    lsh_bands AS (
      {" UNION ALL ".join(band_rows)}
    )
    """
    )


def band_bucket_check(bands_df, cap: int = DEFAULT_BUCKET_CAP):
    """Diagnostic action: per-band-bucket occupancy histogram summary.

    Returns (max_bucket, n_buckets). Warns when the largest bucket
    exceeds ``cap`` — candidate volume from that bucket alone is
    max_bucket², a sign the band width is undersized for the corpus
    (widen via recommended_lsh / the planes parameter). One extra
    shuffle over the linear band table; run it when tuning, not inside
    every query."""
    import warnings

    from pyspark.sql import functions as F

    row = (
        bands_df.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.count(F.lit(1)).alias("nb"))
        .collect()[0]
    )
    mx, nb = int(row.mx or 0), int(row.nb or 0)
    if mx > cap:
        warnings.warn(
            f"LSH band bucket holds {mx} vectors (> cap {cap}): candidate "
            f"join will blow up quadratically; widen bands "
            f"(recommended_lsh) before running at this corpus size",
            RuntimeWarning,
            stacklevel=2,
        )
    return mx, nb
