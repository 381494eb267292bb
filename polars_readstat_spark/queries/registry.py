"""Registry wiring SURVEY.md §2 operators to (Spark query, DuckDB oracle) pairs.

Each implemented operator registers a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an ANSI
SQL string DuckDB runs over the same parquet tables. The driver
compares row-count + schema + order-insensitive value hash, sorting
columns by name — so every computed column is aliased identically on
both sides, and output types are restricted to
int/bigint/double/string/date/boolean (timestamps are emitted as epoch
seconds or dates: Spark collects tz-aware µs timestamps while DuckDB
yields naive ones, which would spuriously hash-mismatch).

Float determinism: monetary aggregates go through DECIMAL so the
aggregation is exact and order-independent (Spark sums doubles in
partition-completion order; a double sum would wobble in the last ulp),
then cast to double at the end — both engines do correctly-rounded
decimal→binary conversion, so the hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a named query and its optional DuckDB oracle."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver samples a fixed-size prefix of the registry — it takes
# the FIRST 50 rows, whatever the registry's total size (that is the
# invariant; don't record snapshots of the count here, they go stale).
# Insertion order is therefore load-bearing: each round, list first
# (a) any query whose code path changed this round, then (b) the
# queries whose newest driver-green row is oldest, so no query's
# independent verification drifts more than a couple of rounds behind
# its code. Queries past position 50 still run in the local gate
# (tools/check_correctness.py covers the whole registry).
_PRIORITY: tuple[str, ...] = (
    # part 1 — changed-path-first: the read side lost its per-reader
    # latency option and its outer readahead wrapper, so the scans
    # through the simlat:// seam and with io_readahead go first, then
    # the zsav, sav-bytecode and por scans whose fetch paths changed
    # (the zsav/sav stream fingerprint now reads through the seam; por
    # lost its batch queue).
    "sink_remote_roundtrip",
    "scan_fs_seam_roundtrip",
    "scan_dta_multifile_readahead",
    "scan_zsav_roundtrip",
    "scan_sav_compressed_roundtrip",
    "scan_por_roundtrip",
    # part 2: the staleness frontier, oldest newest-green first, as
    # ordered by tools/rotation_plan.py from the CORRECTNESS_r*.json
    # union.
    "multimodal_decode_embed",  # newest green r11
    "informative_null_separate",  # newest green r11
    "informative_null_merged",  # newest green r11
    "informative_null_struct",  # newest green r11
    "q1_pricing_summary",  # newest green r11
    "table_profile_lineitem",  # newest green r11
    "window_rank_family",  # newest green r11
    "tfidf_topk_terms",  # newest green r11
    "bm25_topk_docs",  # newest green r11
    "repetition_chunk_dedup",  # newest green r11
    "scan_dta_metadata_surface",  # newest green r11
    "scan_xpt_informative_nulls",  # newest green r11
    "sas_csv_import_roundtrip",  # newest green r11
    "sas_csv_script_pins",  # newest green r11
    "profile_read_surface",  # newest green r11
    "pca_power_iter_step",  # newest green r11
    "embedding_l2_norms",  # newest green r11
    "doc_fingerprint",  # newest green r11
    "boilerplate_ngram_filter",  # newest green r11
    "event_hourly_window",  # newest green r11
    "event_value_quantiles",  # newest green r11
    "event_props_json_extract",  # newest green r11
    "retention_weekly_cohorts",  # newest green r11
    "event_dau_wau_stickiness",  # newest green r11
    "resample_ffill_hourly",  # newest green r11
    "compress_numeric_decision",  # newest green r12
    "sequence_packing_bins",  # newest green r12
    "source_mixing_weights",  # newest green r12
    "sequence_length_histogram",  # newest green r12
    "mixture_budget_fill",  # newest green r12
    "train_val_test_split",  # newest green r12
    "simhash_fingerprint",  # newest green r12
    "dedup_cluster_size_histogram",  # newest green r12
    "value_label_broadcast_decode",  # newest green r12
    "q3_shipping_priority",  # newest green r12
    "q5_local_supplier_volume",  # newest green r12
    "cube_status_priority",  # newest green r12
    "projection_pushdown",  # newest green r12
    "filter_pushdown",  # newest green r12
    "limit_pushdown",  # newest green r12
    "offset_slice",  # newest green r12
    "metadata_merge_full_join",  # newest green r12
    "anti_join_customers_without_orders",  # newest green r12
    "broadcast_join_order_region",  # newest green r12
    # positions 51+ follow registration order (the local gate still
    # covers the whole registry each round).
)


def _prioritized(d: dict) -> dict:
    head = {n: d[n] for n in _PRIORITY if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return _prioritized(QUERIES)


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return _prioritized(ORACLES)


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    # import for side effect: each module registers its queries
    from polars_readstat_spark.queries import (  # noqa: F401
        compress,
        curation,
        dedup,
        labels,
        multimodal,
        nulls,
        relational,
        retrieval,
        rowindex,
        sampling,
        sas7bdat_scan,
        scanio,
        similarity,
        text,
        timeseries,
        tpch,
    )

    _LOADED = True
