"""Distributed partitioned export: one statistical file per Spark
partition, written inside the executor tasks.

The single-file writers pack on the executors but assemble one file
on the driver (``writers._drain``), which bounds memory but
serializes the write itself — SCALE.md names that bound. This path
removes it. Each ``write_*_partitioned`` runs the single-file
exports' plan step (``writers.plan_export``: one global pre-pass job
resolves string widths, so every part-file shares one schema; dta
narrows its integers in the same job), then one generic
``mapInArrow`` task per partition streams its batches through the
zone-map accumulator into the sink's ``write_part``, which lays the
file out with the format's one pack and assembler — the same two a
single-file export runs, so a one-partition export writes the
single-file bytes. The driver publishes the ``_prs_stats.json``
manifest. The output directory is exactly the multi-file layout the
readers already consume (`spark.read.format("readstat").load(dir)`
unions part files with per-file partition fan-out), so dir-write →
dir-read roundtrips.

On a real cluster the directory must be storage every executor can
reach (NFS/fuse-mounted object store); tasks write to a temp name and
rename, so retries never leave torn files, and a failed task removes
its partial temp file. The task imports ``polars_readstat_spark`` by
name (as the sink's and the hive writer's do), so the package must be
importable on every executor (``--py-files`` or an install); the
single-file exports instead pickle their pack by value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _write_parts(
    src: DataFrame, dir_path: str, plan, bloom_columns=(),
    bloom_max_bytes=None,
) -> list[dict]:
    """Run the one per-partition write task over ``src`` (already in
    ``plan``'s column order and on-disk representation; ``plan`` is a
    ``writers.PartPlan``) and publish the manifest. Empty partitions
    write no file. Returns [{"path", "n_rows"}, ...] per written part."""
    from polars_readstat_spark.sources.fs import fs_makedirs
    from polars_readstat_spark.writers.spark_sink import (
        TASK_RESULT_SCHEMA,
        publish_task_results,
    )

    fs_makedirs(dir_path)

    def task(batches):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_join, fs_move
        from polars_readstat_spark.writers.spark_sink import (
            ZoneMapStats,
            _stripe_rows_opt,
            task_result_batch,
            write_part,
        )

        # stripes at the sink's default geometry, so the bulk exports
        # publish the same intra-file pruning as the sink. Date kinds
        # arrive as format-epoch numbers in sav/xpt/sas7bdat; the
        # accumulator maps them back to epoch days by fmt.
        acc = ZoneMapStats(
            plan.names, plan.kinds, plan.fmt,
            stripe_rows=_stripe_rows_opt({}),
            bloom_cols=bloom_columns,
            bloom_max_bytes=bloom_max_bytes,
        )

        def frames():
            for batch in batches:
                if batch.num_rows:
                    acc.add(batch)
                    yield batch.to_pandas()

        pid = TaskContext.get().partitionId()
        path = fs_join(dir_path, f"part-{pid:05d}.{plan.fmt}")
        tmp = path + f".tmp{os.getpid()}"
        n, payload = write_part(tmp, plan, frames(), acc)
        if n:
            fs_move(tmp, path)
            yield task_result_batch([(path, n, payload)])

    return publish_task_results(
        src.mapInArrow(task, TASK_RESULT_SCHEMA).collect()
    )


def _write_planned(
    df: DataFrame, dir_path: str, fmt: str, bloom_columns=(),
    bloom_max_bytes=None, **plan_opts,
) -> list[dict]:
    """The single-file exports' plan step (``writers.plan_export``:
    one global pre-pass), so every part shares one layout — the
    single-file one."""
    from polars_readstat_spark.writers import plan_export, to_disk

    plan, _, _ = plan_export(df, fmt, **plan_opts)
    return _write_parts(
        to_disk(df, fmt, plan.fields, plan.kinds),
        dir_path,
        plan,
        bloom_columns,
        bloom_max_bytes,
    )


def write_dta_partitioned(
    df: DataFrame,
    dir_path: str,
    *,
    data_label: str = "",
    variable_labels: dict | None = None,
    value_labels: dict | None = None,
    bloom_columns: tuple = (),
    bloom_max_bytes: int | None = None,
) -> list[dict]:
    """Write one .dta per partition into ``dir_path``.

    Returns [{"path", "n_rows"}, ...] per written part (empty
    partitions are skipped). All parts share the column plan from one
    global pre-pass (string widths and the integer narrowing), so a
    directory scan unions them cleanly."""
    return _write_planned(
        df, dir_path, "dta", bloom_columns, bloom_max_bytes,
        data_label=data_label,
        variable_labels=variable_labels or {},
        value_labels=value_labels or {},
    )


def write_sav_partitioned(
    df: DataFrame,
    dir_path: str,
    *,
    data_label: str = "",
    variable_labels: dict | None = None,
    value_labels: dict | None = None,
    measures: dict | None = None,
    zsav: bool = False,
    bloom_columns: tuple = (),
    bloom_max_bytes: int | None = None,
) -> list[dict]:
    """Write one .sav per partition into ``dir_path`` (uncompressed
    system files — each re-partitionable by our own reader). Same
    shape as the dta path: one global pre-pass fixes string widths so
    all parts share a dictionary layout. ``zsav=True`` wraps each
    part's case data in the ZLIB block container (one .zsav per
    partition; blocks stay independently decompressible for the
    reader's block-range partitioning)."""
    return _write_planned(
        df, dir_path, "zsav" if zsav else "sav", bloom_columns,
        bloom_max_bytes,
        data_label=data_label,
        variable_labels=variable_labels or {},
        value_labels=value_labels or {},
        measures=measures or {},
    )


def write_xpt_partitioned(
    df: DataFrame,
    dir_path: str,
    *,
    dataset_name: str = "DATA",
    variable_labels: dict | None = None,
    version: int = 5,
    bloom_columns: tuple = (),
    bloom_max_bytes: int | None = None,
) -> list[dict]:
    """Write one .xpt per partition into ``dir_path``. XPT carries no
    row count in its header, so each task streams header + its packed
    records + the 80-byte tail pad; string widths come from the one
    global pre-pass."""
    return _write_planned(
        df, dir_path, "xpt", bloom_columns, bloom_max_bytes,
        dataset_name=dataset_name,
        variable_labels=variable_labels or {},
        version=version,
    )


def write_sas7bdat_partitioned(
    df: DataFrame,
    dir_path: str,
    *,
    dataset_name: str = "DATA",
    variable_labels: dict | None = None,
    page_length: int | None = None,
    compress: str | None = None,
    bloom_columns: tuple = (),
    bloom_max_bytes: int | None = None,
) -> list[dict]:
    """Write one .sas7bdat per partition into ``dir_path``. Each task
    streams a complete file (header + meta page + data pages) and
    back-patches its own row/page counts locally, so no global count
    job is needed — only the string-width pre-pass is shared.
    ``compress='rle'`` emits SASYZCRL row-compressed META pages."""
    return _write_planned(
        df, dir_path, "sas7bdat", bloom_columns, bloom_max_bytes,
        dataset_name=dataset_name,
        variable_labels=variable_labels or {},
        page_length=page_length,
        compress=compress,
    )


def write_readstat_partitioned(df: DataFrame, dir_path: str, ext: str = "dta", **kwargs):
    """Format-dispatching facade. dta, sav, xpt, and sas7bdat ship
    distributed; POR stays driver-streamed (legacy eager format).
    ``partition_by=[...]`` routes to the hive-style layout writer
    (key=value/ subdirectories, one manifest each — writers/hive.py)."""
    fmt = ext.lstrip(".").lower()
    if kwargs.get("partition_by"):
        from polars_readstat_spark.writers.hive import write_readstat_hive

        return write_readstat_hive(df, dir_path, ext=fmt, **kwargs)
    if fmt == "dta":
        return write_dta_partitioned(df, dir_path, **kwargs)
    if fmt == "sav":
        return write_sav_partitioned(df, dir_path, **kwargs)
    if fmt == "zsav":
        return write_sav_partitioned(df, dir_path, zsav=True, **kwargs)
    if fmt == "xpt":
        return write_xpt_partitioned(df, dir_path, **kwargs)
    if fmt == "sas7bdat":
        return write_sas7bdat_partitioned(df, dir_path, **kwargs)
    raise NotImplementedError(
        f"write_readstat_partitioned: format {ext!r} not yet distributed; "
        "use write_readstat per file or repartition+loop driver-side"
    )
