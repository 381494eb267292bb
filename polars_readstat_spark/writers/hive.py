"""Hive-style partitioned export: ``key=value/`` subdirectories of
statistical files, one manifest per subdirectory (round 13).

The canonical 100-TB lake layout is partitioned by source/date. This
writer lands it in ONE pass: ``df.repartition(*keys)`` co-locates
each key combination in exactly one task (hash partitioning maps a
key to one partition), the task splits its Arrow stream by key and
writes complete files into ``dir/k1=v1/k2=v2/`` with the distributed
sink's own task body (``write_sink_part``: per-chunk plan, then the
shared ``write_partition_file``), and the driver publishes one
``_prs_stats.json`` per subdirectory from the collected task stats
(``publish_task_results``, shared with writers/partitioned.py).

Design departures from Hive, deliberate:

- **Key columns STAY IN the data files.** A Hive layout drops them
  and re-derives values from paths; here every file carries the key
  as a constant column, so the zone maps give EXACT pruning on it —
  min==max constant entries refute ``=``, ``IN``, ranges, and (via
  the r12 negated-constant rule) ``key != X`` — without any
  path-parsing machinery in the reader. The directory layout buys
  human navigation, glob scoping (``lake/year=2024/*.dta``,
  ``lake/*/*.dta`` — per-dir manifests merge at plan time), and
  incremental per-partition reprocessing.
- **One file per key per ~chunk_rows rows.** A skewed key's output
  is flushed in bounded chunks so task memory never holds more than
  one chunk of one key (plus the in-flight accumulation of others).
  File names are deterministic per (task partition, sequence), so
  task retries overwrite rather than duplicate.

Float/double partition keys are rejected (float directory names are
an interop trap in every lake format)."""

from __future__ import annotations

import os


def _render_key(v) -> str:
    """Directory-safe rendering of one partition value."""
    import datetime as dt
    from urllib.parse import quote

    if v is None:
        return "__null__"
    try:
        import numpy as np
        import pandas as pd

        if isinstance(v, float) and v != v:  # NaN group key
            return "__null__"
        if v is pd.NaT:
            return "__null__"
        if isinstance(v, np.generic):
            v = v.item()
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, dt.datetime):
        v = v.date()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    return quote(str(v), safe="-_.")


def write_readstat_hive(
    df,
    dir_path: str,
    ext: str = "dta",
    partition_by=(),
    chunk_rows: int = 4_000_000,
    **options,
):
    """Write ``df`` as ``dir/key=value/part-*.ext`` with per-subdir
    zone-map manifests. ``options`` pass through to the file writer
    (``zonemap_stripe_rows``, ``zonemap_bloom_columns``, ...).
    Returns [{"path", "n_rows"}, ...]."""
    from polars_readstat_spark.writers.spark_sink import (
        TASK_RESULT_SCHEMA,
        plan_write,
        publish_task_results,
        task_result_batch,
        write_sink_part,
    )

    keys = [str(k) for k in partition_by]
    if not keys:
        raise ValueError("write_readstat_hive: partition_by is required")
    fmt = ext.lstrip(".").lower()
    opts = {k: str(v) for k, v in options.items() if v is not None}
    opts["format"] = fmt
    cols = dict(zip(df.schema.names, df.schema.fields))
    for k in keys:
        f = cols.get(k)
        if f is None:
            raise ValueError(
                f"write_readstat_hive: partition column {k!r} not in "
                f"schema {df.schema.names}"
            )
        t = f.dataType.simpleString()
        if t in ("float", "double") or t.startswith("decimal"):
            raise ValueError(
                f"write_readstat_hive: partition column {k!r} has "
                f"fractional type {t} — float directory names are an "
                "interop trap; cast or bucket it first"
            )
    schema_plan = plan_write(df.schema, opts)
    from polars_readstat_spark.sources.fs import fs_makedirs

    fs_makedirs(dir_path)

    def task(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import (
            fs_join,
            fs_makedirs,
            fs_move,
        )

        pid = TaskContext.get().partitionId()
        pending: dict[tuple, list] = {}  # key -> [batches]
        pend_rows: dict[tuple, int] = {}
        seq: dict[tuple, int] = {}
        out_rows = []

        def flush(kt) -> None:
            bs = pending.pop(kt, None)
            pend_rows.pop(kt, 0)
            if not bs:
                return
            sub = dir_path
            for k, v in zip(keys, kt):
                sub = fs_join(sub, f"{k}={_render_key(v)}")
            fs_makedirs(sub)
            s = seq.get(kt, 0)
            seq[kt] = s + 1
            final = fs_join(sub, f"part-p{pid:05d}-{s:03d}.{fmt}")
            staged = fs_join(
                sub, f".staged-p{pid:05d}-{s:03d}-{os.getpid()}.{fmt}"
            )
            n, payload = write_sink_part(staged, bs, schema_plan, opts)
            fs_move(staged, final)
            out_rows.append((final, n, payload))

        for batch in batches:
            if batch.num_rows == 0:
                continue
            kdf = pa.Table.from_batches(
                [batch.select(keys)]
            ).to_pandas()
            groups = kdf.groupby(keys, dropna=False, sort=False).indices
            for kv, idx in groups.items():
                kt = kv if isinstance(kv, tuple) else (kv,)
                taken = batch.take(pa.array(idx))
                # slice the group into chunk-aligned pieces so one
                # giant input batch still honors chunk_rows
                off = 0
                while off < taken.num_rows:
                    room = chunk_rows - pend_rows.get(kt, 0)
                    n = min(room, taken.num_rows - off)
                    pending.setdefault(kt, []).append(
                        taken.slice(off, n)
                    )
                    pend_rows[kt] = pend_rows.get(kt, 0) + n
                    off += n
                    if pend_rows[kt] >= chunk_rows:
                        flush(kt)
        for kt in list(pending):
            flush(kt)
        if out_rows:
            yield task_result_batch(out_rows)

    # one manifest per subdirectory, from the collected task stats
    return publish_task_results(
        df.repartition(*keys).mapInArrow(task, TASK_RESULT_SCHEMA).collect()
    )
