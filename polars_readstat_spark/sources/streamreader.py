"""Structured Streaming source: file-arrival ingest of statistical
files.

``spark.readStream.format("readstat").load(dir_or_glob)`` turns a
landing directory of dta/sav/xpt/por/sas7bdat files into an unbounded
DataFrame: each microbatch picks up files that appeared since the last
offset, and each file decodes inside executor tasks with the same
partition readers the batch scan uses. The offset is the sorted list
of ingested files, so replay from a checkpoint re-decodes exactly the
files between two offsets — deterministic because landed files are
immutable.

This is a Spark-native extension surface: the reference engine is
batch-only (SURVEY.md §2.8 — no streaming), but a statistical-file
landing zone is exactly how survey/administrative data arrives in
practice (nightly drops), and Structured Streaming's checkpointing
gives restart-safe ingest for free.

Scale notes (VERDICT r10 next#3): the micro-batch planner reuses the
BATCH multi-file planner (``ReadstatDataSource._multi_reader``), so a
batch's new files get the same treatment a batch scan gives a
directory — every file fans out to its inner row-range partitions (a
single big nightly drop reads on many cores, not one), and tiny files
pack into ~48 MB bins charged 1 MB open-cost each (a 1,000-tiny-file
arrival schedules ~cores tasks, not 1,000 task floors). Offsets carry
file names only (bytes re-read from storage on replay, never stored
in the checkpoint). Files must land atomically (write-then-rename) so
a half-written file is never listed. Listings go through the
filesystem seam, so a landing zone on s3://-style storage streams the
same as a local directory.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition


def _list_files(path: str) -> list[str]:
    from polars_readstat_spark.sources import fs as _fs
    from polars_readstat_spark.sources.datasource import is_data_file

    if _fs.fs_isdir(path):
        return sorted(f for f in _fs.fs_listdir(path) if is_data_file(f))
    return sorted(f for f in _fs.fs_glob(path) if is_data_file(f))


class StreamUnitsPartition(InputPartition):
    """One scheduled task of a micro-batch: a list of
    (file_options, inner_partition, path) units — either one unit (a
    slice of a big file) or a packed group of small files. Units
    carry OPTION DICTS, not reader objects: a wide file's parsed
    metadata (1000+ variable records) would otherwise be pickled once
    per inner partition per micro-batch. The executor rebuilds each
    reader from its options — the metadata parse is memoized per
    worker process and backed by the persistent sidecars, so only the
    first task per (worker, file) pays it."""

    def __init__(self, units: list, union: bool):
        self.units = units
        self.union = union


class ReadstatStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("readstat stream: path required")
        self._schema = schema
        # include_existing=false starts from the current directory
        # state instead of ingesting what's already there
        v = str(self.options.get("include_existing", "true")).lower()
        self.include_existing = v in {"1", "true", "yes"}
        # max_file_age_sec bounds offset growth on long-lived landing
        # zones: the offset keeps only files whose mtime is within
        # this window of the newest file (Spark's own FileStreamSource
        # maxFileAge design). Files outside the window are simply
        # outside the stream's scope — trimmed after ingestion, and
        # never ingested if they were already too old at start or land
        # backdated. Off by default — offsets then carry the exact
        # full file list (100k files ≈ MBs per checkpoint commit), and
        # nothing is ever skipped. Requires atomically-landed files
        # with sane mtimes, which the source already assumes.
        age = self.options.get("max_file_age_sec")
        self.max_age_ns = (
            int(float(age) * 1e9) if age not in (None, "") else None
        )
        # explicit reader-side filter (round 13): the same hazard-free
        # `where` conjunction the batch scan takes — parsed once at
        # stream start (plan-time error surface), applied batch-side
        # in every task, and used at micro-batch PLANNING to drop or
        # trim landed files/row-spans whose zone maps refute it.
        # Ingestion bookkeeping is untouched: a fully-refuted file is
        # still committed as seen (offsets are listings, not plans).
        w = self.options.get("where")
        if w:
            from polars_readstat_spark.sources.filters import parse_where

            self._where = parse_where(w, set(schema.fieldNames()))
        else:
            self._where = None

    def _listing(self) -> dict:
        """Current-offset dict: full listing, or the age-compacted
        (seen, horizon) form when max_file_age_sec is set."""
        files = _list_files(self.path)
        if self.max_age_ns is None or not files:
            return {"seen": files}
        from polars_readstat_spark.sources.fs import fs_stat

        mt = {f: fs_stat(f)[1] for f in files}
        horizon = max(mt.values()) - self.max_age_ns
        return {
            "seen": [f for f in files if mt[f] >= horizon],
            "horizon": horizon,
        }

    def initialOffset(self) -> dict:
        if self.include_existing:
            return {"seen": []}
        return self._listing()

    def latestOffset(self) -> dict:
        return self._listing()

    def partitions(self, start: dict, end: dict):
        from polars_readstat_spark.sources.datasource import (
            MultiPartGroup,
            ReadstatDataSource,
        )

        prev = set(start.get("seen", []))
        new = [f for f in end.get("seen", []) if f not in prev]
        prev_h = start.get("horizon")
        if prev_h is not None and new:
            # age-compacted offsets: a name absent from prev.seen with
            # an mtime older than prev's horizon was trimmed as
            # already-ingested, not newly landed — re-reading it would
            # duplicate rows on every replay. (A genuinely NEW file
            # backdated past the window is skipped — the documented
            # maxFileAge trade.) fs_stat rides the LIST's hints.
            from polars_readstat_spark.sources.fs import fs_stat

            def _fresh(f: str) -> bool:
                try:
                    return fs_stat(f)[1] >= prev_h
                except OSError:
                    return False  # vanished since the listing

            new = [f for f in new if _fresh(f)]
        if not new:
            return []
        opts = dict(self.options)
        opts["path"] = self.path
        union = str(opts.get("union_by_name", "")).lower() in {
            "1",
            "true",
            "yes",
        }
        ds = ReadstatDataSource(opts)
        # drift-tolerant landing zone: the stream's schema is fixed at
        # start (first file / initial union); later files align per
        # batch — absent columns read as null, widened numerics cast,
        # unknown columns are projected away (a stream cannot widen
        # its schema mid-flight). align_fields pins that target.
        # per_file_slicing: n_rows/offset/row_index_name stay legal and
        # apply per landed file (the stream's pre-r11 semantics — there
        # is no Catalyst limit across a stream's files).
        mf = ds._multi_reader(
            self._schema,
            new,
            align_fields=list(self._schema.fields) if union else None,
            per_file_slicing=True,
        )
        if self._where:
            # reuse the batch prune/trim machinery wholesale: the
            # landing dir's _prs_stats.json (the sink publishes one)
            # drops refuted files and stripe-trims kept ones before
            # tasks are even scheduled
            from polars_readstat_spark.sources.filters import (
                WhereFilterReader,
            )

            wf = WhereFilterReader(mf, self._where)
            wf._str_stats_ok = ds._str_stats_ok()
            plan_parts = wf.partitions()
        else:
            plan_parts = mf.partitions()
        out = []
        for p in plan_parts:
            units = p.units if isinstance(p, MultiPartGroup) else [p]
            out.append(
                StreamUnitsPartition(
                    [
                        (
                            mf.file_opts[u.file_idx],
                            u.inner,
                            mf.paths[u.file_idx],
                        )
                        for u in units
                    ],
                    union,
                )
            )
        return out

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up: files stay in place

    def read(self, partition: StreamUnitsPartition):
        from polars_readstat_spark.sources.datasource import (
            MultiFileReader,
            MultiPart,
            MultiPartGroup,
            ReadstatDataSource,
            SchemaAlignReader,
        )

        # rebuild this task's readers from their option dicts (parsed
        # metadata comes from the worker-process memo / sidecars),
        # then reuse MultiFileReader's path_column append and the
        # across-unit prefetch pool for packed small-file groups
        units = partition.units
        readers = []
        for opts, _inner, _path in units:
            r = ReadstatDataSource(dict(opts))._reader_uncompressed(
                self._schema
            )
            if partition.union:
                r = SchemaAlignReader(r, list(self._schema.fields))
            readers.append(r)
        # group prefetch depth from the per-file opts (they carry the
        # remote io_readahead default injected at plan time; the raw
        # stream options may not)
        g_ra = int(units[0][0].get("io_readahead", 0) or 0) if units else 0
        mf = MultiFileReader(
            readers,
            [u[2] for u in units],
            self.options.get("path_column"),
            coalesce_target=0,
            group_readahead=g_ra,
        )
        inner = [MultiPart(i, u[1]) for i, u in enumerate(units)]
        part = inner[0] if len(inner) == 1 else MultiPartGroup(inner)
        if self._where:
            from polars_readstat_spark.sources.filters import (
                WhereFilterReader,
            )

            yield from WhereFilterReader(mf, self._where).read(part)
            return
        yield from mf.read(part)
