"""Measurement from outside the package: the ``/proc`` process tree,
Spark's status store, driver-side spans around the writer transports,
and in-process replays of the plan, fetch, decode and pack layers.

Layer names follow the package's modules (METHOD.md has the map from
each metric to its layer and to the end-to-end metric it should move).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- /proc


def _stat(pid: int):
    """(ppid, own cpu s, reaped-children cpu s, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
        with open(f"/proc/{pid}/statm") as fh:
            rss = int(fh.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after the command: state ppid ... utime(11) stime(12)
    # cutime(13) cstime(14), counted from state = 0
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK, rss


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_steal() -> tuple[int, int]:
    """(steal, all) clock ticks of every CPU since boot, from /proc/stat:
    the time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


class ProcTree:
    """CPU and RSS of the JVM and every process below it (the Python
    workers Spark forks).  CPU of a descendant that exits moves into
    its parent's reaped-children time, which is summed too, so deltas
    stay whole across worker exits."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def snapshot(self) -> dict:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        tree, frontier = set(), [self.root]
        children: dict[int, list[int]] = {}
        for pid, s in stats.items():
            children.setdefault(s[0], []).append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in tree:
                tree.add(pid)
                frontier.extend(children.get(pid, ()))
        root = stats.get(self.root, (0, 0.0, 0.0, 0))
        below = tree - {self.root}
        return {
            "pids": sorted(tree),
            "jvm_cpu_s": root[1],
            "py_cpu_s": root[2] + sum(stats[p][1] + stats[p][2] for p in below),
            "rss": sum(stats[p][3] for p in tree),
            "jvm_rss": root[3],
            "pyworkers": sum(1 for p in below if "python" in _cmdline(p)),
        }


class RssSampler:
    """Background thread sampling the tree's summed RSS and Python
    worker count; ``stop()`` joins it and returns the peaks."""

    def __init__(self, tree: ProcTree, period_s: float = 0.1):
        self.tree, self.period = tree, period_s
        self.peak_rss = 0
        self.peak_jvm_rss = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            s = self.tree.snapshot()
            self.peak_rss = max(self.peak_rss, s["rss"])
            self.peak_jvm_rss = max(self.peak_jvm_rss, s["jvm_rss"])
            self.peak_workers = max(self.peak_workers, s["pyworkers"])
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> tuple[int, int]:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        return self.peak_rss, self.peak_workers


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory spans (name, start, end, parent, op) written at exit."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, start, end, op, parent=None) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end, "parent": parent, "op": op}
        )
        return len(self.items) - 1

    def self_times(self) -> dict:
        """Per span name: duration minus the union of its children."""
        kids: dict[int, list[dict]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.items:
            covered = union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- status store


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_stages(sc, group: str, wait_s: float = 5.0) -> list[dict]:
    """Jobs of a job group in submission order, each with its completed
    stages' metrics from ``statusStore().lastStageAttempt``.  Waits for
    the listener bus to record every job's completion."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    deadline = time.time() + wait_s
    while True:
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            jobs.append(
                {
                    "id": jid,
                    "callsite": jd.name(),
                    "start": _opt_ms(jd.submissionTime()),
                    "end": _opt_ms(jd.completionTime()),
                    "stage_ids": list(tracker.getJobInfo(jid).stageIds),
                }
            )
        if all(j["end"] is not None for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.05)
    for j in jobs:
        j["stages"] = []
        for sid in j["stage_ids"]:
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            first = _opt_ms(s.firstTaskLaunchedTime())
            j["stages"].append(
                {
                    "id": sid,
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "shuffle_read": s.shuffleReadBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "input": s.inputBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "start": first if first is not None else _opt_ms(s.submissionTime()),
                    "end": _opt_ms(s.completionTime()),
                    "task_max_s": _task_max_s(store, sid, s.attemptId(), s.numTasks()),
                }
            )
    return jobs


def _task_max_s(store, sid: int, attempt: int, n: int) -> float:
    tasks = store.taskList(sid, attempt, n)
    best = 0.0
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            best = max(best, m.get().executorRunTime() / 1000.0)
    return best


def classify(jobs: list[dict], transport_start: float | None = None) -> list[tuple[str, dict, dict]]:
    """(kind, job, stage) for every completed stage of one operation.

    - ``drain``: stages of ``toLocalIterator`` jobs (driver drain);
    - ``prepass``: stages of jobs submitted before the writer's
      transport started (the writer's pre-pass aggregation);
    - ``scan``: reads neither shuffle nor cached input, i.e. runs the
      data source (the noop scan, RangePartitioner sampling);
    - ``shuffle-map``: runs the data source and writes shuffle;
    - ``pack``: reads the shuffle on more than one task;
    - ``persisted-agg``: the rest (aggregates over the persisted pack
      output).
    Stages that run the data source are the ones with neither shuffle
    nor cache input: Python data-source scans report no input bytes."""
    out = []
    for j in jobs:
        for s in j["stages"]:
            source = s["shuffle_read"] == 0 and s["input"] == 0
            if j["callsite"].startswith("toLocalIterator"):
                kind = "drain"
            elif transport_start is not None and j["start"] < transport_start:
                kind = "prepass"
            elif source and s["shuffle_write"] == 0:
                kind = "scan"
            elif source:
                kind = "shuffle-map"
            elif s["shuffle_read"] > 0 and s["tasks"] > 1:
                kind = "pack"
            else:
                kind = "persisted-agg"
            s["reads_source"] = source
            out.append((kind, j, s))
    return out


# ------------------------------------------------ writer transports

TRANSPORTS = ("iter_ordered_packed", "iter_packed_chunks", "iter_arrow_chunks")


class DriverTap:
    """Wraps, for one operation, the calls the driver blocks in:

    - the package's writer transports: times the driver inside
      ``next()`` (waiting on the drain) against the consumer between
      items (assembling the file), and keeps the ``pack_fn``/``cast``
      it was handed so the kernel can be replayed;
    - ``scan_readstat`` (resolving the data source's schema) and
      ``DataFrame.collect`` (planning plus the job of an action, such
      as the writer's pre-pass), recorded as plain spans."""

    def __init__(self, spans: Spans):
        import polars_readstat_spark as prs
        import polars_readstat_spark.writers as w
        from pyspark.sql.classic.dataframe import DataFrame

        self.spans = spans
        self.targets = [(w, n) for n in TRANSPORTS] + [(prs, "scan_readstat"), (DataFrame, "collect")]
        self.orig = {(o, n): getattr(o, n) for o, n in self.targets}
        self.op = None
        self.op_span = None
        self.calls: list[dict] = []

    def __enter__(self):
        for o, n in self.targets:
            f = self.orig[(o, n)]
            setattr(o, n, self._wrap(n, f) if n in TRANSPORTS else self._timed(n, f))
        return self

    def __exit__(self, *exc):
        for (o, n), f in self.orig.items():
            setattr(o, n, f)

    def _timed(self, name, fn):
        tap = self

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tap.spans.add(name, t0, time.time(), tap.op, tap.op_span)

        return timed

    def _wrap(self, name, fn):
        tap = self

        def wrapped(df, *args, **kwargs):
            call = {
                "name": name,
                "df": df,
                "pack_fn": args[0] if args else kwargs.get("pack_fn"),
                "max_rows": (args[1] if len(args) > 1 else kwargs.get("max_rows", 8192)),
                "cast": kwargs.get("cast"),
            }
            if name == "iter_arrow_chunks":
                call["pack_fn"] = None
                call["max_rows"] = args[0] if args else kwargs.get("max_rows", 65536)
            tap.calls.append(call)
            it = fn(df, *args, **kwargs)
            try:
                while True:
                    t0 = time.time()
                    try:
                        item = next(it)
                    except StopIteration:
                        tap.spans.add(f"{name}.next", t0, time.time(), tap.op, tap.op_span)
                        return
                    t1 = time.time()
                    tap.spans.add(f"{name}.next", t0, t1, tap.op, tap.op_span)
                    yield item
                    tap.spans.add("assemble", t1, time.time(), tap.op, tap.op_span)
            finally:
                it.close()

        return wrapped


def replay_pack(call: dict, rows: int, reps: int = 3) -> float:
    """Seconds the captured pack kernel needs for ``rows`` rows, from
    the median time of one ``max_rows`` chunk packed in this process."""
    from pyspark.sql import functions as F

    if call.get("pack_fn") is None:
        return 0.0
    df, k = call["df"], int(call["max_rows"])
    if call.get("cast") is not None:
        tagged = df.limit(k).withColumn("__prs_mid", F.monotonically_increasing_id())
        tagged = tagged.withColumn("__prs_cid", F.lit(0).cast("bigint"))
        pdf = call["cast"](tagged).drop("__prs_mid", "__prs_cid").toPandas()
    else:
        pdf = df.limit(k).toPandas()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        call["pack_fn"](pdf)
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2] * rows / max(len(pdf), 1)


# --------------------------------------------------- source replays


def _raw_reader(r):
    while r is not None and not hasattr(r, "meta"):
        r = getattr(r, "inner", None)
    return r


def _byte_range(raw, part) -> tuple[int, int, int]:
    """(offset, length) a partition covers in the file, and the bytes of
    one row as stored."""
    m = raw.meta
    if hasattr(part, "first_page"):  # sas7bdat page range
        length = part.n_pages * m.page_length
        return m.header_length + part.first_page * m.page_length, length, m.row_length
    rw = m.record_width  # sav / dta row range
    return m.data_offset + part.start * rw, part.n * rw, rw


def replay_source(path: str, cores: int, reps: int = 3) -> dict:
    """Driver plan, byte fetch and decode of one full scan of ``path``,
    replayed in this process through the data source's own entry
    points (``schema``, ``reader().partitions()``, ``read``)."""
    from polars_readstat_spark.sources.datasource import ReadstatDataSource
    from polars_readstat_spark.sources.fs import fs_open

    opts = {"path": path, "target_parallelism": str(cores)}
    schema_t, parts_t = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        ds = ReadstatDataSource(dict(opts))
        schema = ds.schema()
        t1 = time.perf_counter()
        reader = ds.reader(schema)
        parts = reader.partitions()
        t2 = time.perf_counter()
        schema_t.append(t1 - t0)
        parts_t.append(t2 - t1)
    raw = _raw_reader(reader)
    fetch_s = fetch_bytes = useful = 0
    read_s = rows = batches = 0
    for part in parts:
        off, length, row_bytes = _byte_range(raw, part)
        t0 = time.perf_counter()
        with fs_open(path) as fh:
            fh.seek(off)
            got = len(fh.read(length))
        fetch_s += time.perf_counter() - t0
        fetch_bytes += got
        t0 = time.perf_counter()
        part_rows = 0
        for b in reader.read(part):  # Arrow batches (or single rows)
            part_rows += getattr(b, "num_rows", 1)
            batches += 1
        read_s += time.perf_counter() - t0
        rows += part_rows
        # every column is read, so the useful bytes are the rows the
        # partition yields, as stored (capped for compressed pages)
        useful += min(part_rows * row_bytes, got)
    ncols = len(schema.fields)
    decode_s = max(read_s - fetch_s, 0.0)
    schema_t.sort()
    parts_t.sort()
    return {
        "plan.schema_s": schema_t[len(schema_t) // 2],
        "plan.partitions_s": parts_t[len(parts_t) // 2],
        "plan.n_partitions": len(parts),
        "fetch.s": fetch_s,
        "fetch.bytes": fetch_bytes,
        "fetch.useful_ratio": useful / fetch_bytes if fetch_bytes else 0.0,
        "decode.s": decode_s,
        "decode.rows": rows,
        "decode.batches": batches,
        "decode.cells_per_s": rows * ncols / decode_s if decode_s else 0.0,
    }
