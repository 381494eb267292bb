"""The traced run (``--trace 1``): per-operation job groups and stage
metrics, spans around the writer transports, and in-process replays of
the source and pack layers.  Prints the per-layer metrics of
BENCHMARK.json; spans are written to ``.work/traces`` at exit."""

from __future__ import annotations

import json
import os
import statistics
import time

import observe as ob

# (name, unit); BENCHMARK.json lists the same names
PER_LAYER = [
    ("plan.schema_s", "s"),
    ("plan.partitions_s", "s"),
    ("plan.n_partitions", "count"),
    ("fetch.s", "s"),
    ("fetch.bytes", "bytes"),
    ("fetch.useful_ratio", "ratio"),
    ("decode.s", "s"),
    ("decode.rows", "count"),
    ("decode.batches", "count"),
    ("decode.cells_per_s", "cells/s"),
    ("scan.tasks", "count"),
    ("scan.task_s_sum", "s"),
    ("scan.task_s_max", "s"),
    ("scan.jvm_cpu_s", "s"),
    ("scan.boundary_s", "s"),
    ("scan.slot_idle_s", "s"),
    ("write.prepass_s", "s"),
    ("write.sample_s", "s"),
    ("write.upstream_scans", "count"),
    ("write.shuffle_bytes", "bytes"),
    ("write.spill_bytes", "bytes"),
    ("write.pack_task_s", "s"),
    ("write.pack_kernel_s", "s"),
    ("write.drain_s", "s"),
    ("write.drain_jobs", "count"),
    ("write.assemble_s", "s"),
    ("write.bytes_out", "bytes"),
    ("write.accounted_share", "ratio"),
    ("proc.jvm_cpu_s", "s"),
    ("proc.pyworker_cpu_s", "s"),
    ("proc.pyworkers", "count"),
    ("trace.op_s", "s"),
]


def _op_metrics(jobs, spans: ob.Spans, op_span: int, cores: int, export: bool, out_path: str) -> dict:
    """Per-layer numbers of one operation from its job group."""
    op = spans.items[op_span]
    kids = [s for s in spans.items if s["parent"] == op_span]
    starts = [s["start"] for s in kids if s["name"].endswith(".next")]
    stages = ob.classify(jobs, min(starts) if starts else None)
    for kind, job, _ in stages:
        if "span" not in job:
            job["span"] = spans.add(f"job:{kind}", job["start"], job["end"] or op["end"], op["op"], op_span)
    src = [s for _, _, s in stages if s["reads_source"]]

    def job_union(kinds):
        return ob.union_length(
            {(j["start"], j["end"]) for k, j, _ in stages if k in kinds and j["end"] is not None}
        )

    m = {
        "scan.tasks": sum(s["tasks"] for s in src),
        "scan.task_s_sum": sum(s["run_s"] for s in src),
        "scan.task_s_max": max((s["task_max_s"] for s in src), default=0.0),
        "scan.jvm_cpu_s": sum(s["cpu_s"] for s in src),
        "scan.slot_idle_s": sum(max((s["end"] - s["start"]) * cores - s["run_s"], 0.0) for s in src),
        "scan.stages": len(src),
    }
    zero = {n: 0 for n, _ in PER_LAYER if n.startswith("write.")}
    if not export:
        return {**m, **zero}
    assemble = [(s["start"], s["end"]) for s in kids if s["name"] == "assemble"]
    # driver-side blocking: transport next() (the drain), actions and
    # the data source's schema resolution
    waits = [(s["start"], s["end"]) for s in kids if s["name"] != "assemble"]
    jobs_iv = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    wall = op["end"] - op["start"]
    m.update(
        {
            "write.prepass_s": job_union({"prepass"}),
            "write.sample_s": job_union({"scan"}),
            "write.upstream_scans": len(src),
            "write.shuffle_bytes": sum(s["shuffle_write"] for k, _, s in stages if k == "shuffle-map"),
            "write.spill_bytes": sum(s["spill"] for _, _, s in stages),
            "write.pack_task_s": sum(s["run_s"] for k, _, s in stages if k == "pack"),
            "write.drain_s": job_union({"drain"}),
            "write.drain_jobs": sum(1 for j in jobs if j["callsite"].startswith("toLocalIterator")),
            "write.assemble_s": sum(e - s for s, e in assemble),
            "write.bytes_out": os.path.getsize(out_path),
            "write.accounted_share": ob.union_length(jobs_iv + waits + assemble) / wall if wall else 0.0,
        }
    )
    return m


def traced(run, ref_hash) -> tuple[dict, dict]:
    spark = run.spark
    sc = spark.sparkContext
    cores = int(sc.defaultParallelism)
    export = run.a.workload == "export_scan_fed"
    out_path = os.path.join(run.out_dir, "out.sav")
    spans = ob.Spans()
    tap = ob.DriverTap(spans)
    per_op: list[dict] = []
    walls: list[float] = []

    def on_op(k: int):
        group = f"perfbench-op-{k}"
        sc.setJobGroup(group, "perfbench traced op", False)
        t0 = time.time()
        op_span = spans.add("op", t0, t0, k)
        tap.op, tap.op_span = k, op_span
        with tap:
            dt = run.timed_op(ref_hash, k)
        if dt is None:
            return None
        spans.items[op_span]["end"] = t0 + dt
        walls.append(dt)
        per_op.append(_op_metrics(ob.job_stages(sc, group), spans, op_span, cores, export, out_path))
        return dt

    loop = run.loop(ref_hash, on_op)
    sc.setJobGroup("perfbench-replay", "perfbench replay", False)
    t0 = time.time()
    src = ob.replay_source(run.fx.source, cores)
    spans.add("replay.source", t0, time.time(), None)
    metrics = {n: statistics.median(m[n] for m in per_op) for n in (per_op[0] if per_op else ())}
    metrics.update(src)
    scans = metrics.pop("scan.stages", 1) or 1
    metrics["scan.boundary_s"] = metrics.get("scan.task_s_sum", 0.0) - (src["fetch.s"] + src["decode.s"]) * scans
    pack_calls = [c for c in tap.calls if c.get("pack_fn") is not None]
    if export and pack_calls:
        t0 = time.time()
        metrics["write.pack_kernel_s"] = ob.replay_pack(pack_calls[-1], src["decode.rows"])
        spans.add("replay.pack", t0, time.time(), None)
    else:
        metrics["write.pack_kernel_s"] = 0.0
    metrics.update(
        {
            "proc.jvm_cpu_s": statistics.median(loop["jvm_cpu_s"]) if walls else 0.0,
            "proc.pyworker_cpu_s": statistics.median(loop["py_cpu_s"]) if walls else 0.0,
            "proc.pyworkers": loop["pyworkers"],
            "trace.op_s": statistics.median(walls) if walls else 0.0,
        }
    )
    upstream = sorted({m["write.upstream_scans"] for m in per_op})
    trace_dir = os.path.join(run.work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{run.a.workload}-{run.a.shape}-{run.a.seed}.json")
    with open(trace_path, "w") as fh:
        json.dump({"spans": spans.items}, fh)
    units = dict(PER_LAYER)
    out = {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in units}
    extra = {
        "traced_ops": len(walls),
        "upstream_scans_per_op": upstream,
        "self_s": {k: round(v, 4) for k, v in spans.self_times().items()},
        "trace_file": os.path.relpath(trace_path, os.path.dirname(os.path.dirname(run.work))),
    }
    return out, extra
