"""Benchmark of polars_readstat_spark: one closed-loop client on one
driver thread, Spark local[<half the cores>], seeded inputs.

    python3 perfbench/run.py --workload scan_wide --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics.  The last line of stdout is the
result object; the line before it is a report with the latency tail,
error rate, fixture hashes and session configuration.  METHOD.md
describes the workloads, metrics and layers.
"""

import time

T0 = time.perf_counter()  # set-up is timed from the first statement

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "4g"  # local mode: the driver heap is the executor heap
# untimed operations before the loop.  On local[2] the JVM's CPU per
# wide-scan operation (mostly JIT compilation) falls from ~14 s to ~2 s
# over the first ~20-25 s of operations; the export settles from its
# third operation, after writing its source through the package's
# writer has warmed the shared paths.  Longer would not fit the time
# budget.
WARMUP_S = {"scan_wide": 22.0, "export_scan_fed": 10.0}
WARMUP_TINY_S = 1.0
CHILD_TIMEOUT_S = 120
# loop operations with a larger share of the VM's CPU time stolen by
# the hypervisor are set aside (see Run.loop)
STEAL_MAX = 0.03

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import workloads as wl  # noqa: E402


def _host_cores() -> int:
    return len(os.sched_getaffinity(0))


def _cores() -> int:
    """Spark's task slots: half the cores.  Each running task keeps a
    JVM thread and a Python worker busy, so local[<all cores>] runs
    more threads than there are cores; on 4 cores it made operations
    slower than local[2], with ~1.5x the Python CPU per operation and a
    JIT warm-up twice as long, so the figures measured the scheduler."""
    return max(1, _host_cores() // 2)


def _confine_env() -> None:
    """Keep every file Spark, the JVM and the package write inside the
    work directory of this checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "cache", "spark-local", "logs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "XDG_CACHE_HOME": dirs["cache"],
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        }
    )


def _start_session(probe_path: str):
    """Fresh session through the package's own factory, ``register()``
    (ships the package zip), then the first 16-row scan (spawns the
    Python workers)."""
    import polars_readstat_spark as prs

    spark = prs.get_spark("perfbench", cpus=_cores())
    spark.sparkContext.setLogLevel("ERROR")
    prs.register(spark)
    rows = prs.scan_readstat(spark, probe_path, n_rows=16).collect()
    if len(rows) != 16:
        raise RuntimeError(f"set-up probe returned {len(rows)} rows")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its workers have exited."""
    from observe import ProcTree

    gw = spark.sparkContext._gateway
    proc = gw.proc
    left = [pid for pid in ProcTree(proc.pid).snapshot()["pids"] if pid != proc.pid]
    spark.stop()
    gw.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    for pid in left:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark" not in fh.read():
                    continue  # exited, and the pid was reused
            os.kill(pid, 9)
        except (FileNotFoundError, ProcessLookupError):
            continue
        for _ in range(50):
            if not os.path.exists(f"/proc/{pid}"):
                break
            time.sleep(0.1)


def _spawn(args: list[str], log: str) -> subprocess.Popen:
    """Start this script in a fresh process (stderr to ``log``)."""
    with open(log, "w") as err:
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *args],
            stdout=subprocess.PIPE,
            stderr=err,
            text=True,
            cwd=ROOT,
        )


def _result(proc: subprocess.Popen, what: str) -> dict:
    """Wait for a child started by ``_spawn``; return its last stdout line."""
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError(f"{what} timed out after {CHILD_TIMEOUT_S} s") from None
    if proc.returncode != 0:
        raise RuntimeError(f"{what} failed (exit {proc.returncode}); see {WORK}/logs")
    return json.loads(out.strip().splitlines()[-1])


def _tail(lat: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(lat)
    if n < 11:
        return {"latency_tail_s": None, "percentile": None, "n": n, "note": "needs >= 11 ops"}
    s = sorted(lat)
    return {"latency_tail_s": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 2), "n": n}


class Run:
    def __init__(self, a):
        self.a = a
        self.work = WORK
        self.fx = wl.Fixtures(WORK, a.workload, a.shape, a.seed)
        self.out_dir = os.path.join(WORK, "out", f"{a.workload}-{a.shape}")
        self.reference_out = os.path.join(self.out_dir, "reference.sav")
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._mark, 3)
        self._mark = now

    # -- correctness -------------------------------------------------

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def warm_up(self, seconds: float) -> str | None:
        """Untimed operations for ``seconds`` so the JIT and the Python
        workers are warm when the loop starts.  An export's first
        operation writes the reference output; returns its hash
        (creation stamp masked), which every later export must match."""
        ref = None
        end = time.perf_counter() + seconds
        if self.a.workload == "export_scan_fed":
            self.attempted += 1
            try:
                wl.run_op(self.spark, self.fx, self.reference_out)
                ref = wl.sha256(self.reference_out, wl.SAV_STAMP)
            except Exception:  # noqa: BLE001 - counted, and later ops still run
                self._fail(f"reference export: {traceback.format_exc(limit=3)}")
        while time.perf_counter() < end:
            self.timed_op(ref, -1)
        return ref

    def check(self) -> None:
        """Untimed correctness check: the scan source's (or the export
        reference output's) row count and per-column sums must equal
        the generator's values."""
        self.attempted += 1
        path = self.fx.source if self.a.workload == "scan_wide" else self.reference_out
        try:
            errs = wl.check_sums(self.spark, path, self.fx.expected())
        except Exception:  # noqa: BLE001 - a failed check is counted, not fatal
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self._fail("; ".join(errs[:3]))

    def timed_op(self, ref_hash, k: int) -> float | None:
        """One timed op; returns its latency, or None when it failed."""
        self.attempted += 1
        out = os.path.join(self.out_dir, "out.sav")
        t0 = time.perf_counter()
        try:
            wl.run_op(self.spark, self.fx, out)
        except Exception:  # noqa: BLE001 - the loop keeps running
            self._fail(f"op {k}: {traceback.format_exc(limit=3)}")
            return None
        dt = time.perf_counter() - t0
        if self.a.workload == "export_scan_fed":
            got = wl.sha256(out, wl.SAV_STAMP)
            if got != ref_hash:
                self._fail(f"op {k}: output hash {got[:12]} != reference {str(ref_hash)[:12]}")
                return None
        return dt

    # -- phases ------------------------------------------------------

    def prepare(self) -> float:
        """Inputs, then the session; returns the set-up time.

        The inputs are written by a child process, so that this process
        has imported nothing but the standard library when the session
        starts.  Set-up runs from this process's first statement to the
        first 16-row scan result, less the time the child took."""
        os.makedirs(self.out_dir, exist_ok=True)
        fx_args = ["--fixtures", "--workload", self.a.workload, "--seed", str(self.a.seed), "--shape", self.a.shape]
        _result(_spawn(fx_args, os.path.join(WORK, "logs", "fixtures.log")), "fixture generation")
        self.phase("fixtures")
        self.spark = _start_session(self.fx.probe)
        setup_s = time.perf_counter() - T0 - self.phases["fixtures"]
        self.phase("setup")
        return setup_s

    def loop(self, ref_hash, on_op=None) -> dict:
        """Closed loop for --seconds of op time.  CPU of the JVM tree and
        the host's steal share are taken per operation from /proc; RSS
        is sampled over the loop.

        Operations during which the hypervisor gave more than
        ``STEAL_MAX`` of the VM's CPU time to other tenants (``steal``
        in /proc/stat) are set aside: at a 7-13% share, operations took
        40-50% longer than at under 3%.  At least the least-stolen half
        (rounded up) is always kept.  CPU time is not charged while the
        hypervisor runs another tenant, so CPU per operation is taken
        over every operation of the loop."""
        from observe import ProcTree, RssSampler, cpu_steal

        tree = ProcTree(self.spark.sparkContext._gateway.proc.pid)
        sampler = RssSampler(tree).start()
        ops, busy, k = [], 0.0, 0  # ops: (s, jvm cpu s, py cpu s, steal)
        try:
            while busy < self.a.seconds:
                c0, s0 = tree.snapshot(), cpu_steal()
                t0 = time.perf_counter()
                if on_op is None:
                    dt = self.timed_op(ref_hash, k)
                else:
                    dt = on_op(k)
                busy += time.perf_counter() - t0
                c1, s1 = tree.snapshot(), cpu_steal()
                steal = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
                if dt is not None:
                    ops.append((dt, c1["jvm_cpu_s"] - c0["jvm_cpu_s"], c1["py_cpu_s"] - c0["py_cpu_s"], steal))
                k += 1
        finally:
            peak_rss, peak_workers = sampler.stop()
        ranked = sorted(ops, key=lambda o: o[3])
        keep = max((len(ops) + 1) // 2, sum(o[3] <= STEAL_MAX for o in ops))
        kept = ranked[:keep]
        return {
            "lat": [o[0] for o in kept],
            "jvm_cpu_s": [o[1] for o in kept],
            "py_cpu_s": [o[2] for o in kept],
            "peak_rss": peak_rss,
            "pyworkers": peak_workers,
            "peak_jvm_rss": sampler.peak_jvm_rss,
            "cpu_s_per_op": [o[1] + o[2] for o in ops],
            "steal_per_op": [o[3] for o in ops],
            "set_aside": len(ops) - len(kept),
        }

    def session_config(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "cores": _cores(),
            "host_cores": _host_cores(),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
            "spark_version": self.spark.version,
            "client": "closed loop, 1 client, 1 driver thread",
        }


def _end_to_end(r: Run, setup_s: float, m: dict) -> dict:
    lat = m["lat"]
    busy = sum(lat) or 1.0
    cpu = m["cpu_s_per_op"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_s": {"value": statistics.median(lat) if lat else 0.0, "unit": "s"},
        "cells_per_s": {"value": wl.cells_per_op(r.a.workload, r.a.shape) * len(lat) / busy, "unit": "cells/s"},
        "cpu_s_per_op": {"value": sum(cpu) / len(cpu) if cpu else 0.0, "unit": "s"},
        "peak_rss_mb": {"value": m["peak_rss"] / 2**20, "unit": "MB"},
    }


def main_run(a) -> int:
    r = Run(a)
    setup = r.prepare()
    try:
        r.fx.make_acs(r.spark)
        r.phase("source_write")
        ref = r.warm_up(WARMUP_S[a.workload] if a.shape == "full" else WARMUP_TINY_S)
        r.phase("warmup")
        if a.trace:
            import tracing

            metrics, extra = tracing.traced(r, ref)
        else:
            m = r.loop(ref)
            metrics = _end_to_end(r, setup, m)
            extra = {
                **_tail(m["lat"]),
                "latencies_s": m["lat"],
                "peak_jvm_rss_mb": m["peak_jvm_rss"] / 2**20,
                "pyworkers": m["pyworkers"],
                "cpu_s_per_op": m["cpu_s_per_op"],
                "steal_per_op": m["steal_per_op"],
                "ops_set_aside": m["set_aside"],
            }
        r.phase("loop")
        # after the loop: run before it, the check's Arrow collect grows
        # the JVM heap and makes the loop's peak RSS vary ~2x as much
        r.check()
        r.phase("check")
        report = {
            "workload": a.workload,
            "seed": a.seed,
            "shape": a.shape,
            "error_rate": r.failed / max(r.attempted, 1),
            "errors": r.errors[:5],
            "fixtures_sha256": r.fx.hashes(),
            "session": r.session_config(),
            **extra,
        }
    finally:
        _stop_session(r.spark)
    r.phase("stop")
    report["phases_s"] = r.phases
    print("perfbench report " + json.dumps(report), flush=True)
    result = {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if r.failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--shape", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs")
    p.add_argument("--fixtures", action="store_true", help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_readstat_spark", "__init__.py")):
        print(f"perfbench: no polars_readstat_spark package under {ROOT}", file=sys.stderr)
        return 2
    _confine_env()
    if a.workload is None:
        p.error("--workload is required")
    if a.fixtures:
        wl.Fixtures(WORK, a.workload, a.shape, a.seed).make_spark_free()
        print(json.dumps({"ok": True}), flush=True)
        return 0
    return main_run(a)


if __name__ == "__main__":
    sys.exit(main())
