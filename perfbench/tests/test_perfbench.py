"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about 30-40 s each on a 4-core VM).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

# seeds far from those of measurement runs, so their cached inputs
# in the shared work dir are not disturbed
SEED = 990_001


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(root, *args, timeout=300):
    """Run the benchmark of checkout ``root`` from that checkout."""
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_same_seed_same_fixture_hashes(tmp_path):
    def make(work, seed):
        fx = wl.Fixtures(str(work), "scan_wide", "tiny", seed)
        fx.make_spark_free()
        return fx.hashes(), fx.expected()

    a = make(tmp_path / "a", 7)
    b = make(tmp_path / "b", 7)
    c = make(tmp_path / "c", 8)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]
    assert wl.expected_values("export_scan_fed", "tiny", 7) == wl.expected_values("export_scan_fed", "tiny", 7)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    fake = {"lat": [1.0, 2.0], "cpu_s_per_op": [2.0, 2.0], "peak_rss": 2**20}
    r = run.Run(type("A", (), {"workload": "scan_wide", "shape": "tiny", "seed": 0})())
    e2e = run._end_to_end(r, 2.0, fake)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: v["unit"] for k, v in e2e.items()}
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _ in tracing.PER_LAYER]
    assert [m["unit"] for m in spec["per_layer"]] == [u for _, u in tracing.PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_tiny_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", str(SEED), "--seconds", "2", "--trace", str(trace), "--shape", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2].split(" ", 2)[2])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert report["error_rate"] == 0
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "export_scan_fed":
        assert result["metrics"]["write.upstream_scans"]["value"] >= 1
        assert len(report["upstream_scans_per_op"]) == 1


def test_flipped_fixture_reports_errors():
    seed = SEED + 1
    fx = wl.Fixtures(run.WORK, "scan_wide", "tiny", seed)
    shutil.rmtree(fx.dir, ignore_errors=True)
    try:
        fx.make_spark_free()
        n, n_num, n_str = wl.SHAPES["scan_wide"]["tiny"]
        size = os.path.getsize(fx.source)
        with open(fx.source, "r+b") as fh:
            # high byte (sign and exponent) of the first row's first double
            fh.seek(size - n * (n_num + n_str) * 8 + 7)
            b = fh.read(1)
            fh.seek(-1, 1)
            fh.write(bytes([b[0] ^ 0x40]))
        p = _run(ROOT, "--workload", "scan_wide", "--seed", str(seed), "--seconds", "1", "--shape", "tiny")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert p.returncode != 0
        assert not result["correct"] and result["failed"] >= 1
    finally:
        shutil.rmtree(fx.dir, ignore_errors=True)


def test_refuses_without_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "scan_wide", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
