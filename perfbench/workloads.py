"""Seeded inputs, operations and correctness checks of the benchmark.

Two workloads (see METHOD.md for why these two):

- ``scan_wide``: full-width scan of an ANES-shape SPSS ``.sav`` (1,020
  doubles + 10 strings) into Spark's noop sink.
- ``export_scan_fed``: ``write_readstat(scan_readstat(acs.sas7bdat),
  out.sav)`` over an ACS-shape source (numeric codes stored at SAS
  length 4, a few strings, 100k rows so the ordered packed transport
  runs).

Every value is ``(row * a + b) % m`` with ``a, b, m`` drawn from the
seed, so the expected per-column sums are computed here with numpy,
independently of the code under test.  Nothing in this module imports
Spark or numpy at import time: ``run.py`` times process set-up from its
first statement.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

# (rows, numeric columns, string columns) per workload and shape.
# "tiny" is the smoke-test shape used by the benchmark's own tests.
SHAPES = {
    "scan_wide": {"full": (8_000, 1_020, 10), "tiny": (300, 20, 2)},
    "export_scan_fed": {"full": (100_000, 24, 3), "tiny": (2_000, 6, 2)},
}
WORKLOADS = tuple(SHAPES)
PROBE_ROWS = 64
# SAS LENGTH 4 keeps integers below 2**19 exact; every code is far below
ACS_NUMERIC_LENGTH = 4
# header bytes of a .sav that hold the writer's wall-clock creation
# stamp (date at 84+8, time after it); masked when hashing outputs
SAV_STAMP = slice(92, 109)


def _params(seed: int, workload: str, n_num: int, n_str: int) -> dict:
    import numpy as np

    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    return {
        "a": rng.integers(1, 1_000, n_num + n_str).tolist(),
        "b": rng.integers(0, 1_000, n_num + n_str).tolist(),
        "m": rng.integers(3, 200, n_num).tolist(),
        "tags": [
            "".join(chr(97 + int(x)) for x in rng.integers(0, 26, 2))
            for _ in range(n_str)
        ],
    }


def _codes(n: int, a: int, b: int, m: int):
    import numpy as np

    return (np.arange(n, dtype=np.int64) * a + b) % m


def _str_mod(workload: str) -> int:
    return 500 if workload == "scan_wide" else 50


def _digits(x):
    import numpy as np

    return np.where(x >= 100, 3, np.where(x >= 10, 2, 1))


def expected_values(workload: str, shape: str, seed: int) -> dict:
    """Row count and per-column sums (numeric: sum of non-missing
    values; string: sum of lengths) the scan or export must reproduce."""
    n, n_num, n_str = SHAPES[workload][shape]
    p = _params(seed, workload, n_num, n_str)
    sums = {}
    for i in range(n_num):
        c = _codes(n, p["a"][i], p["b"][i], p["m"][i])
        if workload == "scan_wide":
            c = c[c != p["m"][i] - 1]  # top code is stored as sysmis
        sums[f"v{i}"] = float(c.sum())
    for j in range(n_str):
        k = _codes(n, p["a"][n_num + j], p["b"][n_num + j], _str_mod(workload))
        sums[f"s{j}"] = float((len(p["tags"][j]) + _digits(k)).sum())
    return {"rows": n, "sums": sums}


def _wide_sav_bytes(n: int, n_num: int, n_str: int, p: dict) -> bytes:
    """Uncompressed SPSS system file (PSPP system-file layout: header,
    type-2 variable records, type-7 subtypes 3/4, 999, cases).

    Written here rather than by the package's writer so that the scan
    input does not depend on the code under test, and so that making
    it needs no Spark job (the package writer takes ~30 s through
    Spark at this width)."""
    import numpy as np

    case_size = n_num + n_str
    out = bytearray(b"$FL2" + b"@(#) SPSS DATA FILE - perfbench".ljust(60))
    out += struct.pack("<5i", 2, case_size, 0, 0, n)
    out += struct.pack("<d", 100.0) + b"01 Jan 26" + b"00:00:00"
    out += b" " * 64 + b"\x00" * 3
    f8 = (5 << 16) | (8 << 8) | 0
    a8 = (1 << 16) | (8 << 8)
    for i in range(n_num):
        out += struct.pack("<6i", 2, 0, 0, 0, f8, f8) + f"v{i}".encode().ljust(8)
    for j in range(n_str):
        out += struct.pack("<6i", 2, 8, 0, 0, a8, a8) + f"s{j}".encode().ljust(8)
    out += struct.pack("<4i", 7, 3, 4, 8) + struct.pack("<8i", 1, 0, 0, -1, 1, 0, 2, 65001)
    big = np.finfo(np.float64).max
    out += struct.pack("<4i", 7, 4, 8, 3) + struct.pack("<3d", -big, big, -np.nextafter(big, 0))
    out += struct.pack("<2i", 999, 0)

    num = np.empty((n, n_num), dtype="<f8")
    for i in range(n_num):
        c = _codes(n, p["a"][i], p["b"][i], p["m"][i]).astype(np.float64)
        c[c == p["m"][i] - 1] = -big  # SPSS system-missing
        num[:, i] = c
    cells = np.full((n, n_str * 8), 0x20, dtype=np.uint8)
    for j in range(n_str):
        k = _codes(n, p["a"][n_num + j], p["b"][n_num + j], _str_mod("scan_wide"))
        vals = np.char.add(p["tags"][j], k.astype("U3")).astype("S8")
        raw = vals.view(np.uint8).reshape(n, 8)
        cells[:, j * 8:(j + 1) * 8] = np.where(raw == 0, 0x20, raw)
    body = np.hstack([num.view(np.uint8).reshape(n, n_num * 8), cells])
    return bytes(out) + body.tobytes()


def _probe_dta(path: str, seed: int) -> None:
    """Small .dta for the set-up probe's 16-row scan, written by pandas
    (independent of the package)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    pd.DataFrame(
        {
            "a": rng.integers(0, 100, PROBE_ROWS).astype(np.int32),
            "b": rng.random(PROBE_ROWS),
        }
    ).to_stata(path, write_index=False, version=118)


def sha256(path: str, mask: slice | None = None) -> str:
    with open(path, "rb") as fh:
        data = bytearray(fh.read())
    if mask is not None:
        data[mask] = b"\x00" * len(data[mask])
    return hashlib.sha256(data).hexdigest()


class Fixtures:
    """Per-(workload, shape, seed) input directory under the work dir,
    reused when the same seed runs again; older seeds are pruned."""

    KEEP = 2

    def __init__(self, work: str, workload: str, shape: str, seed: int):
        self.workload, self.shape, self.seed = workload, shape, seed
        root = os.path.join(work, "fixtures")
        self.dir = os.path.join(root, f"{workload}-{shape}-{seed}")
        self.manifest = os.path.join(self.dir, "manifest.json")
        self.probe = os.path.join(self.dir, "probe.dta")
        ext = "sav" if workload == "scan_wide" else "sas7bdat"
        self.source = os.path.join(self.dir, f"source.{ext}")
        self._root = root

    def make_spark_free(self) -> None:
        """Everything that needs no Spark session: the probe file, the
        wide .sav and the expected values.  The ACS source is written
        later through the package's public writer (``make_acs``)."""
        if os.path.exists(self.manifest):
            os.utime(self.dir)
            return
        self._prune()
        os.makedirs(self.dir, exist_ok=True)
        _probe_dta(self.probe, self.seed)
        if self.workload == "scan_wide":
            n, n_num, n_str = SHAPES[self.workload][self.shape]
            p = _params(self.seed, self.workload, n_num, n_str)
            tmp = self.source + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(_wide_sav_bytes(n, n_num, n_str, p))
            os.replace(tmp, self.source)
        with open(self.manifest + ".tmp", "w") as fh:
            json.dump(expected_values(self.workload, self.shape, self.seed), fh)
        os.replace(self.manifest + ".tmp", self.manifest)

    def make_acs(self, spark) -> None:
        """Write the export's ACS-shape source through the package's
        public writer (the one step that needs the Spark session)."""
        if self.workload != "export_scan_fed" or os.path.exists(self.source):
            return
        from pyspark.sql import functions as F

        from polars_readstat_spark import write_readstat

        n, n_num, n_str = SHAPES[self.workload][self.shape]
        p = _params(self.seed, self.workload, n_num, n_str)
        code = lambda k, m: (F.col("id") * p["a"][k] + p["b"][k]) % m  # noqa: E731
        cols = [code(i, p["m"][i]).cast("double").alias(f"v{i}") for i in range(n_num)]
        cols += [
            F.concat(F.lit(p["tags"][j]), code(n_num + j, 50).cast("string")).alias(f"s{j}")
            for j in range(n_str)
        ]
        tmp = self.source + ".tmp.sas7bdat"
        write_readstat(
            spark.range(n).select(*cols),
            tmp,
            numeric_lengths={f"v{i}": ACS_NUMERIC_LENGTH for i in range(n_num)},
        )
        os.replace(tmp, self.source)

    def expected(self) -> dict:
        with open(self.manifest) as fh:
            return json.load(fh)

    def hashes(self) -> dict:
        return {
            os.path.basename(p): sha256(p)
            for p in (self.probe, self.source)
            if os.path.exists(p)
        }

    def _prune(self) -> None:
        if not os.path.isdir(self._root):
            return
        prefix = f"{self.workload}-{self.shape}-"
        dirs = sorted(
            (os.path.join(self._root, d) for d in os.listdir(self._root) if d.startswith(prefix)),
            key=os.path.getmtime,
        )
        for d in dirs[: max(len(dirs) - self.KEEP + 1, 0)]:
            shutil.rmtree(d, ignore_errors=True)


def cells_per_op(workload: str, shape: str) -> int:
    n, n_num, n_str = SHAPES[workload][shape]
    return n * (n_num + n_str)


def run_op(spark, fx: Fixtures, out_path: str | None) -> None:
    """One operation of the workload, consumed to completion."""
    import polars_readstat_spark as prs

    df = prs.scan_readstat(spark, fx.source)
    if fx.workload == "scan_wide":
        df.write.format("noop").mode("overwrite").save()
    else:
        prs.write_readstat(df, out_path)


def check_sums(spark, path: str, expected: dict) -> list[str]:
    """Scan ``path`` through the package, collect it as Arrow and
    compare the row count and every per-column sum with ``expected``;
    returns the mismatches.  (One Spark aggregate per column costs
    ~19 s of code generation at 1,030 columns; the Arrow collect ~2 s.)"""
    import pyarrow.compute as pc

    import polars_readstat_spark as prs

    sums = expected["sums"]
    tbl = prs.scan_readstat(spark, path).toArrow()
    missing = sorted(set(sums) - set(tbl.column_names))
    if missing:
        return [f"{path}: missing columns {missing[:5]}"]
    errors = []
    if tbl.num_rows != expected["rows"]:
        errors.append(f"{path}: {tbl.num_rows} rows, expected {expected['rows']}")
    for c, want in sums.items():
        col = tbl.column(c)
        if c.startswith("s"):
            col = pc.utf8_length(col)
        # a sum over only nulls is null: a column whose codes are all
        # the missing code sums to 0 in the expected values
        got = pc.sum(col).as_py() or 0.0
        if float(got) != want:
            errors.append(f"{path}: sum({c}) = {got}, expected {want}")
    return errors
