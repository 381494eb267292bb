"""Warm best-of-N timing for the exports (guide §1).

Usage: python tools/time_exports.py [-nN] [sf_dir] fmt [fmt ...]

fmt ∈ dta, sav, zsav, xpt, por, sas7bdat, rle, rdc, ``part:<fmt>``
for any of those but por, ``wide:<fmt>`` or ``pack:<fmt>`` for any
plain fmt. A plain fmt writes the sf lineitem table to one file (the
unit bench.py's export_* entries time, without the sweep around it);
``part:<fmt>`` writes it with ``write_readstat_partitioned`` into a
fresh temp directory, one part-file per input partition;
``wide:<fmt>`` writes an ANES-shape frame to one file instead: 8,000
rows x 1,030 doubles of small integer codes, 5% missing, cached before
the first pass (8,240-byte sas7bdat rows). Each entry runs one untimed
warm pass then N timed passes, printing ``fmt: best med [runs...]``.

``pack:<fmt>`` times the pack kernel alone, in this process: it plans
the ``wide:`` frame once, collects its first 2,667 rows as one chunk
and runs ``layout(fmt).pack`` on them, printing the same line plus
the tracemalloc peak of one more, traced pass (``peak=...MiB``).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import tempfile
import time
import tracemalloc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        args = args[1:]

    # the part-file tasks import the package on the executors: their
    # Python workers inherit PYTHONPATH from the JVM this process starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from polars_readstat_spark.session import get_spark
    from polars_readstat_spark.tables import load_table

    spark = get_spark("time_exports")
    li = load_table(spark, sf_dir, "lineitem")
    out = tempfile.mkdtemp(prefix="time_exports_")

    def anes_wide():
        import numpy as np
        import pandas as pd

        r = np.arange(8_000, dtype=np.int64)[:, None]
        c = np.arange(1_030, dtype=np.int64)[None, :]
        codes = ((r * (2 * c + 7) + c) % (c % 9 + 2)).astype("float64")
        codes[(r * 31 + c * 17) % 20 == 0] = np.nan
        pdf = pd.DataFrame(codes, columns=[f"v{k}" for k in range(c.size)])
        wide = spark.createDataFrame(pdf).cache()
        wide.count()
        return wide

    def packer_for(fmt: str, wide):
        from polars_readstat_spark.writers import layout, plan_export, to_disk

        ext = "sas7bdat" if fmt in ("rle", "rdc") else fmt
        kw = {"compress": fmt} if ext != fmt else {}
        plan = plan_export(wide, ext, **kw)[0]
        pdf = (
            to_disk(wide, ext, plan.fields, plan.kinds)
            .limit(2_667)
            .toArrow()
            .to_pandas()
        )
        pack, plan = layout(ext).pack, plan.for_pack()
        return lambda: pack(plan, pdf)

    def writer_for(fmt: str, li):
        if fmt.startswith("part:"):
            from polars_readstat_spark import write_readstat_partitioned

            ext = fmt[len("part:"):]
            kw = {"compress": ext} if ext in ("rle", "rdc") else {}
            ext = "sas7bdat" if kw else ext
            return lambda: write_readstat_partitioned(
                li, tempfile.mkdtemp(prefix="part_", dir=out), ext=ext, **kw
            )
        if fmt == "dta":
            from polars_readstat_spark.writers.dta import write_dta

            return lambda: write_dta(li, f"{out}/li.dta")
        if fmt == "sav":
            from polars_readstat_spark.writers.sav import write_sav

            return lambda: write_sav(li, f"{out}/li.sav")
        if fmt == "zsav":
            from polars_readstat_spark.writers.sav import write_sav

            return lambda: write_sav(li, f"{out}/li.zsav")
        if fmt == "xpt":
            from polars_readstat_spark.writers.xpt import write_xpt

            return lambda: write_xpt(li, f"{out}/li.xpt")
        if fmt == "por":
            from polars_readstat_spark.writers.por import write_por

            return lambda: write_por(li, f"{out}/li.por")
        if fmt == "sas7bdat":
            from polars_readstat_spark.writers.sas7bdat import write_sas7bdat

            return lambda: write_sas7bdat(li, f"{out}/li.sas7bdat")
        if fmt in ("rle", "rdc"):
            from polars_readstat_spark.writers.sas7bdat import write_sas7bdat

            return lambda: write_sas7bdat(
                li, f"{out}/li_{fmt}.sas7bdat", compress=fmt
            )
        raise SystemExit(f"unknown fmt {fmt!r}")

    wide = None
    for fmt in args:
        kind, _, sub = fmt.rpartition(":")
        if kind in ("wide", "pack") and wide is None:
            wide = anes_wide()
        if kind == "wide":
            run = writer_for(sub, wide)
        elif kind == "pack":
            run = packer_for(sub, wide)
        else:
            run = writer_for(fmt, li)
        spark.sparkContext.setJobDescription(f"warm:export_{fmt}")
        run()
        runs = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"time:export_{fmt}:{i}")
            t0 = time.perf_counter()
            run()
            runs.append(time.perf_counter() - t0)
        peak = ""
        if kind == "pack":  # one more, traced pass
            tracemalloc.start()
            run()
            peak = f" peak={tracemalloc.get_traced_memory()[1] / 2**20:.1f}MiB"
            tracemalloc.stop()
        print(
            f"{fmt}: best={min(runs):.3f} med={statistics.median(runs):.3f} "
            f"runs={[round(r, 3) for r in runs]}{peak}",
            flush=True,
        )
        for d in glob.glob(os.path.join(out, "part_*")):
            shutil.rmtree(d)
    shutil.rmtree(out)
    spark.stop()


if __name__ == "__main__":
    main()
