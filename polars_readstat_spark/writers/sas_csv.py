"""SAS CSV-import bundle writer — reference W6 re-expressed.

Writes a CSV data file plus a companion ``.sas`` DATA-step script that
recreates the dataset in SAS with types, formats, and labels (PROC
FORMAT for value labels, LENGTH/LABEL/FORMAT/INFORMAT statements).
No binary .sas7bdat is produced — run the script inside SAS.

Type handling matches the reference (reference __init__.py:1450-1476):
boolean → 0/1 length 3; date → days since 1960-01-01, yymmdd10.;
timestamp → seconds since 1960, datetime19.; time-ns → seconds,
time8.; string → $<max_bytes> from a pre-pass; narrow ints get LENGTH
statements (tinyint 3, smallint 4, int 5, float 4).

The CSV itself is written by Spark's native csv writer (distributed,
one shuffle-free pass) and coalesced driver-side into the single file
the SAS script expects.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_readstat_spark.writers import (
    SAS_DAY_SHIFT,
    SAS_SEC_SHIFT,
    column_kinds,
)


def _sas_name(name: str, seen: set, maxlen: int = 32) -> str:
    s = re.sub(r"[^A-Za-z0-9_]", "_", name) or "col"
    if not (s[0].isalpha() or s[0] == "_"):
        s = "_" + s
    s = s[:maxlen]
    cand, k = s, 1
    while cand.upper() in seen:
        sfx = str(k)
        cand = s[: maxlen - len(sfx)] + sfx
        k += 1
    seen.add(cand.upper())
    return cand


def write_sas_csv_import(
    df: DataFrame,
    path: str,
    dataset_name: str | None = None,
    value_labels: dict | None = None,
    variable_labels: dict | None = None,
    library: str | None = None,
    delete_csv_on_import: bool = False,
) -> tuple[str, str]:
    value_labels = value_labels or {}
    variable_labels = variable_labels or {}

    if os.path.isdir(path) or not os.path.splitext(path)[1]:
        out_dir = path
        stem = dataset_name or os.path.basename(os.path.normpath(path)) or "data"
    else:
        out_dir = os.path.dirname(path) or "."
        stem = dataset_name or os.path.splitext(os.path.basename(path))[0]
    os.makedirs(out_dir, exist_ok=True)
    seen_ds: set = set()
    ds = _sas_name(stem, seen_ds)
    csv_path = os.path.join(out_dir, f"{ds}.csv")
    sas_path = os.path.join(out_dir, f"{ds}.sas")

    fields = df.schema.fields
    seen: set = set()
    sas_names = [_sas_name(f.name, seen) for f in fields]

    # plan + conversions
    kinds, lengths, formats = [], {}, {}
    sel = []
    aggs = []
    for f, sn, k in zip(fields, sas_names, column_kinds(fields, "sas_csv")):
        t = f.dataType.simpleString()
        c = F.col(f.name)
        if k == "str":
            kinds.append("str")
            aggs.append(F.max(F.octet_length(f.name)).alias(f"__w_{f.name}"))
            sel.append(c.alias(sn))
        elif t == "boolean":
            kinds.append("num")
            lengths[sn] = 3
            sel.append(c.cast("tinyint").alias(sn))
        elif k == "date":
            kinds.append("num")
            formats[sn] = "yymmdd10."
            sel.append((F.unix_date(c) + SAS_DAY_SHIFT).alias(sn))
        elif k == "datetime":
            kinds.append("num")
            formats[sn] = "datetime19."
            # tz-free seconds-of-epoch: TIMESTAMP_NTZ cannot cast to
            # BIGINT in Spark 4, and routing through TIMESTAMP would
            # shift by the session timezone — derive the day number
            # and second-of-day from calendar fields instead
            secs = (
                F.unix_date(c.cast("date")).cast("long") * 86_400
                + F.hour(c) * 3_600
                + F.minute(c) * 60
                + F.second(c)
            )
            sel.append((secs + SAS_SEC_SHIFT).alias(sn))
        elif k == "time":
            kinds.append("num")
            formats[sn] = "time8."
            sel.append((c / F.lit(1_000_000_000)).cast("long").alias(sn))
        else:
            kinds.append("num")
            ln = {"tinyint": 3, "smallint": 4, "int": 5, "float": 4}.get(t)
            if ln:
                lengths[sn] = ln
            sel.append(c.alias(sn))

    str_widths = {}
    if aggs:
        stats = df.agg(*aggs).collect()[0].asDict()
        for f, sn in zip(fields, sas_names):
            if f.dataType.simpleString() == "string":
                str_widths[sn] = max(int(stats.get(f"__w_{f.name}") or 1), 1)

    # ---- CSV via Spark's distributed writer, then single-file stitch --
    tmp = tempfile.mkdtemp(prefix="sascsv_")
    try:
        (
            df.select(*sel)
            .write.mode("overwrite")
            .option("header", "true")
            .option("nullValue", "")
            .csv(tmp)
        )
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))
        with open(csv_path, "wb") as out:
            first = True
            for p in parts:
                with open(p, "rb") as src:
                    if not first:
                        src.readline()  # drop repeated header
                    shutil.copyfileobj(src, out)
                first = False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # ---- .sas script ---------------------------------------------------
    lines = []
    fmt_assoc = dict(formats)
    if value_labels:
        lines.append("proc format;")
        for f, sn in zip(fields, sas_names):
            vl = value_labels.get(f.name)
            if not vl:
                continue
            is_str = f.dataType.simpleString() == "string"
            fname = (("$" if is_str else "") + f"{sn}_fmt")[:32]
            lines.append(f"  value {fname}")
            for code, lab in vl.items():
                code_s = f'"{code}"' if is_str else str(code)
                lab_s = str(lab).replace('"', '""')
                lines.append(f'    {code_s} = "{lab_s}"')
            lines.append("  ;")
            fmt_assoc[sn] = f"{fname}."
        lines.append("run;")
        lines.append("")
    if library:
        lines.append(f'libname {library} "{os.path.abspath(out_dir)}";')
        target = f"{library}.{ds}"
    else:
        target = ds
    lines.append(f"data {target};")
    lines.append(
        f'  infile "{os.path.abspath(csv_path)}" dsd dlm="," firstobs=2 truncover;'
    )
    for sn, k in zip(sas_names, kinds):
        if k == "str":
            lines.append(f"  length {sn} ${str_widths.get(sn, 1)};")
        elif sn in lengths:
            lines.append(f"  length {sn} {lengths[sn]};")
    inputs = " ".join(
        f"{sn} {'$' if k == 'str' else ''}" for sn, k in zip(sas_names, kinds)
    )
    lines.append(f"  input {inputs};")
    for sn, fmt in fmt_assoc.items():
        lines.append(f"  format {sn} {fmt};")
    for f, sn in zip(fields, sas_names):
        lab = variable_labels.get(f.name) or f.metadata.get("label") or ""
        if lab:
            lab_s = lab.replace('"', '""')
            lines.append(f'  label {sn} = "{lab_s}";')
    lines.append("run;")
    if delete_csv_on_import:
        lines.append("")
        lines.append(f'filename _csv "{os.path.abspath(csv_path)}";')
        lines.append("data _null_; rc = fdelete('_csv'); run;")
    with open(sas_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return csv_path, sas_path
