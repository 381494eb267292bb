"""Byte pins for every export format: the SHA-256 of
each file (creation timestamps masked) written by ``write_readstat``
from a 3-partition input, so every layout change must reproduce the
exact bytes. The strL case spreads its GSO keys over all three
partitions, so a key numbered from the wrong row offset changes the
digest. The sas7bdat cases use a small page, so plain and compressed
pages span the chunk boundaries; the ``_wide`` cases have rows over
4,114 bytes with blank runs longer than one rle/rdc command covers."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from tests.test_transport_equivalence import _masked


def _fixed(ids, *extra):
    idc = F.col("id")
    return ids.select(
        (idc % 200 - 100).cast("tinyint").alias("b"),
        (idc * 37 % 70000 - 35000).cast("int").alias("i"),
        (idc * 1_000_003).alias("big"),
        F.when(idc % 7 == 0, None).otherwise(idc * 1.25).alias("x"),
        (idc * 1.5 - 40).cast("float").alias("f"),
        (idc % 2 == 0).alias("flag"),
        # day 0 is 0001-01-01 and day 3652058 is 9999-12-31
        F.when(idc % 13 == 0, None)
        .otherwise(
            F.date_add(F.expr("DATE'0001-01-01'"), (idc * 1223 % 3652059).cast("int"))
        )
        .alias("d"),
        F.when(idc % 17 == 0, None)
        .otherwise(F.timestamp_seconds(idc * 3671 + 1_500_000_000))
        .alias("ts"),
        F.when(idc % 11 == 0, None)
        .otherwise(F.concat(F.lit("s"), idc, F.repeat(F.lit("é"), (idc % 5).cast("int"))))
        .alias("s"),
        *extra,
    )


def _tags(name, mod):
    idc = F.col("id")
    return (
        F.when(idc % mod == 1, F.concat(F.lit("."), F.char((F.lit(97) + idc % 26).cast("int"))))
        .when(idc % mod == 2, F.lit("."))
        .otherwise(F.lit(""))
        .alias(name)
    )


def _strl(ids):
    idc = F.col("id")

    def wide(c):
        # over 2045 bytes on most rows (strL); empty and null cells
        # carry key 0 and no GSO record
        return (
            F.when(idc % 9 == 0, None)
            .when(idc % 4 == 0, F.lit(""))
            .otherwise(F.concat(F.repeat(F.lit(c), (2040 + idc % 13).cast("int")), idc))
        )

    return ids.select(
        idc.cast("double").alias("x"),
        wide("q").alias("long1"),
        F.concat(F.lit("k"), idc).alias("short"),
        wide("w").alias("long2"),
    )


def _wide(ids):
    # rows with id % 4 == 1 are hex digests in every column, which
    # neither codec shortens, so they are stored raw; the others carry
    # blank runs over 4,114 bytes
    idc = F.col("id")
    noise = idc % 4 == 1

    def hexes(salt, width):
        h = F.sha2(F.concat(F.lit(salt), idc.cast("string")), 256)
        return F.substring(F.repeat(h, width // 64 + 1), 1, width)

    return ids.select(
        F.when(noise, F.xxhash64(idc).cast("double"))
        .when(idc % 7 == 0, None)
        .otherwise(idc * 1.25)
        .alias("x"),
        F.when(noise, hexes("p", 4600))
        .otherwise(F.rpad(F.concat(F.lit("w"), idc), 4600, " "))
        .alias("pad"),
        F.when(noise, hexes("s", 96))
        .otherwise(F.concat(F.repeat(F.lit("ab"), (idc % 40).cast("int")), idc))
        .alias("s"),
        F.when(noise, hexes("z", 300))
        .when(idc % 3 == 0, F.repeat(F.lit("z"), 300))
        .otherwise(F.lit(""))
        .alias("z"),
    )


def _sas(compress=None):
    kw = {
        "page_length": 4096,
        "variable_labels": {"x": "an x"},
        "tagged_missing": {"x": "tx", "f": "tf"},
        "numeric_lengths": {"b": 3, "i": 4},
    }
    return (
        "sas7bdat",
        lambda ids: _fixed(ids, _tags("tx", 5), _tags("tf", 4)),
        dict(kw, compress=compress) if compress else kw,
    )


# case -> (extension, frame builder, write_readstat keyword arguments)
CASES = {
    "dta_fixed": (
        "dta",
        _fixed,
        {
            "data_label": "pinned",
            "variable_labels": {"x": "an x", "s": "a string"},
            "value_labels": {"b": {1: "one", -1: "minus one"}},
        },
    ),
    "dta_tagged": (
        "dta",
        lambda ids: _fixed(ids, _tags("tx", 5), _tags("ti", 3), _tags("tf", 4)),
        {"tagged_missing": {"x": "tx", "i": "ti", "f": "tf"}},
    ),
    "dta_strl": ("dta", _strl, {}),
    "por": (
        "por",
        lambda ids: _fixed(ids).drop("big"),
        {"data_label": "pinned", "variable_labels": {"x": "an x"}},
    ),
    "sav": (
        "sav",
        _fixed,
        {
            "data_label": "pinned",
            "variable_labels": {"x": "an x", "s": "a string"},
            "value_labels": {"b": {1: "one", -1: "minus one"}},
        },
    ),
    "sav_bytecode": ("sav", _fixed, {"compress": True}),
    "zsav": ("zsav", _fixed, {"variable_labels": {"x": "an x"}}),
    "xpt": (
        "xpt",
        lambda ids: _fixed(ids, _tags("tx", 5)),
        {"variable_labels": {"x": "an x"}, "tagged_missing": {"x": "tx"}},
    ),
    "xpt8": (
        "xpt",
        lambda ids: _fixed(ids, _tags("tx", 5)),
        {"version": 8, "tagged_missing": {"x": "tx"}},
    ),
    "sas7bdat": _sas(),
    "sas7bdat_rle": _sas("rle"),
    "sas7bdat_rdc": _sas("rdc"),
    "sas7bdat_rle_wide": ("sas7bdat", _wide, {"compress": "rle", "page_length": 8192}),
    "sas7bdat_rdc_wide": ("sas7bdat", _wide, {"compress": "rdc", "page_length": 8192}),
}

DIGESTS = {
    "dta_fixed": "fa829ef53b0a6e26bc3380106d1492dc996736fd6cd2757dcf9b1c8cf0b3f9b3",
    "dta_tagged": "8f0452db0fba8f4b2389513c84a1fc34dfcbcfbb27ee9c0d46085f0ab997f65f",
    "dta_strl": "fb927d3854e6b7864d1c192f0071b2be43e0a04aaa2aeb7996a0a227be03bd0c",
    "por": "3fc2e814abae7e6b8c0ce7b127096fd49c9d3d28ce098fbf6419194fdaf2356b",
    "sav": "c9b2a648986b72bfb70af1e8d2384a45d62ee1954b34ce2e4d4e4684dd495eb2",
    "sav_bytecode": "a2efb21907993563d9e05c0466278e01ddc97f2eb5d4017134c6f92f31885903",
    "zsav": "524036bb244edd5335d0e8ec3712fbd6a7e19d0ec67f52efe64eae31784871db",
    "xpt": "f414921367f091a091ac43e67b87e9b284e73d48aa41ab5476546c0d0df0a129",
    "xpt8": "1d35df71ef11e32ccfcc6e319b5e4339c13011569a1414f07495a7f981108089",
    "sas7bdat": "086a621b044953a89332c8fbe141a3e20f1744ce189733e276d8addef0049fc2",
    "sas7bdat_rle": "a3d7a5b3033c287cd2149b2ad3edafd1bb3f3d4b4bd4d6eabc9143f29a4da9d5",
    "sas7bdat_rdc": "03c5e887d48c797a2eeb9030f83aacb39580f7fce03d5e88e3d5b8ea0c2def06",
    "sas7bdat_rle_wide": "64d21341313b93360341990fe01bc3d3d17ba45aa40eab2a67b6db3d8123983e",
    "sas7bdat_rdc_wide": "3b75b6c8f56a640c64ed70be9e860a2fd8db8030c9ea5cfbe3458e77b2559acf",
}


@pytest.mark.parametrize("case", list(CASES))
def test_export_bytes_are_pinned(spark, tmp_path, case):
    import polars_readstat_spark as prs

    ext, build, kw = CASES[case]
    df = build(spark.range(600, numPartitions=3))
    path = str(tmp_path / f"{case}.{ext}")
    prs.write_readstat(df, path, **kw)
    assert hashlib.sha256(_masked(path)).hexdigest() == DIGESTS[case]
