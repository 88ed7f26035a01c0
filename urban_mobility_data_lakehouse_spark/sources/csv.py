"""Schema-on-read CSV ingestion — the reference's bronze layer contract
(SURVEY.md §2.1 S1/S2/S7).

Parity with `read_csv_auto(all_varchar=true, ignore_errors=true, …)`
(mobility_ingestion_pipeline.py:186-190, 522-533):
  - every column StringType (type decisions are deferred to silver;
    rationale docs/sprint_logs/Sprint-1.md:53)
  - malformed rows dropped, not failed (DROPMALFORMED)
  - audit columns appended: ingestion_timestamp, source_url, filename
    (mobility_ingestion_pipeline.py:444-446) — filename via the
    input_file_name() expression so it survives multi-file globs
  - .csv.gz handled natively by Spark (one gz file = one task, which
    matches the reference's one-file-per-day layout; at 100 TB you'd
    re-compress to a splittable codec or many files per day)

Spark has no httpfs: HTTP(S) sources are pre-fetched driver-side
(fetch_url) before the distributed scan — the reference does the same
through pandas for the INE source (…:133-179).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def all_string_schema(columns: list[str]) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in columns])


def read_bronze_csv(
    spark: SparkSession,
    path: str | list[str],
    source_url: str | None = None,
    sep: str = ",",
    header: bool = True,
    encoding: str = "UTF-8",
    columns: list[str] | None = None,
    ignore_errors: bool = True,
) -> DataFrame:
    """All-varchar CSV scan with audit columns.

    `columns` forces a headerless schema (the population file case,
    mobility_ingestion_pipeline.py:257-276 — column0/column1 naming).
    Otherwise the column names come from the first non-empty line,
    read on the driver (`header_names`) — no Spark job, never an
    inference scan.
    """
    reader = (
        spark.read.option("sep", sep)
        .option("header", str(header).lower())
        .option("encoding", encoding)
        .option("mode", "DROPMALFORMED" if ignore_errors else "FAILFAST")
    )
    if columns is None:
        names = header_names(spark, path, sep, encoding)
        columns = (
            names if header else [f"column{i}" for i in range(len(names))]
        )
    df = reader.schema(all_string_schema(columns)).csv(path)
    return df.select(
        "*",
        F.current_timestamp().alias("ingestion_timestamp"),
        F.lit(source_url or path).alias("source_url"),
        F.input_file_name().alias("filename"),
    )


# suffixes Hadoop decompresses that the driver-side header read does not
_OTHER_CODECS = (".bz2", ".deflate", ".lz4", ".snappy", ".zst")
# how much of each file (decompressed) the driver-side header read scans
_HEAD_BYTES = 1 << 20


def _first_line(path: str, encoding: str) -> str | None:
    """The first non-empty line in the file's first `_HEAD_BYTES`, as
    Hadoop's line reader gives it: lines end at \n, \r or \r\n, a
    leading UTF-8 BOM is skipped, `.gz` is decompressed, and the line
    is decoded with `encoding`.  None when no complete non-empty line
    is found there."""
    import gzip
    import re

    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as f:
        head = f.read(_HEAD_BYTES + 1)
    lines = re.split(rb"\r\n|\r|\n", head.removeprefix(b"\xef\xbb\xbf"))
    if len(head) > _HEAD_BYTES:
        lines.pop()  # cut off by the read, not by a line end
    for raw in lines:
        line = raw.decode(encoding, errors="replace")
        if line.strip(" "):  # Spark's SQL trim(): spaces
            return line
    return None


def header_names(
    spark: SparkSession, path: str | list[str], sep: str = ",",
    encoding: str = "UTF-8",
) -> list[str]:
    """The column names Spark's CSV reader takes from a header line
    (`spark.read.csv(path).columns` with `header=true`), read on the
    driver when that is plainly the line split on `sep`: every file a
    plain or `.gz` local file, the same first non-empty line in each,
    no quote or undecodable byte in it, and its names non-empty and
    unique (case-folded).  Anything else — a directory, a glob, a
    remote URI, another Hadoop codec, a multi-character separator,
    quoting, names Spark would rename — goes through Spark's own probe
    (one job)."""
    paths = [path] if isinstance(path, str) else list(path)
    local = [p.removeprefix("file:") for p in paths]
    if len(sep) == 1 and all(
        os.path.isfile(p) and not p.endswith(_OTHER_CODECS) for p in local
    ):
        lines = {_first_line(p, encoding) for p in local}
        line = lines.pop() if len(lines) == 1 else None
        if line is not None and not {'"', "\ufffd"} & set(line):
            names = line.split(sep)
            if all(names) and len(names) == len(
                {n.casefold() for n in names}
            ):
                return names
    return (
        spark.read.option("sep", sep).option("header", "true")
        .option("encoding", encoding).csv(path).limit(0).columns
    )


def fetch_url(url: str, dest: str, encoding_fallbacks: tuple[str, ...] = ("utf-8-sig", "ISO-8859-1")) -> str:
    """Driver-side HTTP prefetch with BOM/encoding repair (the INE path,
    mobility_ingestion_pipeline.py:133-179).  Returns the local path for
    the distributed scan.  Redirects are followed (urllib's default
    handler chain).  Network-gated: raises cleanly when offline.

    Gzip payloads (the CRTM daily-CSV layout,
    mobility_ingestion_pipeline.py:522-533) are detected by magic
    bytes, not URL suffix: when `dest` ends in ``.gz`` the compressed
    bytes are written untouched — Spark's CSV reader consumes .gz
    natively and re-encoding would only burn driver CPU — otherwise
    the payload is decompressed first and takes the same
    encoding-repair lane as plain text."""
    import gzip
    import urllib.request

    with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310
        raw = resp.read()
    if raw[:2] == b"\x1f\x8b":
        if dest.endswith(".gz"):
            with open(dest, "wb") as fb:
                fb.write(raw)
            return dest
        raw = gzip.decompress(raw)
    for enc in encoding_fallbacks:
        try:
            text = raw.decode(enc)
            break
        except UnicodeDecodeError:
            continue
    else:
        text = raw.decode("utf-8", errors="replace")
    with open(dest, "w", encoding="utf-8") as f:
        f.write(text.lstrip("﻿"))
    return dest
