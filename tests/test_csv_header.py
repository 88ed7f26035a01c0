"""`read_bronze_csv` takes column names from a header line read on the
driver (`csv.header_names`) when the line is plainly split on the
separator, and from Spark's own CSV probe
(`spark.read.csv(path).limit(0).columns`) otherwise.  Either way they
must be exactly the probe's names: for every bronze source the
pipeline ingests (all read on the driver, without a Spark job) and for
the encodings, line ends, quoting and naming cases Spark handles on
its own."""

from __future__ import annotations

import gzip
import itertools
import os

import pytest

from tests.conftest import jobs_in_group
from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (
    write_fixtures,
)
from urban_mobility_data_lakehouse_spark.sources import csv
from urban_mobility_data_lakehouse_spark.sources.csv import (
    header_names,
    read_bronze_csv,
)

# the separator each fixture source is ingested with (`ingest_bronze`)
FIXTURE_SEPS = {
    "zoning": "|", "population": ",", "mapping": ",", "rent": ";",
    "calendar": ";", "geo": ",",
}

# name → (file bytes, separator, encoding, read on the driver; None:
# either way no job runs, as Spark's probe of an empty file runs none)
CASES = {
    "bom": ("\ufeffa,b,c\n1,2,3\n".encode(), ",", "UTF-8", True),
    "bom_only_line": (b"\xef\xbb\xbf\nq,r\n", ",", "UTF-8", True),
    "iso_8859_1": (
        "Año;Castellón;x\n1;2;3\n".encode("ISO-8859-1"), ";", "ISO-8859-1",
        True,
    ),
    "iso_8859_1_bom": (
        b"\xef\xbb\xbf" + "Año;b\n1;2\n".encode("ISO-8859-1"),
        ";", "ISO-8859-1", True,
    ),
    "blank_lines_first": (b"\n   \n\n\t,a\n1,2\n", ",", "UTF-8", True),
    "cr_line_ends": (b"x,y\rz,w\r", ",", "UTF-8", True),
    "crlf_line_ends": (b"x,y\r\n1,2\r\n", ",", "UTF-8", True),
    "no_final_line_end": (b"x;y", ";", "UTF-8", True),
    "quoted_separators": (b'"a,b",c,"x y"\n1,2,3\n', ",", "UTF-8", False),
    "quote_escapes": (b'"g\\"h","a\\\\"b,"a\\b"\n', ",", "UTF-8", False),
    "quote_then_text": (b'"d ""e"" f","a,b"c,"a"  ,z\n', ",", "UTF-8", False),
    "quote_mid_field": (b' "a;b";x"y;"q" r\n', ";", "UTF-8", False),
    "unterminated_quote": (b'x,"abc\n', ",", "UTF-8", False),
    "tab_separated": (b'"a"\t\tb\n', "\t", "UTF-8", False),
    "duplicates": (b"a,A,b,a,c\n", ",", "UTF-8", False),
    "empty_names": (b",,a,a,\n", ",", "UTF-8", False),
    "nullish_and_blank_names": (b"null,NULL, x ,\t\n", ",", "UTF-8", False),
    "invalid_utf8": (b"a\xff,b\n", ",", "UTF-8", False),
    "empty_file": (b"", ",", "UTF-8", None),
}


def spark_probe(spark, path, sep, encoding):
    return (
        spark.read.option("sep", sep).option("header", "true")
        .option("encoding", encoding).csv(path).limit(0).columns
    )


CALLS = itertools.count()  # a fresh job group per counted call


def assert_parity(spark, path, sep, encoding="UTF-8", driver=True):
    """`header_names` gives the probe's names, read on the driver
    (no Spark job) exactly when `driver` (unchecked when None)."""
    got, jobs = jobs_in_group(
        spark, f"csv-header-{next(CALLS)}",
        lambda: header_names(spark, path, sep, encoding),
    )
    assert got == spark_probe(spark, path, sep, encoding)
    if driver is not None:
        assert (jobs == 0) == driver


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    return write_fixtures(str(tmp_path_factory.mktemp("csv") / "sources"))


@pytest.mark.parametrize("source", sorted(FIXTURE_SEPS))
def test_fixture_source_headers_match_spark(spark, fixtures, source):
    assert_parity(spark, fixtures[source], FIXTURE_SEPS[source])


def test_trip_day_headers_match_spark(spark, fixtures):
    trips = sorted(
        os.path.join(fixtures["trips_dir"], f)
        for f in os.listdir(fixtures["trips_dir"])
    )
    assert_parity(spark, trips[:3], ",")


@pytest.mark.parametrize("case", sorted(CASES))
def test_header_cases_match_spark(spark, tmp_path, case):
    data, sep, encoding, driver = CASES[case]
    path = tmp_path / f"{case}.csv"
    path.write_bytes(data)
    assert_parity(spark, str(path), sep, encoding, driver)


def test_gzip_header_matches_spark(spark, tmp_path):
    path = tmp_path / "day.csv.gz"
    path.write_bytes(gzip.compress("﻿k;l\n1;2\n".encode()))
    assert_parity(spark, str(path), ";")


def test_other_codec_goes_through_spark(spark, tmp_path):
    """A suffix Hadoop decompresses but the driver read does not is
    left to Spark's own probe."""
    import bz2

    path = tmp_path / "day.csv.bz2"
    path.write_bytes(bz2.compress(b"k,l\n1,2\n"))
    assert header_names(spark, str(path)) == ["k", "l"]


def test_files_with_other_first_lines_go_through_spark(spark, tmp_path):
    """Which file's header Spark takes depends on its split order, so
    files whose first lines differ are left to Spark's probe."""
    small = tmp_path / "small.csv"
    small.write_bytes(b"s1,s2\n1,2\n")
    big = tmp_path / "big.csv"
    big.write_bytes(b"b1,b2\n" + b"1,2\n" * 50)
    assert_parity(spark, [str(small), str(big)], ",", driver=False)


def test_first_line_past_the_read_prefix_goes_through_spark(
    spark, tmp_path, monkeypatch
):
    """A file whose first non-empty line does not end within the bytes
    the driver reads is left to Spark's probe; one that does is not."""
    monkeypatch.setattr(csv, "_HEAD_BYTES", 8)
    path = tmp_path / "long.csv"
    path.write_bytes(b"\n\nabc,defg,hij\n1,2,3\n")
    assert_parity(spark, str(path), ",", driver=False)
    path.write_bytes(b"\nab,cd\n" + b"1,2\n" * 4)
    assert_parity(spark, str(path), ",", driver=True)


def test_read_bronze_csv_names_bom_header_without_a_job(spark, tmp_path):
    """The rent source's BOM-prefixed first column comes out clean, and
    building the frame runs no Spark job."""
    path = tmp_path / "rent.csv"
    path.write_bytes("﻿Municipios;Total\n01001 A;1.234,5\n".encode())
    df, jobs = jobs_in_group(
        spark, "csv-frame", lambda: read_bronze_csv(spark, str(path), sep=";")
    )
    assert jobs == 0
    assert df.columns[:2] == ["Municipios", "Total"]
    assert df.collect()[0]["Municipios"] == "01001 A"
