"""File-level data skipping (commit-log min/max stats) and Z-order
compaction.

The scale claim under test: `read_where` must shrink the *planned*
file set (df.inputFiles()), not just filter rows — that is the layer
that turns a needle query on a 100 TB table from "schedule a task per
file" into "schedule the few files whose range matches".  Correctness
is separately guaranteed by the residual filter, which each test
cross-checks against a full `read()` + filter.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse
from urban_mobility_data_lakehouse_spark.sources.skipping import (
    file_survives,
    zorder_key,
)


def _mk_lake(tmp_path, **kw) -> Lakehouse:
    lake = Lakehouse(str(tmp_path / "lake"), **kw)
    lake.create_schemas("silver")
    return lake


def _append_range(spark, lake, lo, hi, name="t"):
    df = (
        spark.range(lo, hi)
        .select(
            F.col("id"),
            (F.col("id") * 2).alias("v"),
        )
        .coalesce(1)
    )
    lake.append(df, "silver", name)


def test_commit_records_file_stats(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    _append_range(spark, lake, 100, 200)
    entry = lake.snapshots("silver", "t")[-1]
    files = entry["files"]
    assert len(files) == 1
    st = files[0]["stats"]
    assert st["id"]["min"] == 100 and st["id"]["max"] == 199
    assert st["v"]["min"] == 200 and st["v"]["max"] == 398
    assert st["id"]["nulls"] == 0
    assert files[0]["rows"] == 100


def test_read_where_prunes_files_and_matches_full_scan(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    for lo in (0, 1000, 2000, 3000):
        _append_range(spark, lake, lo, lo + 1000)
    full = lake.read(spark, "silver", "t")
    assert len(full.inputFiles()) == 4

    pruned = lake.read_where(
        spark, "silver", "t", [("id", ">=", 2500)]
    )
    assert len(pruned.inputFiles()) == 2  # dirs [2000,3000) and [3000,4000)
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.filter(F.col("id") >= 2500).collect()
    )

    point = lake.read_where(spark, "silver", "t", [("id", "=", 1234)])
    assert len(point.inputFiles()) == 1
    assert [r["v"] for r in point.collect()] == [2468]

    # conjunction across columns prunes on both
    both = lake.read_where(
        spark, "silver", "t", [("id", "<", 1000), ("v", ">=", 6000)]
    )
    assert len(both.inputFiles()) == 0 or both.count() == 0
    assert both.count() == 0


def test_read_where_everything_pruned_keeps_schema(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    _append_range(spark, lake, 0, 10)
    out = lake.read_where(spark, "silver", "t", [("id", ">", 10**9)])
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}
    # Catalyst folds the FALSE residual: nothing is scanned
    assert out.inputFiles() == []


def test_read_where_in_list(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    for lo in (0, 1000, 2000):
        _append_range(spark, lake, lo, lo + 1000)
    hit = lake.read_where(
        spark, "silver", "t", [("id", "in", [5, 2999])]
    )
    assert len(hit.inputFiles()) == 2
    assert sorted(r["id"] for r in hit.collect()) == [5, 2999]
    none = lake.read_where(spark, "silver", "t", [("id", "in", [])])
    assert none.count() == 0


def test_read_where_without_stats_still_correct(spark, tmp_path):
    """A log written before entries listed their files (no `files`, no
    `schema`): the planner lists those dirs itself, pruning no-ops,
    and the residual filter alone answers the query."""
    import json
    import os

    lake = _mk_lake(tmp_path)
    for lo in (0, 1000):
        _append_range(spark, lake, lo, lo + 1000)
    log = os.path.join(lake._table_dir("silver", "t"), "_snapshots.jsonl")
    with open(log) as f:
        lines = [json.loads(line) for line in f]
    with open(log, "w") as f:
        for e in lines:
            e.pop("files", None)
            e.pop("schema", None)
            f.write(json.dumps(e) + "\n")
    assert "files" not in lake.snapshots("silver", "t")[-1]
    out = lake.read_where(spark, "silver", "t", [("id", ">=", 1500)])
    assert len(out.inputFiles()) == 2  # no stats → no pruning
    assert out.count() == 500


def test_read_where_skips_all_null_file_keeps_mixed(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    allnull = spark.range(0, 50).select(
        F.col("id"), F.lit(None).cast("long").alias("v")
    ).coalesce(1)
    mixed = spark.range(50, 100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),
    ).coalesce(1)
    lake.append(allnull, "silver", "n")
    lake.append(mixed, "silver", "n")
    out = lake.read_where(spark, "silver", "n", [("v", ">=", 0)])
    # the all-NULL file cannot satisfy a null-rejecting predicate
    assert len(out.inputFiles()) == 1
    assert out.count() == 25


def test_read_where_date_and_partition_dirs(spark, tmp_path):
    """Stats skipping composes with partitioned commits: files live in
    partition subdirectories, stats prune inside the surviving set."""
    lake = _mk_lake(tmp_path)
    days = spark.createDataFrame(
        [
            (i, dt.date(2024, 1, 1 + i % 3), float(i))
            for i in range(300)
        ],
        "id long, d date, x double",
    )
    lake.overwrite_partitions(
        days.repartition("d"), "silver", "p", partition_col="d"
    )
    entry = lake.snapshots("silver", "p")[-1]
    assert all("d=" in f["path"] for f in entry["files"])
    out = lake.read_where(
        spark, "silver", "p", [("x", ">=", 297.0)]
    )
    got = sorted((r["id"], str(r["d"])) for r in out.collect())
    full = lake.read(spark, "silver", "p").filter(F.col("x") >= 297.0)
    assert got == sorted((r["id"], str(r["d"])) for r in full.collect())
    assert [g[0] for g in got] == [297, 298, 299]


def test_file_survives_is_conservative_on_type_mismatch():
    entry = {
        "rows": 10,
        "stats": {"a": {"min": 1, "max": 5, "nulls": 0}},
    }
    # string predicate against int stats: keep the file
    assert file_survives(entry, [("a", ">=", "zzz")])
    # unknown column: keep
    assert file_survives(entry, [("b", "=", 1)])
    # provable miss: prune
    assert not file_survives(entry, [("a", ">", 5)])


def test_zorder_key_interleaves_and_handles_nulls(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (99.0, 0.0), (0.0, 99.0), (99.0, 99.0), (None, 50.0)],
        "x double, y double",
    )
    keys = [
        r["z"]
        for r in df.select(zorder_key(df, ["x", "y"]).alias("z")).collect()
    ]
    lo_lo, hi_lo, lo_hi, hi_hi, null_mid = keys
    # corners of the grid order exactly as the Z curve dictates:
    # (0,0) < (max,0) < (0,max) < (max,max) for x-first interleave
    assert lo_lo == 0
    assert lo_lo < hi_lo < lo_hi < hi_hi
    assert hi_hi == (1 << 32) - 1
    # NULL scales to grid cell 0 in its dimension
    assert null_mid < lo_hi


def test_zorder_compaction_prunes_box_queries_better_than_sort(
    spark, tmp_path
):
    """The multi-column locality claim, end to end: after
    zorder_by=["x","y"], a predicate on y ALONE skips most files; after
    a plain x-sort, every file spans all of y and nothing skips."""
    pts = spark.createDataFrame(
        [(i, float(i % 100), float((i * 37) % 100)) for i in range(10000)],
        "id long, x double, y double",
    ).coalesce(4)

    zlake = _mk_lake(tmp_path, )
    zlake.append(pts, "silver", "z")
    zlake.compact(
        spark, "silver", "z", target_files_per_partition=16,
        zorder_by=["x", "y"],
    )
    slake_dir = tmp_path / "sorted"
    slake_dir.mkdir()
    slake = _mk_lake(slake_dir)
    slake.append(pts, "silver", "s")
    # the linear baseline: globally range-sorted on x alone (single-
    # column zorder degenerates to exactly that), same 16 files
    slake.compact(
        spark, "silver", "s", target_files_per_partition=16,
        zorder_by=["x"],
    )
    assert len(slake.read(spark, "silver", "s").inputFiles()) == 16
    assert len(zlake.read(spark, "silver", "z").inputFiles()) == 16

    pred = [("y", "<", 25.0)]
    z_files = len(zlake.read_where(spark, "silver", "z", pred).inputFiles())
    s_files = len(slake.read_where(spark, "silver", "s", pred).inputFiles())
    assert s_files == 16  # x-sorted files all span y ∈ [0, 99]
    assert z_files <= 8  # Z tiles: only the low-y half of the curve

    # a 2-D box prunes even harder, and the rows are exactly right
    box = [("x", "<", 25.0), ("y", "<", 25.0)]
    zbox = zlake.read_where(spark, "silver", "z", box)
    assert len(zbox.inputFiles()) <= 4
    expect = sorted(
        r["id"]
        for r in pts.filter((F.col("x") < 25) & (F.col("y") < 25)).collect()
    )
    assert sorted(r["id"] for r in zbox.collect()) == expect


def test_compact_rejects_sort_by_plus_zorder_by(spark, tmp_path):
    lake = _mk_lake(tmp_path)
    _append_range(spark, lake, 0, 10)
    with pytest.raises(ValueError, match="exclusive"):
        lake.compact(
            spark, "silver", "t", sort_by=["id"], zorder_by=["v"]
        )
