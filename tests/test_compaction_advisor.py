"""`recommend_compaction` — the small-file sensor: log arithmetic +
driver-side stat() only, recommendations scoped to the offending
partitions, and the output feeds `compact(partitions=...)` directly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse


@pytest.fixture()
def lake(tmp_path):
    lk = Lakehouse(str(tmp_path / "lake"))
    lk.create_schemas("silver")
    return lk


def _day_df(spark, day: str, lo: int, n: int = 5, parts: int = 1):
    return (
        spark.range(lo, lo + n)
        .repartition(parts)
        .select(
            F.col("id"),
            F.lit(day).cast("date").alias("partition_date"),
            (F.col("id") * 2.0).alias("v"),
        )
    )


def test_advisor_flags_small_file_partition_and_compact_clears(
    spark, lake
):
    # day A: one file; day B: split into 6 tiny live files (commit
    # writes are one-file-per-partition by construction, so the
    # fragmented layout is manufactured with a scoped
    # target_files_per_partition compaction — the layout knob that
    # legitimately produces multi-file partitions)
    lake.overwrite_partitions(
        _day_df(spark, "2024-03-01", 0, 50, parts=1), "silver", "t",
        partition_col="partition_date",
    )
    lake.overwrite_partitions(
        _day_df(spark, "2024-03-02", 1000, 60), "silver", "t",
        partition_col="partition_date",
    )
    lake.compact(
        spark, "silver", "t", partition_col="partition_date",
        partitions=["2024-03-02"], target_files_per_partition=6,
    )
    rec = lake.recommend_compaction(
        "silver", "t", small_file_bytes=1 << 20, min_small_files=4
    )
    assert "2024-03-02" in rec["partitions"]
    assert "2024-03-01" not in rec["partitions"]
    assert rec["detail"]["2024-03-02"]["small"] >= 4

    before = {
        r["id"]: r["v"]
        for r in lake.read(spark, "silver", "t").collect()
    }
    lake.compact(
        spark, "silver", "t", partition_col="partition_date",
        partitions=rec["partitions"],
    )
    after = {
        r["id"]: r["v"]
        for r in lake.read(spark, "silver", "t").collect()
    }
    assert after == before  # advisor-driven compaction is content-neutral
    rec2 = lake.recommend_compaction(
        "silver", "t", small_file_bytes=1 << 20, min_small_files=4
    )
    assert rec2["partitions"] == []


def test_advisor_counts_flat_appends_as_unpartitioned(spark, lake):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    lake.append(df, "silver", "flat")
    lake.append(df, "silver", "flat")
    rec = lake.recommend_compaction("silver", "flat")
    assert rec["partitions"] == []  # nothing partition-addressable
    assert rec["unpartitioned_dirs"] == 2
    assert rec["detail"]["<unpartitioned>"]["files"] >= 2


def test_advisor_attributes_subdirs_and_still_counts_flat_files(
    spark, lake
):
    """An additive dir can hold BOTH <pcol>=<value> subdirs (attributed
    to their partitions) and flat top-level files: the subdir files
    must land in their partitions' detail, the flat files in
    <unpartitioned>, and `unpartitioned_dirs` counts only dirs with
    unattributed data files — a fully-attributed dir contributes 0.
    (The mixed layout is constructed at the filesystem level, behind
    an append whose log line predates file lists — so the planner
    lists that dir itself: the advisor's contract is over the
    directory shapes any additive op — hidden-spec append, MoR update,
    external writer — may leave.)"""
    import json
    import os
    import shutil

    lake.overwrite_partitions(
        _day_df(spark, "2024-03-01", 0, 50), "silver", "t",
        partition_col="partition_date",
    )
    lake.append(_day_df(spark, "2024-03-01", 5000, 3, parts=1),
                "silver", "t")
    log = os.path.join(lake._table_dir("silver", "t"), "_snapshots.jsonl")
    with open(log) as f:
        lines = [json.loads(line) for line in f]
    lines[-1].pop("files")
    with open(log, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in lines)
    _pm, extra, _dvs = lake._manifest("silver", "t")
    add_dir = next(d for d in extra if os.path.isdir(d))
    flat = [
        f for f in os.listdir(add_dir) if f.endswith(".parquet")
    ]
    assert flat  # plain append lays out flat
    # attribute one file into a partition subdir inside the SAME dir
    sub = os.path.join(add_dir, "partition_date=2024-03-01")
    os.makedirs(sub)
    shutil.copyfile(
        os.path.join(add_dir, flat[0]),
        os.path.join(sub, "attributed.parquet"),
    )
    rec = lake.recommend_compaction(
        "silver", "t", small_file_bytes=1 << 20, min_small_files=4
    )
    # attributed subdir file counts toward its partition (1 + 1)…
    assert rec["detail"]["2024-03-01"]["files"] == 2
    # …the flat files are STILL scanned into <unpartitioned> (the
    # pre-fix code skipped them once any subdir attributed)…
    assert rec["detail"]["<unpartitioned>"]["files"] == len(flat)
    # …and the dir counts as unpartitioned because of them
    assert rec["unpartitioned_dirs"] == 1

    # fully attributed: drop the flat files → the dir vanishes from
    # unpartitioned_dirs (the pre-fix code still counted it)
    for f in flat:
        os.remove(os.path.join(add_dir, f))
    rec2 = lake.recommend_compaction(
        "silver", "t", small_file_bytes=1 << 20, min_small_files=4
    )
    assert rec2["unpartitioned_dirs"] == 0
    assert "<unpartitioned>" not in rec2["detail"]
    assert rec2["detail"]["2024-03-01"]["files"] == 2


def test_advisor_is_a_pure_metadata_read(spark, lake, monkeypatch):
    lake.overwrite_partitions(
        _day_df(spark, "2024-03-01", 0, 50), "silver", "t",
        partition_col="partition_date",
    )

    # no Spark job may run: poison the session's executePlan surface
    called = []
    monkeypatch.setattr(
        type(spark), "sql",
        lambda self, *a, **k: called.append("sql"),
        raising=False,
    )
    lake.recommend_compaction("silver", "t")
    assert called == []
