"""Partition overwrites must supersede same-partition rows living in
OLDER additive commit dirs (append / merge-on-read update) — without
that, a copy-on-write DELETE/UPDATE/MERGE on an append-built table
silently resurrects the old rows next to the rewrite (the manifest's
`extra` dirs were never partition-scoped).  The replay now records
per-additive-dir partition exclusions, version-ordered: an append
AFTER the overwrite is untouched.

This is the streaming-ingest shape: `stream_to_table` appends
micro-batches, then a GDPR delete or backfill merge rewrites a
partition — the appended rows of that partition must die with it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse


@pytest.fixture()
def lake(tmp_path):
    lk = Lakehouse(str(tmp_path / "lake"))
    lk.create_schemas("s")
    return lk


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )


def test_cow_delete_supersedes_append_rows(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")
    assert lake.delete_where(
        spark, "s", "t", F.col("id") == 5, partition_col="p"
    )
    out = lake.read(spark, "s", "t")
    assert out.count() == 99
    assert out.filter("id = 5").count() == 0


def test_cow_update_supersedes_append_rows(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")
    lake.update_where(
        spark, "s", "t", F.col("id") < 10, {"v": F.lit(-1)},
        partition_col="p",
    )
    out = lake.read(spark, "s", "t")
    assert out.count() == 100
    assert out.filter("v = -1").count() == 10


def test_cow_merge_supersedes_append_rows(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")
    upd = _rows(spark, 0, 4).withColumn("v", F.lit(999))
    lake.merge_into(spark, "s", "t", upd, key="id", partition_col="p")
    out = lake.read(spark, "s", "t")
    assert out.count() == 100
    assert out.filter("v = 999").count() == 4
    assert out.filter("id < 4 AND v <> 999").count() == 0


def test_append_after_overwrite_is_not_excluded(spark, lake):
    """Version order matters: an overwrite excludes only OLDER
    additive rows; a later append of the same partition adds rows."""
    lake.append(_rows(spark, 0, 8), "s", "t")
    lake.delete_where(spark, "s", "t", F.col("id") == 0, partition_col="p")
    # fresh rows in the very partition just rewritten (p=0: ids 100,104)
    lake.append(
        _rows(spark, 100, 108).filter(F.col("p") == "0"), "s", "t"
    )
    ids = sorted(
        r["id"] for r in lake.read(spark, "s", "t").collect()
    )
    assert ids == [1, 2, 3, 4, 5, 6, 7, 100, 104]


def test_exclusions_stack_across_overwrites(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")
    lake.delete_where(spark, "s", "t", F.col("id") == 1, partition_col="p")
    lake.delete_where(spark, "s", "t", F.col("id") == 2, partition_col="p")
    out = lake.read(spark, "s", "t")
    assert out.count() == 98
    assert out.filter("id IN (1, 2)").count() == 0


def test_time_travel_sees_pre_overwrite_append_rows(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")  # v0
    lake.delete_where(spark, "s", "t", F.col("id") == 5, partition_col="p")
    v0 = lake.read(spark, "s", "t", version=0)
    assert v0.count() == 100
    assert v0.filter("id = 5").count() == 1


def test_cdc_shows_append_rows_superseded_by_delete(spark, lake):
    lake.append(_rows(spark, 0, 12), "s", "t")  # v0
    lake.delete_where(spark, "s", "t", F.col("id") == 5, partition_col="p")
    changes = lake.read_changes(spark, "s", "t", 0, 1)
    got = sorted(
        (r["id"], r["_change_type"]) for r in changes.collect()
    )
    assert got == [(5, "delete")]


def test_checkpoint_roundtrips_exclusions(spark, lake):
    """The exclusions a partition overwrite records live in the log
    alone: every version replays them, and later commits keep them."""
    lake.append(_rows(spark, 0, 40), "s", "t")  # v0
    lake.delete_where(spark, "s", "t", F.col("id") == 7, partition_col="p")
    lake.append(_rows(spark, 100, 104), "s", "t")
    lake.append(_rows(spark, 104, 108), "s", "t")  # v3
    out = lake.read(spark, "s", "t")
    assert out.count() == 47
    assert out.filter("id = 7").count() == 0
    # the v0 append dir is superseded in id 7's partition from v1 on;
    # the later appends carry no exclusion
    v0_dir = lake._manifest("s", "t", 0)[1]
    for v, rows in enumerate((40, 39, 43, 47)):
        extra = lake._manifest("s", "t", v)[1]
        assert {d: x for d, x in extra.items() if d in v0_dir} == {
            d: ({} if v == 0 else {"p": ["3"]}) for d in v0_dir
        }, f"exclusions at version {v}"
        assert all(not x for d, x in extra.items() if d not in v0_dir)
        assert lake.read(spark, "s", "t", version=v).count() == rows


def test_read_where_respects_exclusions(spark, lake):
    lake.append(_rows(spark, 0, 100), "s", "t")
    lake.delete_where(spark, "s", "t", F.col("id") == 8, partition_col="p")
    got = lake.read_where(spark, "s", "t", [("id", "<=", 8)])
    assert sorted(r["id"] for r in got.collect()) == list(range(8))


def test_hidden_spec_append_then_delete(spark, lake):
    """The hidden-partitioning streaming shape: spec-laid-out appends,
    then a CoW delete — the spec dir's same-bucket rows supersede."""
    lake.set_partition_spec("s", "h", "bucket(4, id)")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    lake.append(df, "s", "h")
    lake.delete_where(spark, "s", "h", F.col("id") == 5)
    out = lake.read(spark, "s", "h")
    assert out.count() == 99
    assert out.filter("id = 5").count() == 0
    # and dir-level pruning still composes with the exclusions
    probe = lake.read_where(spark, "s", "h", [("id", "=", 6)])
    assert [r["id"] for r in probe.collect()] == [6]


def test_mor_update_dir_excluded_by_later_cow_delete(spark, lake):
    """update_mor data dirs are additive too: a later partition
    rewrite must supersede their same-partition rows."""
    lake.overwrite_partitions(_rows(spark, 0, 40), "s", "t", "p")
    lake.update_where(
        spark, "s", "t", F.col("id") == 6,
        {"v": F.lit(-6)}, mode="merge_on_read",
    )  # additive dir holding the updated image of id=6 (p=2)
    assert lake.read(spark, "s", "t").filter("id = 6").collect()[0]["v"] == -6
    # CoW delete of another row in p=2 rewrites that whole partition —
    # the MoR image must not resurrect next to the rewrite
    lake.delete_where(spark, "s", "t", F.col("id") == 10, partition_col="p")
    out = lake.read(spark, "s", "t")
    assert out.count() == 39
    assert out.filter("id = 6").count() == 1
    assert out.filter("id = 6").collect()[0]["v"] == -6
