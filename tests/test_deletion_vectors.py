"""Merge-on-read deletes (Delta deletion-vector analog): a delete
commits O(deleted rows) of positions instead of rewriting partitions;
readers anti-join the vectors out; compaction materializes them.
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


def _seed(spark, lake, name="t"):
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    lake.overwrite_partitions(df, "silver", name, partition_col="p")
    return df


def test_dv_delete_removes_rows_without_rewriting_data(spark, lake):
    _seed(spark, lake)
    files_before = sorted(lake.read(spark, "silver", "t").inputFiles())
    lake.delete_where(
        spark, "silver", "t",
        F.col("id").between(100, 109),
        partition_col="p",
        mode="merge_on_read",
    )
    after = lake.read(spark, "silver", "t")
    ids = sorted(r["id"] for r in after.collect())
    assert ids == [i for i in range(1000) if not 100 <= i <= 109]
    # the data files are untouched — only a vector was added
    assert sorted(
        f for f in after.inputFiles() if "/_data/v0-" in f
    ) == files_before
    assert lake.snapshots("silver", "t")[-1]["operation"] == "delete_dv"
    # schema unchanged vs the pre-delete read: no position columns leak
    assert after.columns == lake.read_snapshot(
        spark, "silver", "t", 0
    ).columns


def test_dv_three_valued_logic_and_stacking(spark, lake):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", None), (3, "b", -1.0), (4, "b", 2.0)],
        "id long, p string, v double",
    )
    lake.overwrite_partitions(df, "silver", "n", partition_col="p")
    # NULL predicate rows survive a DV delete (TRUE rows only)
    lake.delete_where(
        spark, "silver", "n", F.col("v") < 0,
        partition_col="p", mode="merge_on_read",
    )
    assert sorted(
        r["id"] for r in lake.read(spark, "silver", "n").collect()
    ) == [1, 2, 4]
    # second DV stacks on the first
    lake.delete_where(
        spark, "silver", "n", F.col("id") == 1,
        partition_col="p", mode="merge_on_read",
    )
    assert sorted(
        r["id"] for r in lake.read(spark, "silver", "n").collect()
    ) == [2, 4]
    # no-match delete commits nothing
    versions = len(lake.snapshots("silver", "n"))
    lake.delete_where(
        spark, "silver", "n", F.col("id") == 999,
        partition_col="p", mode="merge_on_read",
    )
    assert len(lake.snapshots("silver", "n")) == versions


def test_dv_time_travel_cdc_and_compaction(spark, lake):
    _seed(spark, lake)  # v0
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 5,
        partition_col="p", mode="merge_on_read",
    )  # v1

    # time travel: v0 still shows the deleted rows
    assert lake.read_snapshot(spark, "silver", "t", 0).count() == 1000
    assert lake.read(spark, "silver", "t").count() == 995

    # CDC: the DV delete diffs as exactly its rows, change_type=delete
    changes = lake.read_changes(spark, "silver", "t", 0)
    rows = [(r["id"], r["_change_type"]) for r in changes.collect()]
    assert sorted(rows) == [(i, "delete") for i in range(5)]

    # compaction materializes the vectors and clears them
    lake.compact(spark, "silver", "t", partition_col="p", vacuum=False)
    assert lake.read(spark, "silver", "t").count() == 995
    assert lake._manifest("silver", "t")[2] == []  # no live DVs
    # and the compaction itself is row-neutral in CDC terms
    v = len(lake.snapshots("silver", "t")) - 1
    post = lake.read_changes(spark, "silver", "t", v - 1, v)
    assert post.count() == 0


def test_dv_read_where_still_prunes_and_filters(spark, lake):
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        lake.append(df, "silver", "s")
    lake.delete_where(
        spark, "silver", "s", F.col("id") == 2500,
        partition_col="id", mode="merge_on_read",
    )
    out = lake.read_where(spark, "silver", "s", [("id", ">=", 2400)])
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [i for i in range(2400, 3000) if i != 2500]
    # stats pruning still drops the two low dirs (DV dir is no data dir)
    data_files = [f for f in out.inputFiles() if "/_data/" in f]
    assert all("v0-" not in f and "v1-" not in f for f in data_files) or \
        len({f.rsplit("/_data/", 1)[1].split("/")[0] for f in data_files}) <= 2


def test_dv_survives_vacuum_and_checkpoint(spark, lake):
    """Later commits and a vacuum to the head keep the vector live:
    its dir stays reachable, and reads still drop its rows."""
    _seed(spark, lake)
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 10,
        partition_col="p", mode="merge_on_read",
    )
    for i in range(4):
        lake.append(
            spark.range(5000 + i, 5001 + i).select(
                F.col("id"),
                F.lit("z").alias("p"),
                (F.col("id") * 2).alias("v"),
            ),
            "silver",
            "t",
        )
    keep = len(lake.snapshots("silver", "t")) - 1
    lake.vacuum("silver", "t", keep_version=keep, grace_seconds=0.0)
    assert lake.describe_detail("silver", "t")["num_deletion_vectors"] == 1
    assert lake.fsck("silver", "t")["ok"]
    ids = sorted(r["id"] for r in lake.read(spark, "silver", "t").collect())
    assert ids == list(range(10, 1000)) + list(range(5000, 5004))


def test_mor_merge_matches_cow_merge(spark, lake, tmp_path):
    """merge_into(mode=merge_on_read) produces exactly the rows the
    copy-on-write merge produces — updates replace, inserts append —
    in one atomic commit, and a row may move partitions."""
    seed_rows = [(i, str(i % 3), float(i)) for i in range(60)]
    updates_rows = (
        [(5, "moved", -5.0)]          # update that MOVES partitions
        + [(7, str(7 % 3), -7.0)]     # in-place update
        + [(100, "x", 100.0)]         # brand-new insert
    )
    schema_str = "id long, p string, v double"

    cow = Lakehouse(str(tmp_path / "cowlake"))
    cow.create_schemas("silver")
    for lk, nm, mode in ((lake, "mor", "merge_on_read"),):
        lk.overwrite_partitions(
            spark.createDataFrame(seed_rows, schema_str),
            "silver", nm, partition_col="p",
        )
        lk.merge_into(
            spark, "silver", nm,
            spark.createDataFrame(updates_rows, schema_str),
            key="id", partition_col="p", mode=mode,
        )
    # CoW reference (cannot move partitions → delete the mover first)
    cow.overwrite_partitions(
        spark.createDataFrame(seed_rows, schema_str),
        "silver", "ref", partition_col="p",
    )
    cow.delete_where(
        spark, "silver", "ref", F.col("id") == 5, partition_col="p"
    )
    cow.merge_into(
        spark, "silver", "ref",
        spark.createDataFrame(updates_rows, schema_str),
        key="id", partition_col="p",
    )

    got = sorted(
        (r["id"], r["p"], r["v"])
        for r in lake.read(spark, "silver", "mor").collect()
    )
    expect = sorted(
        (r["id"], r["p"], r["v"])
        for r in cow.read(spark, "silver", "ref").collect()
    )
    assert got == expect
    assert lake.snapshots("silver", "mor")[-1]["operation"] == "update_mor"
    # one commit, not two
    assert len(lake.snapshots("silver", "mor")) == 2

    # CDC across the MoR merge: updates as delete+insert pairs,
    # insert-only rows as bare inserts
    changes = lake.read_changes(spark, "silver", "mor", 0)
    by_type = {}
    for r in changes.collect():
        by_type.setdefault(r["_change_type"], []).append(
            (r["id"], r["p"], r["v"])
        )
    assert sorted(by_type["delete"]) == [(5, "2", 5.0), (7, "1", 7.0)]
    assert sorted(by_type["insert"]) == [
        (5, "moved", -5.0), (7, "1", -7.0), (100, "x", 100.0),
    ]

    # compaction materializes: same rows, vectors gone
    lake.compact(spark, "silver", "mor", partition_col="p", vacuum=False)
    assert sorted(
        (r["id"], r["p"], r["v"])
        for r in lake.read(spark, "silver", "mor").collect()
    ) == expect
    assert lake._manifest("silver", "mor")[2] == []


def test_mor_merge_of_pure_inserts_commits_no_vector(spark, lake):
    """A merge-on-read MERGE whose keys match no live row is a pure
    insert: it commits the rows on one `update_mor` line without a
    deletion vector, so later reads pay no vector anti-join."""
    _seed(spark, lake)
    inserts = spark.range(5000, 5010).select(
        F.col("id"), F.lit("new").alias("p"), (F.col("id") * 2).alias("v")
    )
    lake.merge_into(
        spark, "silver", "t", inserts, key="id", mode="merge_on_read"
    )
    entry = lake.snapshots("silver", "t")[-1]
    assert entry["operation"] == "update_mor"
    assert "dv_dir" not in entry
    assert lake.describe_detail("silver", "t")["num_deletion_vectors"] == 0
    df = lake.read(spark, "silver", "t")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan
    assert df.count() == 1010
    assert sorted(
        r["id"] for r in df.filter(F.col("p") == "new").collect()
    ) == list(range(5000, 5010))


def test_dv_survives_table_relocation(spark, tmp_path):
    """Vectors store table-RELATIVE file paths: moving the whole lake
    tree (storage migration) must not resurrect deleted rows."""
    import shutil

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    _seed(spark, lake)
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 100,
        partition_col="p", mode="merge_on_read",
    )
    assert lake.read(spark, "silver", "t").count() == 900

    shutil.move(str(tmp_path / "lake"), str(tmp_path / "relocated"))
    moved = Lakehouse(str(tmp_path / "relocated"))
    assert moved.read(spark, "silver", "t").count() == 900
    assert sorted(
        r["id"] for r in moved.read(spark, "silver", "t").collect()
    ) == list(range(100, 1000))


def test_delete_where_predicates_prunes_and_matches_condition(
    spark, lake
):
    """The r10 pruned DV path: delete_where(predicates=…) derives its
    condition from the triples, routes the positional scan through
    read_where (stats/bloom pruning), and leaves the table equal to
    the classic condition path — here proven by deleting the same id
    stratum both ways on twin tables."""
    _seed(spark, lake, "a")
    _seed(spark, lake, "b")
    lake.add_bloom_index("silver", "a", "id")  # not back-indexed; the
    # stats (min/max) layer still prunes the seed files
    lake.delete_where(
        spark, "silver", "a",
        predicates=[("id", "in", [5, 17, 999])],
        mode="merge_on_read",
    )
    lake.delete_where(
        spark, "silver", "b",
        F.col("id").isin([5, 17, 999]),
        mode="merge_on_read",
    )
    rows_a = sorted(tuple(r) for r in lake.read(spark, "silver", "a").collect())
    rows_b = sorted(tuple(r) for r in lake.read(spark, "silver", "b").collect())
    assert rows_a == rows_b
    assert len(rows_a) == 997


def test_delete_where_requires_exactly_one_selector(spark, lake):
    _seed(spark, lake)
    with pytest.raises(ValueError, match="exactly one"):
        lake.delete_where(spark, "silver", "t")
    with pytest.raises(ValueError, match="exactly one"):
        lake.delete_where(
            spark, "silver", "t",
            F.col("id") == 1, predicates=[("id", "=", 1)],
        )


def test_read_where_with_positions_matches_read(spark, lake):
    """read_where(with_positions=True) returns the same (row, file,
    pos) triples as the unpruned positional read filtered to the same
    predicate — on a table carrying a live DV, so position exclusion
    composes with pruning."""
    _seed(spark, lake)
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 10, mode="merge_on_read",
    )
    pruned = lake.read_where(
        spark, "silver", "t", [("id", "<", 50)], with_positions=True
    )
    full = (
        lake.read(spark, "silver", "t", with_positions=True)
        .filter(F.col("id") < 50)
    )
    key = lambda r: (r["id"], r["__dv_file"], r["__dv_pos"])  # noqa: E731
    assert sorted(map(key, pruned.collect())) == sorted(
        map(key, full.collect())
    )
    assert pruned.filter(F.col("id") < 10).count() == 0  # DVs applied


def test_mor_dml_matching_nothing_commits_and_stages_nothing(spark, lake):
    """A merge-on-read DELETE or UPDATE that names no row commits
    nothing and leaves no staged dir under `_data/`: the vector is
    written, its footer row count is 0, and the dir is removed."""
    import os

    _seed(spark, lake)
    data = os.path.join(lake._table_dir("silver", "t"), "_data")
    staged = sorted(os.listdir(data))
    assert not lake.delete_where(
        spark, "silver", "t", F.col("id") < 0,
        partition_col="p", mode="merge_on_read",
    )
    assert not lake.update_where(
        spark, "silver", "t", F.col("id") < 0, {"v": F.lit(0)},
        partition_col="p", mode="merge_on_read",
    )
    assert len(lake.snapshots("silver", "t")) == 1
    assert sorted(os.listdir(data)) == staged
    assert lake.read(spark, "silver", "t").count() == 1000
