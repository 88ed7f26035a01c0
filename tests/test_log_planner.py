"""Reads plan from the commit log, never from the filesystem.

Every commit entry that adds files lists them (path, rows, bytes,
footer stats) with the dir's Spark read schema; `Lakehouse._plan`
turns those lists into the scan.  Under test: no read-side directory
listing under `<table>/_data`, a logged schema equal to the schema
Spark infers for every write op, no Spark job on the first read of a
fresh commit dir, one log parse per vacuum whatever the history
length, one journal parse per read, a restore-aware replay that visits
each log entry once however restores chain, and one fold of the log
per read — the log is the only record of table state (a `_checkpoints/`
dir is neither written nor read).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from urban_mobility_data_lakehouse_spark.sources import lakehouse as lakehouse_mod
from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse


@pytest.fixture()
def lake(tmp_path):
    lk = Lakehouse(str(tmp_path / "lake"))
    lk.create_schemas("silver")
    return lk


def _rows(spark, lo, n, day="2024-03-01"):
    """Typed rows: int id, string, timestamps with and without zone,
    decimal, and a date key spread over three days."""
    return spark.range(lo, lo + n).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("s"),
        F.lit("2024-03-01 10:00:00").cast("timestamp").alias("ts"),
        F.lit("2024-03-01 10:00:00").cast("timestamp_ntz").alias("tn"),
        (F.col("id") / 7).cast("decimal(25,6)").alias("amt"),
        F.date_add(F.lit(day).cast("date"), (F.col("id") % 3).cast("int"))
        .alias("d"),
    )


def _assert_logged_schema(spark, lake, name):
    e = lake.snapshots("silver", name)[-1]
    d = os.path.join(lake._table_dir("silver", name), e["data_dir"])
    inferred = spark.read.option("basePath", d).parquet(d).schema
    assert StructType.fromJson(e["schema"]) == inferred, e["operation"]


def test_logged_schema_matches_inference_for_every_write_op(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "d")
    _assert_logged_schema(spark, lake, "t")
    lake.append(_rows(spark, 100, 6), "silver", "t")
    _assert_logged_schema(spark, lake, "t")
    lake.merge_into(
        spark, "silver", "t", _rows(spark, 3, 2), "id", partition_col="d"
    )
    assert lake.snapshots("silver", "t")[-1]["operation"] == (
        "overwrite_partitions"
    )
    _assert_logged_schema(spark, lake, "t")
    lake.merge_into(
        spark, "silver", "t", _rows(spark, 4, 2), "id",
        mode="merge_on_read",
    )
    assert lake.snapshots("silver", "t")[-1]["operation"] == "update_mor"
    _assert_logged_schema(spark, lake, "t")
    assert lake.delete_where(
        spark, "silver", "t", F.col("id") == 7, partition_col="d"
    )
    _assert_logged_schema(spark, lake, "t")
    assert lake.delete_where(
        spark, "silver", "t", F.col("id") == 8, mode="merge_on_read"
    )
    assert lake.snapshots("silver", "t")[-1]["operation"] == "delete_dv"
    _assert_logged_schema(spark, lake, "t")
    assert lake.update_where(
        spark, "silver", "t", F.col("id") == 9, {"s": F.lit("upd")},
        partition_col="d",
    )
    _assert_logged_schema(spark, lake, "t")
    lake.compact(spark, "silver", "t", partition_col="d", vacuum=False)
    assert lake.snapshots("silver", "t")[-1]["operation"] == (
        "compact_partitioned"
    )
    _assert_logged_schema(spark, lake, "t")

    # full writes, with nested types (nullability is made uniform all
    # the way down, as Spark's read path does)
    nested = _rows(spark, 0, 5).withColumns({
        "arr": F.array(F.col("id"), F.lit(None).cast("int")),
        "st": F.struct(F.col("s").alias("a"), F.col("id").alias("b")),
        "mp": F.create_map(F.col("s"), F.col("amt")),
    })
    lake.overwrite(nested, "silver", "u")
    _assert_logged_schema(spark, lake, "u")
    lake.compact(spark, "silver", "u", vacuum=False)
    assert lake.snapshots("silver", "u")[-1]["operation"] == "compact"
    _assert_logged_schema(spark, lake, "u")

    lake.set_partition_spec("silver", "h", "days(ts)")
    lake.append(_rows(spark, 0, 5), "silver", "h")
    _assert_logged_schema(spark, lake, "h")

    with lake.transaction() as txn:
        txn.overwrite_partitions(_rows(spark, 50, 4), "silver", "x", "d")
        txn.append(_rows(spark, 60, 4), "silver", "y")
    _assert_logged_schema(spark, lake, "x")
    _assert_logged_schema(spark, lake, "y")


def test_read_paths_never_list_the_data_dirs(spark, lake, monkeypatch):
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "d")
    lake.overwrite_partitions(
        _rows(spark, 100, 3, day="2024-03-02"), "silver", "t", "d"
    )
    lake.append(_rows(spark, 200, 4), "silver", "t")
    lake.set_partition_spec("silver", "h", "days(ts)")
    lake.append(_rows(spark, 0, 5), "silver", "h")
    lake.append(
        _rows(spark, 10, 5).withColumn(
            "ts", F.lit("2024-03-05 10:00:00").cast("timestamp")
        ),
        "silver", "h",
    )
    data = os.path.join(lake.root, "silver")
    seen: list[str] = []

    def spy(real):
        def wrapped(p=".", *a, **k):
            if "_data" in os.fspath(p) and os.fspath(p).startswith(data):
                seen.append(f"{real.__name__} {p}")
            return real(p, *a, **k)

        return wrapped

    for fn in ("walk", "listdir", "scandir"):
        monkeypatch.setattr(os, fn, spy(getattr(os, fn)))

    # live: 03-01 from the first overwrite (10 rows), 03-02..03-04
    # from the second (1 row each), and the 4 appended rows
    assert lake.read(spark, "silver", "t").count() == 17
    assert lake.read(
        spark, "silver", "t", partition_values=["2024-03-02"]
    ).count() == 2  # id 102, and appended id 202
    pruned = lake.read_where(
        spark, "silver", "h",
        [("ts", ">=", dt.datetime(2024, 3, 4))],
    )
    assert pruned.count() == 5
    assert len(pruned.inputFiles()) == 1  # the other day is pruned
    assert lake.read_changes(spark, "silver", "t", 0).count() > 0
    detail = lake.describe_detail("silver", "t")
    assert detail["num_rows"] == 17
    assert detail["size_bytes"] > 0
    assert lake.recommend_compaction("silver", "t")["unpartitioned_dirs"] == 1
    lake.compact(spark, "silver", "t", partition_col="d", vacuum=False)
    seen.clear()  # compact's own write path may list what it wrote
    assert len(lake.export_manifest("silver", "t", write=False)["files"]) == 4
    assert seen == []


def test_first_read_of_fresh_commit_dir_runs_no_job(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "d")
    lake.append(_rows(spark, 100, 6), "silver", "t")
    assert lake.delete_where(
        spark, "silver", "t", F.col("id") == 8, mode="merge_on_read"
    )
    sc = spark.sparkContext
    group = "log-planner-fresh-read"
    sc.setJobGroup(group, group)
    try:
        frames = [
            lake.read(spark, "silver", "t"),
            lake.read(spark, "silver", "t", partition_values=["2024-03-02"]),
            lake.read_where(spark, "silver", "t", [("id", "<", 5)]),
        ]
        cols = [f.columns for f in frames]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all("amt" in c for c in cols)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert frames[0].count() == 35


def test_vacuum_parses_the_log_once(spark, lake, monkeypatch):
    lake.append(_rows(spark, 0, 3), "silver", "t")
    calls = []
    real = Lakehouse._raw_snapshots

    def counting(self, *a):
        calls.append(a)
        return real(self, *a)

    monkeypatch.setattr(Lakehouse, "_raw_snapshots", counting)

    def vacuum_calls(n_commits):
        while len(lake.snapshots("silver", "t")) < n_commits:
            lake.restore("silver", "t", 0)  # a metadata-only commit
        calls.clear()
        lake.vacuum("silver", "t", keep_version=0, dry_run=True)
        return len(calls)

    short, long = vacuum_calls(10), vacuum_calls(40)
    assert short == long <= 2
    calls.clear()
    assert lake.fsck("silver", "t")["ok"]
    assert len(calls) <= 4


def _synthetic_log(n: int) -> list[dict]:
    """`n` log entries of mixed ops, with every 10th a restore to one
    of the last few versions, so each restore's history holds the one
    before it (no Spark, no data files)."""
    rng = random.Random(7)
    entries = []
    for v in range(n):
        if v % 10 == 9:
            back = 1 + rng.randrange(3)
            e = {"operation": "restore", "of_version": v - back}
        else:
            d, c = f"_data/c{v:04d}", f"c{rng.randrange(3)}"
            e = rng.choice([
                {"operation": "overwrite", "data_dir": d},
                {"operation": "overwrite_partitions", "data_dir": d,
                 "partition_col": "p",
                 "partitions": [f"p{rng.randrange(5)}"]},
                {"operation": "append", "data_dir": d},
                {"operation": "delete_dv", "data_dir": d},
                {"operation": "update_mor", "data_dir": d,
                 "dv_dir": f"_data/dv{v:04d}"},
                {"operation": "rename_column", "old": c, "new": f"r{v}"},
                {"operation": "drop_column", "column": c},
                {"operation": "add_column", "column": f"a{v}",
                 "dtype": "int", "default": v},
                {"operation": "widen_column", "column": c,
                 "to_type": "bigint"},
            ])
        entries.append({"version": v, **e})
    return entries


def _effective(entries: list[dict]) -> list[list[dict]]:
    """Per version, the restore-free entry list whose plain replay is
    the table's state at that version: a restore's is its target's."""
    out: list[list[dict]] = []
    for e in entries:
        if e["operation"] == "restore":
            out.append(out[e["of_version"]])
        else:
            out.append((out[-1] if out else []) + [e])
    return out


class _Counted(dict):
    """A log entry that counts how often a replay reads its op."""

    reads = 0

    def __getitem__(self, key):
        if key == "operation":
            _Counted.reads += 1
        return super().__getitem__(key)


def test_chained_restores_replay_each_entry_once(lake):
    n = 180
    entries = _synthetic_log(n)
    path = lake._table_dir("silver", "t")
    os.makedirs(path)
    with open(os.path.join(path, "_snapshots.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in entries)
    effective = _effective(entries)
    for v in list(range(n)) + [None]:
        eff = effective[-1 if v is None else v]
        # the whole state: manifest, column mapping, widenings, adds
        assert lake._state("silver", "t", v) == lake._state(
            "silver", "t", entries=eff
        ), f"state diverges at version {v}"

    def visits(k: int) -> int:
        _Counted.reads = 0
        lakehouse_mod._fold_log([_Counted(e) for e in entries[:k]], path)
        return _Counted.reads

    # each entry's op is read at most three times (the restore-target
    # scan, the walk and the step); replaying every restore's history
    # again from version 0 reads the 180 entries' ops millions of times
    half, full = visits(n // 2), visits(n)
    assert half <= 3 * (n // 2) and full <= 3 * n
    assert full <= 2.2 * half


def test_read_parses_the_journal_once(spark, lake, monkeypatch):
    for i in range(5):
        with lake.transaction() as txn:
            txn.append(_rows(spark, 10 * i, 4), "silver", "t")
    counts = {"_journal_entries": 0, "_raw_snapshots": 0}
    for fn in counts:
        real = getattr(Lakehouse, fn)

        def counting(self, *a, _fn=fn, _real=real):
            counts[_fn] += 1
            return _real(self, *a)

        monkeypatch.setattr(Lakehouse, fn, counting)
    df = lake.read(spark, "silver", "t")
    assert df.columns == ["id", "s", "ts", "tn", "amt", "d"]
    assert counts["_journal_entries"] <= 1
    assert counts["_raw_snapshots"] <= 2
    assert df.count() == 20


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )


def test_history_with_restore_reads_from_the_log(spark, lake):
    """12 commits of mixed shape, with a restore in the middle: the
    latest read, time travel and a pruned read all replay the log."""
    for i in range(5):
        lake.append(_mk(spark, i * 10, i * 10 + 10), "silver", "t")  # v0..v4
    lake.overwrite_partitions(
        _mk(spark, 100, 120), "silver", "t", partition_col="p"
    )  # v5
    lake.restore("silver", "t", version=2)  # v6
    for i in range(5, 10):
        lake.append(_mk(spark, i * 10, i * 10 + 10), "silver", "t")  # v7..v11
    assert len(lake.snapshots("silver", "t")) == 12
    # v5's partition overwrite was rolled back at v6, then 5 appends
    ids = sorted(r["id"] for r in lake.read(spark, "silver", "t").collect())
    assert ids == sorted(list(range(0, 30)) + list(range(50, 100)))
    old = lake.read_snapshot(spark, "silver", "t", 1).collect()
    assert sorted(r["id"] for r in old) == list(range(0, 20))
    hit = lake.read_where(spark, "silver", "t", [("id", ">=", 90)])
    assert sorted(r["id"] for r in hit.collect()) == list(range(90, 100))
    assert len(hit.inputFiles()) < len(
        lake.read(spark, "silver", "t").inputFiles()
    )


def test_stale_checkpoint_file_changes_no_read(spark, lake):
    """A `_checkpoints/` snapshot an older writer left behind — here one
    that disagrees with the log — is never read."""
    for i in range(6):
        lake.append(_mk(spark, i * 10, i * 10 + 1), "silver", "t")

    def observed():
        return (
            sorted(r["id"] for r in lake.read(spark, "silver", "t").collect()),
            lake._manifest("silver", "t"),
            lake.describe_detail("silver", "t"),
        )

    before = observed()
    assert len(before[1][1]) == 6 and before[2]["num_rows"] == 6
    cp = os.path.join(lake._table_dir("silver", "t"), "_checkpoints")
    os.makedirs(cp)
    with open(os.path.join(cp, "v00000003.json"), "w") as f:
        json.dump({"version": 3, "part_map": {}, "extra": {}, "dvs": []}, f)
    assert observed() == before


def test_commits_write_no_checkpoints(lake):
    row_schema = StructType([StructField("id", LongType())])
    for i in range(40):
        lake.append_rows([(i,)], row_schema, "silver", "q")
    assert len(lake.snapshots("silver", "q")) == 40
    assert not os.path.exists(
        os.path.join(lake._table_dir("silver", "q"), "_checkpoints")
    )


def test_read_and_read_where_fold_the_log_once(spark, lake, monkeypatch):
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "d")
    lake.append(_rows(spark, 100, 6), "silver", "t")
    lake.rename_column(spark, "silver", "t", "s", "s2")
    lake.add_column(spark, "silver", "t", "extra", "int", default=3)
    folds = []
    real = lakehouse_mod._fold_log

    def counting(*a, **k):
        folds.append(a)
        return real(*a, **k)

    monkeypatch.setattr(lakehouse_mod, "_fold_log", counting)
    df = lake.read(spark, "silver", "t")
    assert len(folds) == 1
    assert "s2" in df.columns and "extra" in df.columns
    folds.clear()
    hit = lake.read_where(spark, "silver", "t", [("id", "<", 5)])
    assert len(folds) == 1
    assert sorted(r["id"] for r in hit.collect()) == list(range(5))
